"""Tests for the benchmark itself (no Spark session is started).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import corpus  # noqa: E402
import harness  # noqa: E402
import layers  # noqa: E402


# --- seeded inputs ---------------------------------------------------------

def test_same_seed_same_inputs_other_seed_other_inputs():
    terms = [f"t{i}" for i in range(500)]
    assert corpus.doc_base(7) == corpus.doc_base(7)
    assert corpus.doc_base(7) != corpus.doc_base(8)
    assert corpus.make_docs(corpus.doc_base(7), 5) == \
        corpus.make_docs(corpus.doc_base(7), 5)
    assert corpus.make_docs(corpus.doc_base(7), 5) != \
        corpus.make_docs(corpus.doc_base(8), 5)
    assert corpus.zipf_queries(terms, 50, 7) == corpus.zipf_queries(terms, 50, 7)
    assert corpus.zipf_queries(terms, 50, 7) != corpus.zipf_queries(terms, 50, 8)
    assert corpus.class_queries(terms, 3, 7) == corpus.class_queries(terms, 3, 7)
    assert corpus.class_queries(terms, 3, 7) != corpus.class_queries(terms, 3, 8)


def test_seed_windows_hold_a_run_and_never_share_a_doc_generator():
    assert corpus.doc_base(1) - corpus.doc_base(0) == corpus.WINDOW
    # a window holds the largest corpus, the probe corpus and its batch
    from workloads import (CORPUS, PROBE_FILE_DOCS, PROBE_FILES,
                           PROBE_OFFSET)

    assert max(sum(v) for v in CORPUS.values()) < PROBE_OFFSET
    assert PROBE_OFFSET + (PROBE_FILES + 1) * PROBE_FILE_DOCS \
        <= corpus.WINDOW
    # make_doc seeds by doc id modulo 2^31 - 1: every window stays below it
    last = corpus.doc_base(corpus.N_WINDOWS - 1) + corpus.WINDOW - 1
    assert last < 2 ** 31 - 1
    # seeds far apart give different texts, not shifted copies
    for a, b in ((0, corpus.N_WINDOWS - 1), (5, 2048 + 5), (1, 4096 + 1)):
        da = [t for _, t in corpus.make_docs(corpus.doc_base(a), 8)]
        db = [t for _, t in corpus.make_docs(corpus.doc_base(b), 8)]
        assert not set(da) & set(db)


def test_zipf_queries_shape():
    terms = [f"t{i}" for i in range(50)]
    qs = corpus.zipf_queries(terms, 2000, 1)
    assert all(1 <= len(t) <= 3 and len(set(t)) == len(t) for t, _ in qs)
    assert all(m == "OR" for t, m in qs if len(t) == 1)
    assert {m for _, m in qs} == {"OR", "AND"}
    # Zipf by rank, truncated to the dictionary: frequency falls with rank
    counts = {t: 0 for t in terms}
    for t, _ in qs:
        for x in t:
            counts[x] += 1
    assert counts["t0"] > counts["t5"] > counts["t49"]


# --- percentiles -----------------------------------------------------------

def test_p99_needs_ten_samples_beyond():
    vals = [float(v) for v in range(1, 1001)]
    assert harness.tail_percentile(vals) == 990.0
    assert sum(v > 990.0 for v in vals) == harness.TAIL_MIN_BEYOND
    with pytest.raises(ValueError):
        harness.tail_percentile(vals[:999])


def test_percentile_nearest_rank_and_failures_count_as_over():
    vals = list(range(1, 101))
    assert harness.percentile(vals, 50) == 50
    assert harness.percentile(vals, 99) == 99
    assert harness.percentile(vals + [math.inf] * 2, 99) == math.inf
    assert harness.median([3, 1, 2, 10]) == 2.5


# --- load generators -------------------------------------------------------

def test_open_loop_times_from_due_time_and_reports_lateness():
    def call(item):
        if item == 0:
            time.sleep(0.2)  # a stall: later operations queue behind it
        return item

    recs = harness.open_loop(call, list(range(30)), rate=100.0,
                             until=lambda i: i >= 30, keep=lambda i: True)
    assert [r.i for r in recs] == list(range(30))
    assert all(r.ok and r.result == r.i for r in recs)
    for r in recs:
        assert r.latency == pytest.approx(r.end - r.due)
        assert r.sent >= r.due
    # op 1 was due 10 ms after op 0 but could start only after the stall;
    # it queued, so the generator itself was not late for it
    assert recs[1].start >= recs[0].end
    assert recs[1].latency >= 0.15
    assert recs[1].sent == recs[1].due
    # the queue drained by op 29 (due at 290 ms): it waited only for the
    # timer, and that lateness is what the summary reports
    assert recs[-1].latency < 0.05
    assert 0 <= recs[-1].sent - recs[-1].due < 0.05
    with pytest.raises(ValueError):  # too few samples for a p99
        harness.latency_summary(recs)


def test_failed_operations_are_counted_not_retried():
    def call(item):
        if item % 2:
            raise OSError("segment gone")
        return item

    recs = harness.open_loop(call, list(range(1000)), rate=20000.0,
                             until=lambda i: i >= 1000)
    s = harness.latency_summary(recs)
    assert s["n"] == 1000 and s["failed"] == 500
    assert s["p99_ms"] == math.inf and s["late_max_ms"] >= 0.0
    assert all(r.latency == math.inf for r in recs if not r.ok)
    assert all("segment gone" in r.info for r in recs if not r.ok)


def test_closed_loop_runs_for_its_duration():
    recs, elapsed = harness.closed_loop(lambda x: x, list(range(5)), 2, 0.2)
    assert elapsed >= 0.2 and len(recs) > 10 and all(r.ok for r in recs)


def test_loops_continue_from_first():
    # serve_zipf alternates short open and closed loops; each round goes on
    # with the stream where the previous one stopped
    recs = harness.open_loop(lambda x: x, list(range(10)), rate=1000.0,
                             until=lambda i: i >= 8, keep=lambda i: True,
                             first=5)
    assert [(r.i, r.result) for r in recs] == [(5, 5), (6, 6), (7, 7)]
    assert recs[1].due - recs[0].due == pytest.approx(0.001)
    recs, _ = harness.closed_loop(lambda x: x, list(range(10)), 1, 0.05,
                                  first=7)
    assert recs[0].i == 7


# --- spans -----------------------------------------------------------------

def test_self_time_subtracts_merged_children(tmp_path):
    spans = [
        {"id": 0, "name": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "b", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "name": "c", "parent": 1, "start": 2.0, "end": 3.0},
    ]
    own = harness.self_times(spans)
    assert own == {0: pytest.approx(6.0), 1: pytest.approx(2.0),
                   2: pytest.approx(2.0), 3: pytest.approx(1.0)}

    t = harness.Tracer(True, "r1")
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [s["parent"] for s in t.spans] == [None, 0]
    t.dump(str(tmp_path / "spans.jsonl"))
    rows = [json.loads(x) for x in open(tmp_path / "spans.jsonl")]
    assert [r["run"] for r in rows] == ["r1", "r1"]
    assert all(r["self_s"] >= 0 for r in rows)

    off = harness.Tracer(False, "r2")
    with off.span("outer"):
        pass
    assert off.spans == []


# --- event log -------------------------------------------------------------

def test_event_log_parser_on_captured_log():
    stats = harness.parse_event_log(
        os.path.join(HERE, "data", "eventlog_tiny.jsonl"))
    demo = stats["demo.layer"]
    assert demo["jobs"] == 2 and demo["tasks"] == 3
    assert demo["run_s"] == pytest.approx((430 + 430 + 101) / 1e3)
    assert demo["shuffle_write_bytes"] == 59 + 59 + 0
    assert demo["spill_bytes"] == 0
    assert stats[""]["jobs"] == 2 and stats[""]["tasks"] == 3
    m = layers.spark_layer("demo", [demo], wall_s=1.0, cores=4)
    assert m["demo.slot_busy_frac"] == pytest.approx(0.961 / 4)


# --- references ------------------------------------------------------------

def test_bm25_reference_by_hand():
    docs = [(1, "apple pie"), (2, "apple apple tart"), (3, "the of and")]
    ref = layers.Bm25Reference(layers.doc_terms(docs, {"apple", "tart"}))
    assert ref.n == 2 and ref.avgdl == 2.5  # doc 3 analyzes to nothing

    def score(tf, dl, df):
        idf = math.log(1 + (2 - df + 0.5) / (df + 0.5))
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 2.5))

    got = ref.topk((["apple", "tart"], "OR"))
    assert [d for d, _ in got] == [2, 1]
    assert got[0][1] == pytest.approx(score(2, 3, 2) + score(1, 3, 1))
    assert ref.topk((["apple", "tart"], "AND")) == [(2, got[0][1])]
    assert ref.topk((["apple", "absent"], "AND")) == []


def test_same_topk_allows_reordered_ties_only():
    a = [(5, 1.25), (3, 1.25), (9, 0.5)]
    assert layers.same_topk(a, [(3, 1.250000001), (5, 1.25), (9, 0.5)])
    assert not layers.same_topk(a, [(3, 1.25), (5, 1.25), (8, 0.5)])
    assert not layers.same_topk(a, a[:2])


def test_exact_jaccard_reference():
    words = [f"w{i}" for i in range(100)]
    docs = [(10, " ".join(words)), (11, " ".join(reversed(words))),
            (12, "short doc")]
    twins = layers.planted_twins(docs)
    assert [d for d, _ in twins] == [10, 11, 12, 1_000_010]
    assert twins[-1][1] == " ".join(words[:80])
    pairs = layers.exact_jaccard_pairs(twins)
    assert [(a, b) for a, b, _ in pairs] == [(10, 1_000_010)]
    assert pairs[0][2] == pytest.approx(78 / 98)


# --- the contract ----------------------------------------------------------

def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", m["name"])
        assert len(m["unit"]) <= 16 and all(
            c.isalnum() or c in "_/%.-" for c in m["unit"]), m["unit"]
    assert {"setup_s"} <= {m["name"] for m in spec["end_to_end"]}
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_without_the_program_it_exits_nonzero_and_prints_nothing(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload",
         _spec()["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""
    assert "missing" in p.stderr
