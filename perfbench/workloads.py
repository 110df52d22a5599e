"""The workloads. Each one sets up its inputs, marks the start of its
timed part, measures for about `seconds`, checks the program's outputs
and returns its end-to-end metrics. In a traced run it also records the
per-layer metrics of the layers it exercises; `probe_layers` then
measures the remaining layers on a small probe index, so every traced
run reports every per-layer metric.

See README.md for why each workload exists and how it is sized.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

import corpus
import layers
from harness import (RssSampler, Tracer, clock, closed_loop,
                     latency_summary, median, open_loop)

# Corpus per workload: parquet files of consecutive doc ids (sizes). A
# build's fixed cost (job scheduling, worker start, commit) is ~1.7 s on a
# 4-core host; at 128k docs the per-document work is over half a build.
CORPUS = {
    "bulk_build": [8000] * 16,
    "serve_zipf": [8000] * 8,
}

# serve_zipf: an open loop of OPEN_QUERIES Zipf queries at the fixed rate
# SERVE_RATE (about a third of the single-client capacity on a 4-core
# host, fixed so later changes are compared at the same load), for the
# latency figures, and a closed loop of one client for the rest of
# `seconds`, but at least CLOSED_MIN_S, whose completed queries per second
# are the throughput. The two alternate in SERVE_ROUNDS rounds, so both
# figures sample the whole timed part: the speed of a core of the shared
# host drifts by a fifth from one few-second window to the next. Both run
# on one client thread: scoring holds the GIL, and with one thread per
# core the threads convoy (capacity fell to a third of one thread's and open-loop
# p50 swung by orders of magnitude between repeats on a 4-core host).
SERVE_RATE = 60.0
CLOSED_MIN_S = 5.0
SERVE_ROUNDS = 4
SERVE_CHECKED = 60

# corpus docs kept for the in-process analysis timing
SAMPLE = 2000

# dedup probe: the pairs among the first DUP_SLICE docs and their twins
# are checked against an exhaustive exact-Jaccard reference.
DUP_SLICE = 400

# The open loops need at least this many queries for a p99 with ten
# samples beyond it.
OPEN_QUERIES = 1000
STREAM_LEN = 6000

# probe index for layers a workload does not exercise (traced runs only)
PROBE_OFFSET, PROBE_FILES, PROBE_FILE_DOCS = 500_000, 10, 200


class Run:
    """State of one benchmark run: inputs, counters, check failures and
    the per-layer metrics collected so far."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str, cores: int):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.work, self.cores = trace, work, cores
        self.tracer = Tracer(trace, f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        self.layer: dict[str, float] = {}
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.t_timed: float | None = None
        self.rss = RssSampler()  # started by run.py
        self.peak_rss: int | None = None
        # the generated corpus: its size, its UTF-8 text bytes and its first
        # SAMPLE docs (the benchmark keeps no more of it in its heap)
        self.n_docs = self.text_bytes = 0
        self.sample: list[tuple[int, str]] = []
        self.index: str | None = None  # the index built from the corpus

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def prepare(self) -> None:
        """Generate the workload's corpus (no Spark needed, so it can
        overlap the session start)."""
        docs = corpus.write_corpus(
            self.path("corpus"), corpus.doc_base(self.seed),
            CORPUS[self.workload])
        self.n_docs = len(docs)
        self.text_bytes = sum(len(t.encode("utf-8")) for _, t in docs)
        self.sample = docs[:SAMPLE]

    def begin_timing(self) -> None:
        self.t_timed = clock()

    def end_timing(self) -> None:
        """The timed part is over: take the peak resident memory so far,
        before the output checks add the benchmark's own work."""
        self.peak_rss = self.rss.sample()

    def elapsed(self) -> float:
        return clock() - self.t_timed

    def query(self, store, q, k: int = 10):
        with self.tracer.span("search.wand"):
            return layers.query(store, q, k)

    def open_store(self, index_dir: str):
        with self.tracer.span("query_server.open_store"):
            return layers.open_store(index_dir)

    def check(self, ok: bool, msg: str) -> None:
        if not ok:
            self.errors.append(msg)

    @contextmanager
    def call(self, layer: str):
        """Span around one call into the program. In a traced run the
        Spark jobs the call starts carry `layer` as their description,
        which is how the event log is split by layer."""
        sc = self.spark.sparkContext if self.trace else None
        if sc is not None:
            sc.setJobDescription(layer)
        try:
            with self.tracer.span(layer):
                yield
        finally:
            if sc is not None:
                sc.setJobDescription(None)


def _build(run: Run, src: str, index_dir: str) -> None:
    from clucene_spark.index.segments import build_segments_direct

    with run.call("index.segments.build"):
        build_segments_direct(run.spark, src, index_dir)


def _analyzed(spark, src: str, terms=frozenset()):
    """layers.doc_terms of every corpus document, as a Spark job:
    doc_id, n (analyzed tokens) and the tf of each of `terms` it holds."""
    import pandas as pd

    def rows(batches):
        from layers import doc_terms

        for pdf in batches:
            out = doc_terms(zip(pdf["doc_id"], pdf["text"]), terms)
            yield pd.DataFrame({"doc_id": [r[0] for r in out],
                                "n": [r[1] for r in out],
                                "terms": [list(r[2]) for r in out],
                                "tfs": [list(r[2].values()) for r in out]})

    return spark.read.parquet(src).mapInPandas(
        rows, "doc_id long, n long, terms array<string>, tfs array<long>")


def _stream_layers(summary: dict, repeat_frac: float, scaling: float) -> dict:
    return {
        "search.wand.p99_ms": summary["p99_ms"],
        "search.wand.repeat_term_frac": repeat_frac,
        "search.wand.client_scaling": scaling,
        "bench.open_loop.late_max_ms": summary["late_max_ms"],
    }


# ---------------------------------------------------------------------------
# bulk_build
# ---------------------------------------------------------------------------

def bulk_build(run: Run) -> dict:
    src = run.path("corpus")
    _build(run, src, run.path("warm"))
    want = layers.index_digest(run.path("warm"))

    run.begin_timing()
    walls = []
    while run.elapsed() < run.seconds or run.attempted < 3:
        k = run.attempted
        idx = run.path(f"build{k}")
        run.attempted += 1
        t0 = clock()
        try:
            _build(run, src, idx)
        except Exception:
            run.failed += 1
            continue
        walls.append(clock() - t0)
        run.check(layers.index_digest(idx) == want,
                  f"build {k} wrote different index bytes")
        shutil.rmtree(idx)
    run.end_timing()

    idx = run.path("warm")
    segs = layers.live_segments(idx)
    # a document whose text analyzes to nothing gets no doc_lens row, so
    # the manifest's n_docs does not count it
    tot = _analyzed(run.spark, src).selectExpr(
        "count_if(n > 0) AS docs", "sum(n) AS toks").first()
    n_docs, n_tokens = int(tot["docs"]), int(tot["toks"])
    run.check(sum(s["n_docs"] for s in segs) == n_docs,
              "manifest n_docs differs from the corpus")
    run.check(sum(s["n_tokens"] for s in segs) == n_tokens,
              "manifest n_tokens differs from the analyzed corpus")
    run.index = idx
    build_s = median(walls)
    return {"throughput_per_s": run.n_docs / build_s,
            "latency_p50_ms": build_s * 1e3}


# ---------------------------------------------------------------------------
# serve_zipf
# ---------------------------------------------------------------------------

def serve_zipf(run: Run) -> dict:
    idx = run.path("index")
    _build(run, run.path("corpus"), idx)
    store = run.open_store(idx)
    dfs = layers.term_dfs(idx)
    qs = corpus.zipf_queries(layers.ranked(dfs), STREAM_LEN, run.seed)
    layers.warm(store, sorted({t for q in qs for t in q[0]}))
    checked = set(corpus.rng(run.seed, "checked").choice(
        OPEN_QUERIES, size=SERVE_CHECKED, replace=False).tolist())

    run.begin_timing()
    per_round = OPEN_QUERIES // SERVE_ROUNDS
    closed_s = max(run.seconds - OPEN_QUERIES / SERVE_RATE,
                   CLOSED_MIN_S) / SERVE_ROUNDS
    recs, done, wall = [], [], 0.0
    for k in range(SERVE_ROUNDS):
        end = (k + 1) * per_round
        recs += open_loop(
            lambda q: run.query(store, q), qs, SERVE_RATE,
            until=lambda i: i >= end, keep=lambda i: i in checked,
            first=k * per_round)
        got, w = closed_loop(lambda q: run.query(store, q),
                             qs[OPEN_QUERIES:], 1, closed_s, first=len(done))
        done += got
        wall += w
    summary = latency_summary(recs)
    run.attempted += len(recs)
    run.failed += summary["failed"]
    served = sum(1 for r in done if r.ok)
    run.attempted += len(done)
    run.failed += len(done) - served
    run.end_timing()

    kept = [r for r in recs if r.i in checked and r.ok]
    pdf = _analyzed(run.spark, run.path("corpus"),
                    {t for r in kept for t in qs[r.i][0]}).toPandas()
    ref = layers.Bm25Reference(
        (d, n, dict(zip(ts, tfs)))
        for d, n, ts, tfs in zip(pdf["doc_id"], pdf["n"], pdf["terms"],
                                 pdf["tfs"]))
    for r in kept:
        q = qs[r.i]
        want = ref.topk(q)
        run.check(layers.same_topk(r.result, want),
                  f"query {q} served {r.result[:3]}... "
                  f"reference {want[:3]}...")
    run.check(len(kept) == len(checked), "a checked query failed")

    run.index = idx
    if run.trace:
        names = [s["name"] for s in store.manifest["segments"]]
        touched = layers.TouchCounter()
        for rec in sorted(recs, key=lambda r: r.start):
            touched.note(names, qs[rec.i % len(qs)][0])
        run.layer.update(_stream_layers(
            summary, touched.frac,
            layers.client_scaling(store, qs, run.cores, 1.0)))
    layers.close_store(store)
    return {"throughput_per_s": served / wall,
            "latency_p50_ms": summary["p50_ms"]}


WORKLOADS = {
    "bulk_build": bulk_build,
    "serve_zipf": serve_zipf,
}


# ---------------------------------------------------------------------------
# traced runs: layers the workload did not exercise, on a probe index
# ---------------------------------------------------------------------------

def probe_layers(run: Run) -> None:
    """Measure in a traced run the per-layer metrics the workload did not
    produce: analysis on a document sample; one update_documents batch
    and the merge it triggers on a probe index of ten small segments;
    index size, codec and query classes on the workload's index; a short
    open-loop query stream on the probe index; and minhash dedup of the
    probe corpus."""
    from clucene_spark.index.merge import maybe_merge
    from clucene_spark.index.segments import update_documents

    spark = run.spark
    run.layer.update(layers.analysis_layer(run.sample))

    first = corpus.doc_base(run.seed) + PROBE_OFFSET
    src, pidx = run.path("probe-corpus"), run.path("probe-index")
    docs = corpus.write_corpus(src, first, [PROBE_FILE_DOCS] * PROBE_FILES)
    _build(run, src, pidx)

    # one batch (adds plus deletes), then the merge it triggers: the ten
    # 200-doc segments and the new one make a full level
    batch = run.path("probe-batch")
    corpus.write_corpus(batch, first + len(docs), [PROBE_FILE_DOCS])
    t_call = clock()
    with run.call("index.segments.update"):
        update_documents(spark, pidx, spark.read.parquet(batch),
                         [d for d, _ in docs[::PROBE_FILE_DOCS // 2]])
    store = run.open_store(pidx)
    run.query(store, (layers.ranked(layers.term_dfs(pidx))[:1], "OR"))
    visible = clock() - t_call
    layers.close_store(store)
    written = layers.index_bytes(pidx)  # the build plus the batch
    t0 = clock()
    with run.call("index.merge"):
        created = maybe_merge(spark, pidx)
    merge_s = clock() - t0
    segs = {s["name"]: s for s in layers.live_segments(pidx)}
    merged_bytes = sum(layers.segment_bytes(pidx, n) for n in created)
    run.layer.update({
        "index.merge.s": merge_s,
        "index.merge.merges": len(created),
        "index.merge.docs_per_s": sum(segs[n]["n_docs"] for n in created)
        / merge_s,
        "index.merge.bytes_rewritten": merged_bytes,
        "index.merge.write_amp": (written + merged_bytes)
        / layers.index_bytes(pidx),
        "query_server.commit_visible_s": visible,
    })

    size = layers.index_bytes(run.index)
    dfs = layers.term_dfs(run.index)
    postings = sum(dfs.values())
    run.layer.update({
        "index.segments.bytes_per_posting": size / postings,
        "index.segments.postings_written": postings,
        "index.segments.size_ratio": size / run.text_bytes,
    })
    run.layer.update(layers.codec_layer(run.index))
    run.layer.update(layers.search_layer(run.index, dfs, run.seed))

    if "search.wand.p99_ms" not in run.layer:
        # the workload has no query stream: serve_zipf's procedure, short,
        # on the probe index
        qs = corpus.zipf_queries(layers.ranked(layers.term_dfs(pidx)),
                                 STREAM_LEN, run.seed)
        store = run.open_store(pidx)
        layers.warm(store, sorted({t for q in qs for t in q[0]}))
        recs = open_loop(lambda q: run.query(store, q), qs, SERVE_RATE,
                         until=lambda i: i >= OPEN_QUERIES)
        names = [s["name"] for s in store.manifest["segments"]]
        touched = layers.TouchCounter()
        for rec in sorted(recs, key=lambda r: r.start):
            touched.note(names, qs[rec.i % len(qs)][0])
        run.layer.update(_stream_layers(
            latency_summary(recs), touched.frac,
            layers.client_scaling(store, qs, run.cores, 0.5)))
        layers.close_store(store)

    run.layer.update(_dedup_probe(run, src, docs))


def _dedup_probe(run: Run, src: str, docs) -> dict:
    """minhash_lsh_pairs over the probe corpus plus with_planted_dups'
    twins on a fresh cache: a cold pass, then a timed one that must find
    the same pairs, which are checked against an exhaustive exact-Jaccard
    reference on the first DUP_SLICE docs; then minhash_doc_state alone
    (the rest of a pass is banding, candidate generation and verify)."""
    from clucene_spark.pipeline.dedup import (minhash_doc_state,
                                              minhash_lsh_pairs,
                                              with_planted_dups)

    dd = with_planted_dups(run.spark.read.parquet(src))

    def one_pass() -> frozenset:
        run.spark.catalog.clearCache()
        with run.call("pipeline.dedup"):
            return frozenset((r["a"], r["b"], r["jaccard"])
                             for r in minhash_lsh_pairs(dd).collect())

    cold = one_pass()
    t0 = clock()
    pairs = one_pass()
    pass_s = clock() - t0
    run.check(pairs == cold, "dedup pair set differs between passes")

    sl = layers.planted_twins(docs[:DUP_SLICE])
    ref = layers.exact_jaccard_pairs(sl)
    ids = {d for d, _ in sl}
    got = sorted((a, b, j) for a, b, j in pairs if a in ids and b in ids)
    run.check(len(ref) > 0 and len(got) == len(ref) and all(
        g[:2] == r[:2] and abs(g[2] - r[2]) <= 1.5e-4
        for g, r in zip(got, ref)),
        f"dedup pairs {got[:3]}... differ from exact Jaccard {ref[:3]}...")

    run.spark.catalog.clearCache()
    t0 = clock()
    with run.call("pipeline.dedup.state"):
        minhash_doc_state(dd).write.format("noop").mode("overwrite").save()
    state_s = clock() - t0
    return {"pipeline.dedup.state_s": state_s,
            "pipeline.dedup.lsh_verify_s": pass_s - state_s,
            "pipeline.dedup.pairs": len(pairs)}
