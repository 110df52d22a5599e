"""Measurement machinery for the benchmark: percentiles, open- and
closed-loop load generators, spans, peak-RSS sampling and the Spark
event-log parser.

Nothing here imports Spark or the program, so the benchmark's own tests
run without a JVM.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

clock = time.perf_counter

# The tail percentile reported, and the samples that must lie beyond it:
# p99 needs at least 1,000 samples.
TAIL_Q = 99.0
TAIL_MIN_BEYOND = 10


def _rank(q: float, n: int) -> int:
    """1-based nearest rank of percentile q among n samples (rounded so
    that 99.9% of 10,000 is exactly 9,990)."""
    return max(1, math.ceil(round(q * n / 100.0, 6)))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least q% of
    the samples at or below it. Failed operations enter as +inf, so they
    count as over any limit."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(q, len(values)) - 1]


def tail_percentile(values) -> float:
    """TAIL_Q percentile; raises when fewer than TAIL_MIN_BEYOND samples
    lie beyond its rank, so a run with too few samples fails."""
    n = len(values)
    if n - _rank(TAIL_Q, n) < TAIL_MIN_BEYOND:
        raise ValueError(f"p{TAIL_Q:g} of {n} samples has fewer than "
                         f"{TAIL_MIN_BEYOND} beyond it")
    return percentile(values, TAIL_Q)


def median(values) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


# ---------------------------------------------------------------------------
# load generators
# ---------------------------------------------------------------------------

class OpRecord:
    """One operation: when it was due, when the generator handed it to a
    client, when it started and ended, whether it succeeded, what it
    returned (kept only for the operations the caller samples) and, for a
    failure, the error."""

    __slots__ = ("i", "due", "sent", "start", "end", "ok", "result", "info")

    def __init__(self, i, due, sent):
        self.i, self.due, self.sent = i, due, sent
        self.start = self.end = None
        self.ok = False
        self.result = None
        self.info = None

    @property
    def latency(self) -> float:
        """Seconds from the due time to completion (+inf if it failed)."""
        return (self.end - self.due) if self.ok else math.inf


def _run_op(call, item, rec: OpRecord, keep: bool) -> None:
    rec.start = clock()
    try:
        out = call(item)
    except Exception as e:  # a failed operation is counted, not retried
        rec.end = clock()
        rec.info = f"{type(e).__name__}: {e}"
        return
    rec.end = clock()
    rec.ok = True
    if keep:
        rec.result = out


def open_loop(call, items, rate: float, until,
              keep=lambda i: False, first: int = 0) -> list[OpRecord]:
    """Independent users send items[i], from i = first, at due time
    t0 + (i - first)/rate; one client thread serves them in order, so an
    operation due while the previous one still runs waits for it (a
    single-server queue). Latency is timed from the due time, so a stall
    also charges the operations queued behind it. The idle client spins
    until the due time rather than sleeping: on a shared host a sleeping
    core can wake milliseconds late, and that delay is the generator's,
    not the program's. `sent - due` is the generator's own lateness: how
    late the client was for an operation due while it was idle (zero for
    a queued one). `until(i)` is polled before item i; the loop stops
    when it returns True."""
    records: list[OpRecord] = []
    t0 = clock() + 0.01
    i = first
    while not until(i):
        due = t0 + (i - first) / rate
        idle = clock() < due
        while clock() < due:
            pass
        rec = OpRecord(i, due, clock() if idle else due)
        _run_op(call, items[i % len(items)], rec, keep(i))
        records.append(rec)
        i += 1
    return records


def closed_loop(call, items, n_clients: int, seconds: float,
                first: int = 0) -> tuple[list[OpRecord], float]:
    """Each client sends its next item only after the previous returned
    (callers that wait for a reply). Clients take items round-robin from
    items[first]. Returns the records and the wall time until the last
    client ended."""
    records: list[OpRecord] = []
    lock = threading.Lock()
    counter = [first]
    deadline = clock() + seconds

    def client():
        while True:
            with lock:
                i = counter[0]
                counter[0] += 1
            now = clock()
            if now >= deadline:
                return
            rec = OpRecord(i, now, now)
            _run_op(call, items[i % len(items)], rec, False)
            with lock:
                records.append(rec)

    threads = [threading.Thread(target=client, daemon=True)
               for _ in range(n_clients)]
    t0 = clock()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    elapsed = clock() - t0
    records.sort(key=lambda r: r.i)
    return records, elapsed


def latency_summary(records: list[OpRecord]) -> dict:
    """Median and p99 in ms (see tail_percentile), the sample count,
    failures, and the generator's lateness."""
    lat = [r.latency * 1000.0 for r in records]
    late = [(r.sent - r.due) * 1000.0 for r in records]
    return {
        "n": len(lat),
        "failed": sum(1 for r in records if not r.ok),
        "p50_ms": percentile(lat, 50),
        "p99_ms": tail_percentile(lat),
        "late_max_ms": max(late),
    }


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and written
    when the run ends. Disabled, `span` only yields, so the untraced run
    pays nothing for it."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "run": self.run_id,
                   "parent": stack[-1] if stack else None,
                   "start": clock(), "end": None}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = clock()

    def closed(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"]]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.closed(name))

    def dump(self, path: str) -> None:
        """One JSON line per span, with its self time."""
        own = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": own.get(s["id"])}) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Per span id: its duration minus the part of it covered by its
    direct children. Overlapping children (threads) are merged first, so
    self time is never negative."""
    children = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None and s.get("end") is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[int, float] = {}
    for s in spans:
        if s.get("end") is None:
            continue
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# ---------------------------------------------------------------------------
# peak resident memory of this process and its descendants
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int]]:
    """{pid: (ppid, rss bytes)} for every process visible in /proc."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rindex(")") + 2:].split()
        table[int(d)] = (int(fields[1]), int(fields[21]) * _PAGE)
    return table


def descendants(root_pid: int, table=None) -> set[int]:
    """Every live descendant of root_pid (the JVM and its Python workers)."""
    table = _proc_table() if table is None else table
    out: set[int] = set()
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in table.items():
            if (ppid == root_pid or ppid in out) and pid not in out:
                out.add(pid)
                grew = True
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Σ RSS over root_pid and all its descendants."""
    table = _proc_table()
    pids = descendants(root_pid, table) | {root_pid}
    return sum(table[p][1] for p in pids if p in table)


class RssSampler:
    """Background sampler of tree_rss_bytes; `peak` is the maximum seen."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        """Take one sample now and return the peak so far."""
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak

    def _loop(self):
        while True:
            self.sample()
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def parse_event_log(path: str) -> dict[str, dict]:
    """Task metrics of one uncompressed, non-rolling event-log file,
    summed per job description (the benchmark sets the layer name as the
    description around each call). Returns {description: {jobs, tasks,
    run_s, cpu_s, gc_s, shuffle_write_bytes, shuffle_records,
    spill_bytes}}; jobs without a description go under "" (set-up work of
    the benchmark itself)."""
    stage_desc: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get(
                    "spark.job.description") or ""
                for sid in e.get("Stage IDs", []):
                    stage_desc[sid] = desc
                out[desc]["jobs"] += 1
            elif ev == "SparkListenerStageSubmitted":
                desc = (e.get("Properties") or {}).get(
                    "spark.job.description")
                if desc is not None:
                    stage_desc[e["Stage Info"]["Stage ID"]] = desc
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics")
                if not m:
                    continue
                agg = out[stage_desc.get(e["Stage ID"], "")]
                agg["tasks"] += 1
                agg["run_s"] += m.get("Executor Run Time", 0) / 1e3
                agg["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                agg["shuffle_write_bytes"] += sw.get(
                    "Shuffle Bytes Written", 0)
                agg["shuffle_records"] += sw.get(
                    "Shuffle Records Written", 0)
                agg["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return {k: dict(v) for k, v in out.items()}
