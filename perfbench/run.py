"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_zipf --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. The exit code is 0 only when every
output check passed; without the program next to it (clucene_spark/,
tools/query_server.py) the script exits 2 and prints no result.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def fail(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_env(work: str, trace: bool, cores: int) -> None:
    """Environment for the Spark JVM and its Python workers: the program
    on the workers' path, every temporary file inside the run's work
    directory, and the event log (uncompressed) for traced runs only."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    args = ["--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")]
    if trace:
        log = os.path.join(work, "eventlog")
        os.makedirs(log)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", f"spark.eventLog.dir=file://{log}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def start_spark(run) -> None:
    """get_spark plus a trivial job (session.start_s) while the corpus is
    generated on a second thread; in a traced run also the median of
    three empty jobs of one task per core (session.empty_job_s)."""
    from concurrent.futures import ThreadPoolExecutor

    from clucene_spark.session import get_spark
    from harness import clock, median

    with ThreadPoolExecutor(1) as pool:
        inputs = pool.submit(run.prepare)
        t0 = clock()
        with run.tracer.span("session.start"):
            run.spark = get_spark(f"perfbench-{run.workload}")
            run.spark.range(1).count()
        run.layer["session.start_s"] = clock() - t0
        inputs.result()
    if run.trace:
        sc = run.spark.sparkContext
        walls = []
        for _ in range(3):
            t0 = clock()
            sc.parallelize(range(run.cores), run.cores).count()
            walls.append(clock() - t0)
        run.layer["session.empty_job_s"] = median(walls)


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait until
    each has exited."""
    from pyspark import SparkContext

    from harness import descendants

    children = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while children:
        children = {p for p in children if os.path.exists(f"/proc/{p}")}
        if not children:
            break
        if time.monotonic() > deadline:
            for p in children:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 20
        time.sleep(0.1)


def span_layers(run, eventlog: str) -> None:
    """Per-layer metrics from the spans and the Spark event log."""
    import layers
    from harness import median, parse_event_log

    t = run.tracer
    for name, key in (("index.segments.build", "index.segments.build_s"),
                      ("index.segments.update", "index.segments.update_s")):
        walls = [s["end"] - s["start"] for s in t.closed(name)]
        run.layer[key] = median(walls)
    logs = [os.path.join(eventlog, f) for f in os.listdir(eventlog)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    stats = parse_event_log(logs[0])
    seg_wall = t.total("index.segments.build") + t.total("index.segments.update")
    run.layer.update(layers.spark_layer(
        "index.segments",
        [stats.get("index.segments.build", {}),
         stats.get("index.segments.update", {})], seg_wall, run.cores))
    run.layer.update(layers.spark_layer(
        "pipeline.dedup", [stats.get("pipeline.dedup", {})],
        t.total("pipeline.dedup"), run.cores))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail(f"{spec_path} not found; run from the root of a checkout", 2)
    for need in ("clucene_spark/__init__.py", "tools/query_server.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"the program is missing: {need} not found under {ROOT}", 2)
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}", 2)
    declared = spec["per_layer" if args.trace else "end_to_end"]

    sys.path[:0] = [ROOT, HERE]
    import workloads

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark_env(work, bool(args.trace), cores)
    run = workloads.Run(args.workload, args.seed, args.seconds,
                        bool(args.trace), work, cores)
    try:
        with run.rss:
            try:
                start_spark(run)
                e2e = workloads.WORKLOADS[args.workload](run)
                e2e["peak_rss_mb"] = run.peak_rss / 2 ** 20
                if run.trace:
                    workloads.probe_layers(run)
            finally:
                if run.spark is not None:
                    stop_spark(run.spark)
        e2e["setup_s"] = run.t_timed - T_START
        if run.trace:
            span_layers(run, os.path.join(work, "eventlog"))
            run.layer["trace.spans"] = len(run.tracer.spans)
            for k, v in e2e.items():
                run.layer[f"trace.e2e.{k}"] = v
            traces = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            run.tracer.dump(os.path.join(
                traces, f"{run.tracer.run_id}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = run.layer if args.trace else e2e
    metrics = {}
    for m in declared:
        v = values.get(m["name"])
        if v is None or not math.isfinite(v):
            fail(f"metric {m['name']} was not measured ({v})", 3)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for msg in run.errors:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print(json.dumps({"correct": not run.errors, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if not run.errors else 1


if __name__ == "__main__":
    sys.exit(main())
