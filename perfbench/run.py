"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ontology_etl --seed 1 \
        --seconds 10 --trace 0

Workloads: ``ontology_etl``, ``hierarchy_analytics``, ``ingest_loop``
(see README.md next to this file). One process, one fresh JVM on
``local[<cpus>]`` with as many shuffle partitions, one client in a
closed loop. Set-up (session start, seeded input generation, the
workload's own builds, reference results, an untimed warm-up) is timed
as ``setup_s``; then ops run back to back for ``--seconds`` (at least
one), each checked against the reference computed outside the engine.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables
Spark's event log, alternates untraced and traced ops (at least
untraced, traced, untraced), and reports the per-layer span counters
(``spans.py``). The last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
the exit code is 1 if any op failed or mismatched, 2 if the package is
missing.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ontology_graph_etl_spark"
WORKLOAD_NAMES = ("hierarchy_analytics", "ingest_loop")
DRIVER_MEMORY = "2g"
SETTLE_S = 1.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: str) -> None:
    """Keep every file the run writes inside ``work`` and put the package
    on the Python workers' path, so the run works from any directory."""
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    paths = [ROOT, HERE] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT, HERE]


def start_spark(work: str, trace: bool):
    from ontology_graph_etl_spark.session import get_spark

    n = cpus()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # with the context cleaner a block is freed whenever the JVM
        # happens to collect its RDD; without it, the blocks an op adds
        # stay until the op is over, so their total is exact
        "spark.cleaner.referenceTracking": "false",
        # the JVM's perf-data file would otherwise land in /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def storage_held(spark) -> int:
    """Bytes of RDD blocks (cached and checkpointed) the block manager
    holds, in memory (on and off heap) and on disk."""
    held = 0
    master = spark.sparkContext._jsc.sc().env().blockManager().master()
    for status in master.getStorageStatus():
        for size in (status.onHeapCacheSize(), status.offHeapCacheSize()):
            held += size.get() if size.isDefined() else 0
        held += status.diskUsed()
    return held


def highest_percentile(n: int):
    """Highest of p99/p95/p90/p75/p50 with at least ten samples beyond
    it, or None."""
    for q in (99, 95, 90, 75, 50):
        if n * (100 - q) / 100 >= 10:
            return q
    return None


def run(args, work: str) -> tuple[dict, list[str]]:
    t0 = time.perf_counter()
    spark = start_spark(work, bool(args.trace))
    try:
        return measure(args, work, spark, t0)
    finally:
        stop_spark(spark)


def measure(args, work: str, spark, t0: float) -> tuple[dict, list[str]]:
    import spans
    from workloads import WORKLOADS

    phases = {"session_s": time.perf_counter() - t0}
    tracer = spans.Tracer(spark)
    workload = WORKLOADS[args.workload](spark, work, args.seed, tracer)
    tracer.active = bool(args.trace)
    workload.setup()
    tracer.active = False
    phases["setup_s"] = time.perf_counter() - t0
    workload.warm_up()
    workload.release()
    # start timing from a collected heap and a drained JIT compile queue
    gc.collect()
    spark._jvm.System.gc()
    time.sleep(SETTLE_S)
    setup_s = time.perf_counter() - t0

    times, traced_times, rows = [], [], 0
    attempted, failures, peak_storage = 0, [], 0
    deadline = time.perf_counter() + args.seconds
    while True:
        traced = bool(args.trace) and attempted % 2 == 1
        arg = workload.prepare()
        held = storage_held(spark)
        tracer.active = traced
        start = time.perf_counter()
        try:
            n_rows, result = workload.op(arg)
            elapsed = time.perf_counter() - start
            tracer.active = False
            peak_storage = max(peak_storage, storage_held(spark) - held)
            bad = workload.check(result)
        except Exception as exc:  # an op that raises counts as failed
            tracer.active = False
            attempted += 1
            traceback.print_exc()
            failures.append(f"op {attempted}: {type(exc).__name__}: {exc}")
            break
        attempted += 1
        if bad:
            failures += bad
        elif traced:
            traced_times.append(elapsed)
        else:
            times.append(elapsed)
            rows += n_rows
        workload.release()
        done = time.perf_counter() >= deadline
        # traced runs end on an untraced op, so the traced ones sit
        # between untraced neighbours and JIT warm-up drift cancels
        if done and (not args.trace or attempted >= 3 and attempted % 2):
            break
    peak_storage_mb = peak_storage / 1e6
    store_mb = workload.store_bytes() / 1e6
    workload.close()
    failed = attempted - len(times) - len(traced_times)
    spark.stop()

    lines = []
    p50 = statistics.median(times) if times else 0.0
    info = dict(workload.summary)
    info["phases_s"] = {k: round(v, 2) for k, v in phases.items()}
    if getattr(workload, "screened", 0):
        info["accepted_share"] = round(
            workload.accepted / workload.screened, 4
        )
    pct = highest_percentile(len(times))
    lines.append(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
        f"{json.dumps(info)}"
    )
    if args.trace:
        records = spans.attribute(
            spans.read_events(os.path.join(work, "eventlog")),
            tracer.spans,
        )
        ratio = (
            statistics.median(traced_times) / p50
            if traced_times and times else 0.0
        )
        metrics = spans.per_layer_metrics(records, ratio)
    else:
        metrics = {
            "op_p50_s": {"value": p50, "unit": "s"},
            "rows_per_s": {
                "value": rows / sum(times) if times else 0.0,
                "unit": "rows/s",
            },
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_storage_mb": {"value": peak_storage_mb, "unit": "MB"},
            "store_mb": {"value": store_mb, "unit": "MB"},
        }
        tail = (
            f"p{pct}={statistics.quantiles(times, n=100)[pct - 1]:.4f} s"
            if pct and pct != 50 else "no higher percentile supported"
        )
        lines.append(
            f"  op_p50_s = {p50:.4f} s over n={len(times)} ops ({tail})"
        )
        for name in ("rows_per_s", "setup_s", "peak_storage_mb", "store_mb"):
            m = metrics[name]
            lines.append(f"  {name} = {m['value']:.4f} {m['unit']}")
        lines.append(
            f"  failed_frac = {failed}/{attempted} = "
            f"{failed / attempted:.4f} ratio"
        )
    lines += [f"  FAILED: {f}" for f in failures]
    record = {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return record, lines


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(
            f"perfbench: package {PACKAGE!r} not found in {ROOT}; run from "
            "a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(
        HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    isolate(work)
    try:
        record, lines = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(record), flush=True)
    return 0 if record["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
