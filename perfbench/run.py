"""CDC ingest benchmark for cht_sync_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tail_upsert --seed 1 --seconds 12 --trace 0

Workloads (see workloads.py): ``backfill_models`` and ``tail_upsert``.
Inputs are generated from ``--seed``; the engine sees only the generated
feed files. Every run checks the final state against an independent DuckDB
oracle. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``). Lines before it give
the Spark sizing, the sample counts and, when tracing, the layer -> metric
predictions.

All state lives under ``.perfbench_work/`` in the checkout and is removed at
exit, except the feed cache (keyed by generator parameters and seed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_PROC = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))

E2E_UNITS = {
    "events_per_s": "1/s",
    "freshness_ms.p50": "ms",
    "freshness_ms.p95": "ms",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def size_spark(work: str, trace_log: str | None) -> dict[str, str]:
    """Size the session to this machine through the engine's env vars: all
    usable cores and a driver heap of a sixth of RAM (1-4 GiB), committed up
    front with a fixed young generation so heap sizing does not drift from
    run to run, but not pre-touched (that would pin the peak RSS to the heap
    size). Reads get their own FAIR pool (workloads.LookupClient)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gib = int(fh.readline().split()[1]) / 2**20
    heap = max(1, min(4, int(mem_gib / 6)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap}g"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    os.environ["SPARK_GRAFT_JVM_OPTS"] = (
        f"-Xms{heap}g -Xmn{heap * 192}m -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.scheduler.mode": "FAIR",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_log:
        os.makedirs(trace_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + trace_log,
            "spark.eventLog.compress": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM, which exits when its stdin
    closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "cht_sync_spark")):
        print("perfbench: run from the root of a cht_sync_spark checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    trace_log = os.path.join(run_dir, "eventlog") if args.trace else None
    conf = size_spark(run_dir, trace_log)
    spark = None
    try:
        from cht_sync_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        spark.range(1000).selectExpr("sum(id)").collect()
        session_s = time.perf_counter() - T_PROC
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        print(f"spark: local[{cores}] driver_mem={os.environ['SPARK_GRAFT_DRIVER_MEM']} "
              f"shuffle_partitions={spark.conf.get('spark.sql.shuffle.partitions')} "
              f"jvm_opts={os.environ['SPARK_GRAFT_JVM_OPTS']!r} session_start_s={session_s:.2f}")

        tracer = None
        if args.trace:
            from tracing import Tracer, install

            tracer = Tracer(spark)
            install(tracer)
        ctx = Ctx(spark, run_dir, os.path.join(work, "cache"), args.seed, args.seconds, cores, trace_log)
        out = WORKLOADS[args.workload](ctx, tracer)
        out.e2e["setup_s"] += session_s
        stop_spark(spark)
        spark = None
        if tracer is not None:
            from tracing import LAYER_METRICS, spark_metrics

            out.layers.update(spark_metrics(tracer, *out.window, trace_log, cores))
            out.layers = {name: out.layers.get(name, 0.0) for name, *_ in LAYER_METRICS}
            for name, unit, _better, moves, wls in LAYER_METRICS:
                print(f"layer {name} = {out.layers[name]:.6g} {unit}  -> {moves} ({wls})")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print("notes:", json.dumps(out.notes, sort_keys=True))
    print(f"error_rate: {out.failed / max(1, out.attempted):.6g} ({out.failed}/{out.attempted})")
    if args.trace:
        from tracing import LAYER_METRICS

        metrics = {n: {"value": out.layers[n], "unit": u} for n, u, *_ in LAYER_METRICS}
    else:
        metrics = {n: {"value": out.e2e[n], "unit": u} for n, u in E2E_UNITS.items()}
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
