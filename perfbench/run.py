"""Iceberg-engine benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload {ingest,scan,dml} --seed N \\
        --seconds S --trace {0,1}

Starts a ``local[N]`` Spark session (N = min(4, CPUs)), generates the
workload's inputs from ``--seed``, warms up, builds the table three times
(``setup_s`` counts the session start, the warm-up and the median
build), then runs the workload's closed loop for ``--seconds`` and checks
every kept result against plain Spark.

With ``--trace 0`` the last line of stdout is the end-to-end result;
with ``--trace 1`` it is the per-layer result of a traced run (every
other op of each kind traced, so the tracing overhead is measured in the
same run). A ``detail`` line before it carries the per-op-kind latencies,
end-of-run table sizes and host provenance. Spans and the detail record
are written under ``.perfbench/out/`` at the checkout root.

Everything the run writes stays under ``.perfbench/`` at the checkout
root; the Spark JVM is stopped and waited for before exit. Each run's
warehouse is left in ``.perfbench/work-<workload>-<pid>/`` (deleting
files already flushed to disk costs several seconds on a disk mounted
with ``discard``); remove ``.perfbench/`` to reclaim the space.
"""

from __future__ import annotations

import argparse
from contextlib import nullcontext
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

T_IMPORT = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench", "out")
BUILD_REPS = 3


def read_steal_ticks() -> int:
    """Cumulative CPU steal ticks of the whole VM (8th value of the
    ``cpu`` line of /proc/stat); -1 where unavailable."""
    try:
        with open("/proc/stat") as fh:
            for line in fh:
                if line.startswith("cpu "):
                    return int(line.split()[8])
    except (OSError, ValueError, IndexError):
        pass
    return -1


def host_sample() -> dict:
    return {"steal_ticks": read_steal_ticks(),
            "loadavg_1m": round(os.getloadavg()[0], 2)}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "scan", "dml"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the smoke test")
    return ap.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and let Python workers import the engine package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(work: str, cores: int):
    from iceberg_rust_archive_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    return get_spark("perfbench", master=f"local[{cores}]", extra_confs={
        "spark.driver.memory": "2g",
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # -Xms: a heap that does not grow during the run
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g "
            f"-Dderby.system.home={tmp}",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        # traced runs read every job and stage back from the UI store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "50",
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


class Context:
    """What a workload needs: the session, its catalog, the seed and the
    tracer (inert unless ``trace``)."""

    def __init__(self, spark, seed, scale, trace, warehouse):
        from iceberg_rust_archive_spark.catalog import FileCatalog
        from perfbench.tracing import TracedCatalog, Tracer
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.trace = trace
        self.warehouse = warehouse
        self.tracer = Tracer(spark.sparkContext)
        raw = FileCatalog(warehouse)
        self.catalog = TracedCatalog(raw, self.tracer) if trace else raw


def run_workload(spark, workload: str, seed: int, seconds: float,
                 trace: bool, scale: str, work: str,
                 session_s: float) -> dict:
    """Run one workload in a started session and return the result
    record (``line`` is the contract's last stdout line)."""
    from perfbench import tracing
    from perfbench.workloads import WORKLOADS, Runner

    warehouse = os.path.join(work, "wh")
    ctx = Context(spark, seed, scale, trace, warehouse)
    wl = WORKLOADS[workload](ctx)
    with tracing.instrument(ctx.tracer) if trace else nullcontext(), \
            tracing.count_py4j(ctx.tracer) if trace else nullcontext():
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        builds = []
        for rep in range(BUILD_REPS):
            t0 = time.perf_counter()
            wl.build(rep)
            builds.append(time.perf_counter() - t0)
            if rep < BUILD_REPS - 1:
                # drop a discarded build while its files are young: on
                # a disk mounted with discard, deleting files already
                # flushed to disk takes seconds
                shutil.rmtree(os.path.join(warehouse, f"db{rep}"))
        t0 = time.perf_counter()
        wl.prime()
        warm_s += time.perf_counter() - t0
        setup_s = session_s + warm_s + statistics.median(builds)

        runner = Runner(ctx)
        wl.run(runner, runner.start + seconds)
        elapsed = time.perf_counter() - runner.start

    t0 = time.perf_counter()
    final_ok = wl.check(runner)
    sizes = wl.sizes(wl.table)
    check_s = time.perf_counter() - t0
    failed = sum(not o["ok"] for o in runner.ops) + (not final_ok)
    attempted = len(runner.ops) + 1  # + the final-state check
    detail = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": int(trace), "scale": scale, "elapsed_s": elapsed,
        "latencies_ms": {k: [round(1e3 * x, 1) for x in runner.latencies(k)]
                         for k in sorted({o["kind"] for o in runner.ops})},
        "final_state_ok": final_ok, "sizes": sizes,
        "setup": {"session_s": session_s, "warm_up_s": warm_s,
                  "builds_s": builds},
        "check_s": check_s,
        "workload_metrics": {"failed_op_ratio": failed / attempted,
                             **wl.extra(runner, elapsed)},
    }
    if trace:
        spans = ctx.tracer.finish()
        tracing.spark_metrics(spark.sparkContext, spans)
        metrics, extra = tracing.layer_metrics(runner.ops, spans)
        detail["layers"] = extra
        detail["spans"] = len(spans)
        os.makedirs(OUT_DIR, exist_ok=True)
        tracing.write_spans(os.path.join(
            OUT_DIR, f"spans-{workload}-{seed}.jsonl"), spans)
    else:
        metrics = end_to_end(wl, runner, setup_s, sizes, failed, attempted)
    line = {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}
    return {"line": line, "detail": detail}


def end_to_end(wl, runner, setup_s, sizes, failed, attempted):
    from perfbench.workloads import percentile
    main = runner.latencies(*wl.main_kinds)
    reads = runner.latencies(*wl.read_kinds)
    m = {
        "setup_s": (setup_s, "s"),
        "ok_op_ratio": ((attempted - failed) / attempted, "ratio"),
        "ops_per_s": (runner.ops_per_s(), "1/s"),
        "op_p50_s": (statistics.median(main), "s"),
        "op_tail_s": (percentile(main, wl.tail_pct), "s"),
        "read_p50_s": (statistics.median(reads), "s"),
        "bytes_per_live_row": (sizes["snapshot_bytes"]
                               / max(1, sizes["rows"]),
                               "B/row"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "iceberg_rust_archive_spark")):
        print(f"perfbench: engine package not found under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench",
                        f"work-{args.workload}-{os.getpid()}")
    prepare_environment(work)
    host_before = host_sample()
    cores = min(4, len(os.sched_getaffinity(0)))
    t0 = time.perf_counter()
    spark = start_spark(work, cores)
    session_s = time.perf_counter() - t0
    try:
        res = run_workload(spark, args.workload, args.seed, args.seconds,
                           bool(args.trace), args.scale, work, session_s)
        res["detail"]["host"] = {
            "before": host_before, "after": host_sample(),
            "local_cores": cores, "spark": spark.version,
            "python": platform.python_version()}
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        print(f"perfbench: stop {time.perf_counter() - t0:.1f}s, total "
              f"{time.perf_counter() - T_IMPORT:.1f}s", file=sys.stderr)
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, f"detail-{args.workload}-{args.seed}-"
                           f"trace{args.trace}.json"), "w") as fh:
        json.dump(res["detail"], fh, indent=1, default=str)
    print(json.dumps({"detail": res["detail"]}, default=str))
    print(json.dumps(res["line"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
