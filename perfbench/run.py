"""Benchmark of the data-engineering-bootcamp Spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see harness.py for why each):

- ``analytic_queries``: eight one-shot bootcamp SQL patterns on seeded
  sf0.03 inputs;
- ``stream_ingest``: seeded events drained one file per trigger through
  ``dedup_stream`` into the upsert sink.

Spark runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this
process may use, less the workload's ``spare_cpus``). The seed only
decides the generated inputs. Every op's output is checked: batch ops
against their DuckDB oracles, the stream's final store against the batch
argmax of everything it consumed.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics for
``--trace 0``, the per-layer metrics for ``--trace 1``. The line before it
carries run details (input sizes, warm-up passes, tail sample count).
All files the run writes live under ``.perfbench_work/`` in the working
directory and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("analytic_queries", "stream_ingest")

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_ms": "ms",
    "peak_rss_mb": "MB",
    "throughput_rows_s": "1/s",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    if not 0 <= args.seed < 2**63:
        ap.error(f"--seed must be a non-negative 64-bit integer, got {args.seed}")
    if not 1 <= args.seconds <= 600:
        ap.error(f"--seconds must be between 1 and 600, got {args.seconds}")
    return args


def cpu_count(spare: int = 0) -> int:
    """$SPARK_GRAFT_CPUS, or the CPUs this process may run on less
    ``spare`` (at least one)."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return max(1, len(os.sched_getaffinity(0)) - spare)
    if not raw.strip().isdigit() or int(raw) < 1:
        raise SystemExit(f"perfbench: SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return int(raw)


# The JIT's tier thresholds are lowered (by 2-15x) so that the engine's JVM
# code reaches C2 within the warm-up one run can afford; with the defaults,
# per-trigger and per-op times kept falling for minutes. Compiled code is
# still C2's; only the point at which it is compiled moves.
JIT_FLAGS = (
    "-XX:Tier3InvocationThreshold=100 -XX:Tier3CompileThreshold=500 "
    "-XX:Tier4InvocationThreshold=1000 -XX:Tier4CompileThreshold=1500"
)


def spark_conf(work: str) -> dict[str, str]:
    """Session settings of the benchmark. The heap starts at its maximum
    and is touched at start, so that peak memory does not depend on when
    the JVM grew it or how much of it the GC has used yet; every
    temporary path points inside the work directory."""
    return {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms2g -XX:+AlwaysPreTouch {JIT_FLAGS} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def remove_work(work: str) -> None:
    """Delete a run's work directory, and its parent once empty."""
    shutil.rmtree(work, ignore_errors=True)
    base = os.path.dirname(work)
    if os.path.isdir(base) and not os.listdir(base):
        os.rmdir(base)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "data_engineering_bootcamp_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle_harness.py")
    ):
        print(f"perfbench: the engine package is not next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 1
    sys.path[:0] = [HERE, ROOT]
    import harness

    cpus = cpu_count(harness.WORKLOADS[args.workload].spare_cpus)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    spark = None
    try:
        from data_engineering_bootcamp_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=spark_conf(work))
        spark.sparkContext.setLogLevel("ERROR")
        spark.createDataFrame([(1,)], "warm int").count()
        start_s = time.perf_counter() - t0

        bench = harness.Bench(spark, args.workload, harness.WORKLOADS[args.workload],
                              os.path.join(work, "run"), args.seed, args.seconds,
                              bool(args.trace), cpus)
        bench.run()
        res, details = bench.result(start_s)
    finally:
        if spark is not None:
            stop_spark(spark)
        remove_work(work)
    print(json.dumps(details))
    print(json.dumps(result_line(res, details, bool(args.trace))))
    return 0


def result_line(res: dict, details: dict, trace: bool) -> dict:
    """The final JSON object: per-layer metrics when traced, else end to end."""
    import harness

    units, values = (harness.LAYER_UNITS, res["layers"]) if trace else (E2E_UNITS, res["e2e"])
    return {
        "correct": res["failed"] == 0 and not details["failed_checks"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
