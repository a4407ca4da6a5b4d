"""Self-test of the benchmark: a short smoke run at sf0.001.

    python3 perfbench/selftest.py

Runs every workload for one second, untraced and traced, in one Spark
session, and checks that

- every metric BENCHMARK.json names is reported with the unit it names;
- an op that raises is counted as failed and the run still completes.

Exits 0 when both hold. Takes a few minutes.
"""

from __future__ import annotations

import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from harness import Bench, Config  # noqa: E402

SMOKE = Config(sf=0.001, warmup_passes=1, ops=("customer_order_spine", "retention_curve"))


def _injected_failure(_spark, _sf_dir):
    raise RuntimeError("injected failure")


def check_metrics(line: dict, declared: list[dict], where: str) -> list[str]:
    problems = []
    for m in declared:
        got = line["metrics"].get(m["name"])
        if got is None:
            problems.append(f"{where}: {m['name']} missing")
        elif got["unit"] != m["unit"]:
            problems.append(f"{where}: {m['name']} unit {got['unit']} != {m['unit']}")
        elif not isinstance(got["value"], (int, float)) or not math.isfinite(got["value"]):
            problems.append(f"{where}: {m['name']} value {got['value']!r}")
    return problems


def main() -> int:
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cpus = run.cpu_count()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    work = os.path.join(os.getcwd(), ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    from data_engineering_bootcamp_spark.plans.catalog import QUERIES
    from data_engineering_bootcamp_spark.session import get_spark

    problems: list[str] = []
    spark = get_spark(app_name="perfbench-selftest", extra_conf=run.spark_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for workload in run.WORKLOAD_NAMES:
            for trace in (False, True):
                where = f"{workload} trace={int(trace)}"
                bench = Bench(spark, workload, SMOKE, os.path.join(work, where.replace(" ", "_")),
                              seed=1, seconds=1, trace=trace, cpus=cpus)
                if workload == "stream_ingest":
                    bench.run_stream()
                else:
                    queries = {n: QUERIES[n] for n in SMOKE.ops}
                    queries["injected_failure"] = _injected_failure
                    bench.run_batch(queries)
                res, details = bench.result(start_s=0.0)
                line = run.result_line(res, details, trace)
                key = "per_layer" if trace else "end_to_end"
                problems += check_metrics(line, spec[key], where)
                expect_failed = workload == "analytic_queries"
                if expect_failed and not (0 < line["failed"] < line["attempted"]):
                    problems.append(f"{where}: injected failure not counted: {details}")
                if expect_failed == line["correct"]:
                    problems.append(f"{where}: correct={line['correct']} ({details['failed_checks']})")
                print(f"{where}: attempted={line['attempted']} failed={line['failed']}", flush=True)
    finally:
        run.stop_spark(spark)
        run.remove_work(work)
    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
