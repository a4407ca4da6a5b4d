#!/usr/bin/env python
"""Regenerate the PLANS.md audit table: explain("formatted") every
catalog query at sf0.01 and count the plan features that matter for the
100 TB posture (shuffles, join strategies, Python stages, scan widths).

Usage: python tools/plan_audit.py [sf_dir] > /tmp/plan_table.md
Counts are plan-node pairs where AQE prints a node twice (initial +
final plan); the relative numbers are what the audit tracks.

Entries tagged "eager" in the catalog's entry table are skipped: building
their plan runs jobs (streams, write-path round-trips, iterative
checkpointed loops, the 31-day replays), so the plan left to explain is
a read-back or a checkpointed tail, not the work. tests/test_plan_posture.py
skips the same set.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too, and they read PYTHONPATH
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.getenv("PYTHONPATH")]))

from data_engineering_bootcamp_spark.plans.catalog import QUERIES, tagged  # noqa: E402
from data_engineering_bootcamp_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    print("| query | shuffles | broadcast joins | SMJ | BNLJ | python stages | scan cols |")
    print("|---|---|---|---|---|---|---|")
    eager = set(tagged("eager"))
    for name, fn in QUERIES.items():
        if name in eager:
            continue
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # AQE prints each operator twice (initial + final plan): report
        # node PAIRS so the table stays comparable round over round
        def pairs(pat: str) -> int:
            return -(-len(re.findall(pat, plan)) // 2)

        n_ex = pairs(r"\bExchange\b")
        n_bhj = pairs(r"BroadcastHashJoin")
        n_smj = pairs(r"SortMergeJoin")
        n_bnlj = pairs(r"BroadcastNestedLoopJoin")
        n_py = pairs(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas")
        scans = ",".join(
            str(len(m.split(",")))
            for m in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        )
        print(
            f"| {name} | {n_ex} | {n_bhj} | {n_smj} | {n_bnlj} | {n_py} "
            f"| {scans} |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
