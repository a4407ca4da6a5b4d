"""Expected answers for the batch ops, keyed by scale factor.

The benchmark's inputs are fixed tables in a seed-chosen row order, so
each op's DuckDB oracle answer is the same for every seed. This script
runs the oracles once over the base tables and records, per op, the row
count, the column names and a hash of the answer rendered the way
``tests/oracle_harness.normalize`` renders it; a run then checks its
Spark result against that record without running DuckDB.

    python3 perfbench/expected.py    # rewrites perfbench/expected.json

Run it from the repository root after changing datagen.py or an op list.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TESTS = os.path.join(ROOT, "tests")
PATH = os.path.join(HERE, "expected.json")


def answer_key(pdf) -> dict:
    """Row count, lower-cased column names and a hash of the normalized
    values of one answer."""
    if TESTS not in sys.path:
        sys.path.insert(0, TESTS)
    from oracle_harness import normalize

    pdf = pdf.rename(columns=str.lower)
    rendered = normalize(pdf).to_csv(index=False, header=False)
    return {
        "rows": len(pdf),
        "columns": sorted(pdf.columns),
        "sha256": hashlib.sha256(rendered.encode()).hexdigest(),
    }


def load() -> dict:
    with open(PATH) as fh:
        return json.load(fh)


def sf_key(sf: float) -> str:
    return f"sf{sf:g}"


def main() -> None:
    sys.path[:0] = [HERE, ROOT, TESTS]
    import datagen
    import harness
    from oracle_harness import duck_con
    from run import remove_work
    from selftest import SMOKE

    from data_engineering_bootcamp_spark.plans.catalog import ORACLES

    plan: dict[float, set[str]] = {}
    for cfg in [*harness.WORKLOADS.values(), SMOKE]:
        if cfg.ops:
            plan.setdefault(cfg.sf, set()).update(n for n in cfg.ops if n in ORACLES)
    work = os.path.join(os.getcwd(), ".perfbench_work", "expected")
    out: dict[str, dict] = {}
    try:
        for sf, ops in sorted(plan.items()):
            data = os.path.join(work, sf_key(sf))
            datagen.write_tables(datagen.base_tables(sf), data)
            con = duck_con(data)
            out[sf_key(sf)] = {op: answer_key(con.sql(ORACLES[op]).df()) for op in sorted(ops)}
            con.close()
            print(f"{sf_key(sf)}: {len(ops)} answers", file=sys.stderr)
    finally:
        remove_work(work)
    with open(PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
