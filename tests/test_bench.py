"""The bench's output contract: the compact stdout line fits the
driver's 2000-byte tail window with the pinned query set, the median
rule, and a run whose every query fails still prints its line, exits 0
and leaves the headline artifact alone."""

import json
import os
import subprocess
import sys

import pytest

import bench
from data_engineering_bootcamp_spark.plans.catalog import tagged

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _record(t: float) -> dict:
    """A full headline record with every query at `t` seconds, carrying
    every optional field the compact line can print."""
    timings = {name: t for name in tagged("headline")}
    total = round(t * len(timings), 3)
    return {
        "metric": "headline_queries_total_wall_sec",
        "value": total,
        "valid": True,
        "sf": 0.1,
        "bench_reps": 3,
        "cpu_marker_sec": 0.512,
        "cpu_marker_mc_sec": 1.234,
        "min_total_sec": total,
        "host_factor": 1.234,
        "host_factor_mc": 5.123,
        "value_host_normalized": round(total / 1.234, 3),
        "queries": timings,
        "noisy_entries": tagged("headline")[:12],
        "budget_degraded": tagged("headline")[:40],
        "errors": {"pricing_summary": "Py4JError: rep 3"},
    }


@pytest.mark.parametrize("t", [1.234, 12.345])
def test_compact_line_carries_pinned_set(t):
    line = bench.compact_line(_record(t), "BENCH_full.json")
    assert len(line.encode()) <= 1980
    doc = json.loads(line)
    assert set(tagged("pinned")) <= set(doc["queries"])
    assert doc["queries_omitted"] + len(doc["queries"]) == len(tagged("headline"))
    assert doc["n_noisy"] == 12 and doc["n_degraded"] == 40
    assert doc["n_errors_total"] == 1 and "n_errors" not in doc


def test_compact_line_sheds_from_the_end_when_pinned_set_overflows():
    line = bench.compact_line(_record(123.456), "BENCH_full.json")
    assert len(line.encode()) <= 1980
    printed = list(json.loads(line)["queries"])
    assert 0 < len(printed) < len(tagged("pinned"))
    assert printed == tagged("pinned")[: len(printed)]


def test_median_of_reps():
    assert bench.median_of_reps([3.0, 1.0, 2.0], extra_rep=False) == 2.0
    # a plainly configured even count: mean of the two middles
    assert bench.median_of_reps([4.0, 1.0, 3.0, 2.0], extra_rep=False) == 2.5
    # the noise guard bought the fourth rep: lower middle
    assert bench.median_of_reps([4.0, 1.0, 3.0, 2.0], extra_rep=True) == 2.0


def test_is_noisy():
    # a cold first rep alone is not contention
    assert not bench.is_noisy([1.776, 0.217, 0.214])
    # a >2x spread among the warm reps still is
    assert bench.is_noisy([7.3, 15.7, 6.1])
    # with two reps the first one counts
    assert bench.is_noisy([1.0, 2.5])


def test_failed_run_still_prints_and_exits_zero(tmp_path):
    artifact = os.path.join(REPO, "BENCH_full.json")
    before = open(artifact, "rb").read() if os.path.exists(artifact) else None
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/nonexistent",
        SPARK_GRAFT_BENCH_REPS="1",
        SPARK_GRAFT_BENCH_BUDGET_SEC="abc",
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_CPUS="2",
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "pricing_summary"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    doc = json.loads(proc.stdout.strip().splitlines()[-1])
    assert doc["valid"] is False and doc["value"] is None
    assert doc["n_errors"] == 1 and doc["full_artifact"] is None
    assert "SPARK_GRAFT_BENCH_BUDGET_SEC='abc'" in proc.stderr
    after = open(artifact, "rb").read() if os.path.exists(artifact) else None
    assert after == before


def test_unknown_name_exits_2_before_spark():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "no_such_entry"],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 2 and "no_such_entry" in proc.stderr
    assert proc.stdout == ""
