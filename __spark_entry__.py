"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The actual engine lives in ``data_engineering_bootcamp_spark``; this
module just re-exports its query catalog (plans/catalog.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_engineering_bootcamp_spark.plans.catalog import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the composed corpus-curation pipeline with the
    LEARNED quality gate (in-pipeline hashed-NB classifier → lang-ID
    → exact dedup → near-dup connected-components cluster retention →
    deterministic split → per-split stats) on sf0.001."""
    return QUERIES["corpus_curation_pipeline_learned"](
        spark, "/root/testdata/sf0.001"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable SQL oracle for every query: each entry-table row
    carries one, approximate operators included (their oracles replay
    the deterministic recipe), so every query is value-checked."""
    return dict(ORACLES)
