"""SparkSession factory.

Mirrors the reference's session habits (shuffle-partition tuning as in
M3/notebooks/Caching.ipynb cell 0; AQE left on as seen in captured plans,
Caching.ipynb cell 0 output "AdaptiveSparkPlan") while defaulting to
cluster-safe settings: AQE with skew-join handling, partition coalescing,
and Arrow-accelerated Python interop for the Pandas-UDF operators.

At 100 TB these same settings hold: AQE re-plans shuffle partition counts
at runtime from map-side statistics, so the static
``spark.sql.shuffle.partitions`` is only an upper bound hint; skew joins
are split automatically; broadcast joins engage below the (configurable)
threshold.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def env_number(name: str, default: int | float) -> int | float:
    """``$name`` parsed as the type of ``default`` (int or float),
    ``default`` when unset. A value that does not parse is reported on
    stderr and read as ``default``, so a typo cannot stop an import or
    a bench run."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        return type(default)(raw)
    except ValueError:
        kind = "an integer" if isinstance(default, int) else "a number"
        print(f"warning: {name}={raw!r} is not {kind}; using {default}",
              file=sys.stderr)
        return default


def graft_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` as an int, 32 when unset or not an integer."""
    return env_number("SPARK_GRAFT_CPUS", 32)


DEFAULT_SHUFFLE_PARTITIONS = graft_cpus()


def get_spark(
    app_name: str = "data-engineering-bootcamp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ANSI mode is disabled: the reference corpus is PostgreSQL-permissive
    (silent NULL on bad casts via NULLIF guards etc., see
    M2/homework/assignment_2_feedback.md §1) and the operator layer relies
    on null-on-out-of-bounds array access semantics (Spark `get`,
    M3/src/jobs/monthly_user_site_hits_job.py:11-13).
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{graft_cpus()}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        # driver testdata stores events.ts as TIMESTAMP(NANOS) which Spark's
        # parquet reader rejects; read as long ns and convert in sources
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
