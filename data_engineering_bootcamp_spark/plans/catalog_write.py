"""Write-path catalog: driver-gated queries that round-trip the sinks.

SURVEY §2.1 S2/S4-S10 and §2.6 O4/O5 had only unit coverage in round 1;
these entries push each write path through the driver's correctness gate
by writing to a scratch location, reading the layout back, and returning
an aggregate a DuckDB oracle reproduces straight from the source tables
(the physical layout must be semantically transparent — that IS the
assertion).

Pattern notes:
- every entry uses a unique scratch dir / table name per invocation: the
  dir is a `tempfile.TemporaryDirectory` around all of the entry's work
  and tables are dropped in `finally`, so repeated runs on one session
  never collide and a failing run leaves nothing behind;
- results are snapshotted (`collect` of the SMALL aggregate, bounded by
  group cardinality) before the scratch files are deleted — the returned
  DataFrame must outlive the cleanup;
- reference parity: the bucketed-join entry mirrors the reference's
  bucketed-join homework (M3/notebooks/assignment_3_spark.py:36-62), the
  partitioned entry its date-partitioned event sink
  (event_data_pyspark.ipynb cells 7-13).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.datelist import utc_date
from ..sources.readers import load_table, normalize_ts, read_csv
from ..sources.writers import (
    compact_parquet,
    write_bucketed,
    write_partitioned,
    write_repartitioned_sorted,
)


def _snapshot(df: DataFrame, max_rows: int = 100_000) -> DataFrame:
    """Materialize a small result so it survives scratch cleanup.

    Defensive bound (VERDICT r3 #7): gate snapshots are harness paths
    collecting small aggregates, but the pattern is otherwise unbounded
    — a future entry could silently pull a fact table onto the driver.
    ``limit(max_rows + 1)`` caps the transfer itself; exceeding the
    bound raises instead of OOMing."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"_snapshot: result exceeds {max_rows} rows — gate snapshots "
            "are for small aggregates; rework the entry or raise the bound"
        )
    return df.sparkSession.createDataFrame(rows, df.schema)


def _events_file_stream(
    spark: SparkSession, sf_dir: str, d: str, copies: int = 1
) -> DataFrame:
    """The events table as a file stream for the streaming gate entries.
    The file-stream source lists a directory and the testdata table is
    one parquet file, so `copies` symlinks to it go under `{d}/src`
    (two copies replay every event twice). ts is normalized by dtype
    like the batch reader (readers.normalize_ts — the testdata has
    shipped both int64-nanos and MICROS-NTZ encodings); the schema is
    probed under nanosAsLong, set here so any caller's session works."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = os.path.join(d, "src")
    os.mkdir(src)
    for i in range(copies):
        os.symlink(f"{sf_dir}/events.parquet", f"{src}/events_{i}.parquet")
    return normalize_ts(
        spark, spark.readStream.schema(schema).format("parquet").load(src)
    )


def _staged_stream(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Write `df` to `path` as four parquet files and stream them back
    one file per trigger, so the sink sees four micro-batches."""
    df.repartition(4).write.parquet(path)
    return (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(path)
    )


def q_bucketed_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S5 + J14 through the gate: write orders and customer bucketed
    on the join key (bucketBy(16) + sortBy), read the tables back, join
    on the bucket key — a shuffle-elided sort-merge join at scale — and
    roll up revenue per market segment. The oracle joins the raw tables:
    bucketing must not change a single row."""
    tag = uuid.uuid4().hex[:8]
    t_o, t_c = f"bkt_orders_{tag}", f"bkt_cust_{tag}"
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    with tempfile.TemporaryDirectory(
        prefix="bktgate_", ignore_cleanup_errors=True
    ) as d:
        try:
            write_bucketed(
                orders.select("o_orderkey", "o_custkey", "o_totalprice"),
                t_o,
                "o_custkey",
                path=f"{d}/orders",
            )
            write_bucketed(
                cust.select("c_custkey", "c_mktsegment"),
                t_c,
                "c_custkey",
                path=f"{d}/cust",
            )
            o, c = spark.table(t_o), spark.table(t_c)
            out = (
                o.join(c, o.o_custkey == c.c_custkey)
                .groupBy("c_mktsegment")
                .agg(
                    F.round(F.sum("o_totalprice"), 2).alias("total_price"),
                    F.count(F.lit(1)).alias("n_orders"),
                )
            )
            return _snapshot(out)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t_o}")
            spark.sql(f"DROP TABLE IF EXISTS {t_c}")


ORACLE_BUCKETED_JOIN = """
SELECT c_mktsegment,
       ROUND(SUM(o_totalprice), 2) AS total_price,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


def q_partitioned_prune_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S7 through the gate: write orders date-partitioned (derived
    o_month column — the date-partition transform), read back with a
    partition filter (pruned scan: only the 1995-07 directory is
    touched), aggregate. Oracle filters the raw table by the same
    month."""
    orders = load_table(spark, sf_dir, "orders")
    orders = orders.withColumn(
        "o_month",
        F.substring(utc_date(orders, "o_orderdate").cast("string"), 1, 7),
    )
    with tempfile.TemporaryDirectory(
        prefix="partgate_", ignore_cleanup_errors=True
    ) as d:
        write_partitioned(orders, f"{d}/orders", "o_month")
        back = spark.read.parquet(f"{d}/orders").where(
            F.col("o_month") == "1995-07"
        )
        out = back.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        return _snapshot(out)


ORACLE_PARTITIONED_PRUNE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
WHERE strftime(o_orderdate, '%Y-%m') = '1995-07'
GROUP BY 1
"""


def q_sorted_layout_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4/O5 through the gate: repartition(8, l_returnflag) +
    sortWithinPartitions (the run-length/dictionary-friendly layout the
    reference's storage experiment measures), read back, aggregate.
    Layout must be semantically invisible."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag", "l_linestatus"
    )
    with tempfile.TemporaryDirectory(
        prefix="sortgate_", ignore_cleanup_errors=True
    ) as d:
        write_repartitioned_sorted(
            li, f"{d}/li", num_partitions=8, key="l_returnflag",
            sort_cols=["l_returnflag", "l_linestatus", "l_orderkey"],
        )
        back = spark.read.parquet(f"{d}/li")
        out = back.groupBy("l_returnflag", "l_linestatus").agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        return _snapshot(out)


ORACLE_SORTED_LAYOUT = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY 1, 2
"""


def q_csv_roundtrip_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 through the gate: nation → CSV (header) → read back with
    schema inference → count per region. Inference must recover the
    integer keys exactly."""
    nation = load_table(spark, sf_dir, "nation")
    with tempfile.TemporaryDirectory(
        prefix="csvgate_", ignore_cleanup_errors=True
    ) as d:
        nation.coalesce(1).write.mode("overwrite").option(
            "header", "true"
        ).csv(f"{d}/nation")
        back = read_csv(spark, f"{d}/nation", header=True, infer=True)
        out = (
            back.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n_nations"),
                F.min("n_name").alias("first_name"),
            )
            .withColumn("n_regionkey", F.col("n_regionkey").cast("int"))
        )
        return _snapshot(out)


ORACLE_CSV_ROUNDTRIP = """
SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_name
FROM nation GROUP BY 1
"""


def q_orc_roundtrip_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC as the second columnar source/sink format beside parquet
    (Spark-native, no extra jar): events → ORC → read back → per-type
    rollup. The oracle aggregates the RAW table, so the hash match
    proves the ORC round-trip preserved every id and value exactly;
    cents are integers (half-up) so the rollup has no float
    association-order hazard."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    with tempfile.TemporaryDirectory(
        prefix="orcgate_", ignore_cleanup_errors=True
    ) as d:
        ev.write.mode("overwrite").orc(f"{d}/events")
        back = spark.read.orc(f"{d}/events")
        out = back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
            F.min("event_id").alias("min_event"),
            F.max("event_id").alias("max_event"),
        )
        return _snapshot(out)


ORACLE_ORC_ROUNDTRIP = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       MIN(event_id) AS min_event,
       MAX(event_id) AS max_event
FROM events GROUP BY 1
"""


def q_insert_select_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/S10 through the gate: create a table from the 'F'-status
    slice via overwrite insertInto (S9), append the 'O' slice with
    INSERT INTO ... SELECT (S10), read the table back and aggregate.
    The oracle unions the two slices from the raw table."""
    tag = uuid.uuid4().hex[:8]
    tbl = f"ins_orders_{tag}"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    with tempfile.TemporaryDirectory(
        prefix="insgate_", ignore_cleanup_errors=True
    ) as d:
        try:
            # schema-only table definition, then S9 overwrite-insert the F
            # slice into it
            orders.limit(0).write.option("path", f"{d}/t").saveAsTable(tbl)
            orders.where(F.col("o_orderstatus") == "F").write.insertInto(
                tbl, overwrite=True
            )
            orders.where(
                F.col("o_orderstatus") == "O"
            ).createOrReplaceTempView(f"src_{tag}")
            spark.sql(f"INSERT INTO {tbl} SELECT * FROM src_{tag}")
            out = (
                spark.table(tbl)
                .groupBy("o_orderpriority")
                .agg(
                    F.count(F.lit(1)).alias("n_orders"),
                    F.round(F.sum("o_totalprice"), 2).alias("total_price"),
                )
            )
            return _snapshot(out)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            spark.catalog.dropTempView(f"src_{tag}")


ORACLE_INSERT_SELECT = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
WHERE o_orderstatus IN ('F', 'O')
GROUP BY 1
"""


def _list_parquet_files(spark: SparkSession, path: str) -> list:
    """Enumerate a directory's parquet data files via the Hadoop FS
    API (the listing a cluster metadata scan sees): [(name, bytes)]."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(hconf)
    return [
        (st.getPath().getName(), int(st.getLen()))
        for st in fs.listStatus(p)
        if st.getPath().getName().endswith(".parquet")
    ]


def q_compaction_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction through the gate — the lakehouse
    OPTIMIZE / Iceberg rewrite_data_files maintenance pass: fragment
    the events slice into 64 tiny files (the shape a streaming sink or
    fine-grained upserts accrete), compact with
    `sources.writers.compact_parquet` to ceil(n / 25_000) files, and
    emit per layout the FS-listed file count plus content aggregates
    (rows, distinct users, cents-exact value sum). The oracle computes
    everything from the raw events table — including BOTH file counts
    (64 by construction; the compacted count from the same ceil
    arithmetic) — so the entry asserts the compaction hit its file
    target AND changed no row."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    ).select("event_id", "user_id", "event_type", "value")
    with tempfile.TemporaryDirectory(
        prefix="compactgate_", ignore_cleanup_errors=True
    ) as d:
        ev.repartition(64).write.mode("overwrite").parquet(f"{d}/frag")
        compact_parquet(spark, f"{d}/frag", f"{d}/compact", 25_000)
        out = None
        for layout, sub in (("fragmented", "frag"), ("compacted", "compact")):
            files = _list_parquet_files(spark, f"{d}/{sub}")
            agg = (
                spark.read.parquet(f"{d}/{sub}")
                .groupBy(F.lit(layout).alias("layout"))
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.countDistinct("user_id").alias("n_users"),
                    F.sum(
                        F.round(F.col("value") * 100).cast("long")
                    ).alias("value_cents"),
                )
                .withColumn("file_count", F.lit(len(files)).cast("long"))
                .select(
                    "layout", "file_count", "n_rows", "n_users",
                    "value_cents",
                )
            )
            out = agg if out is None else out.unionByName(agg)
        return _snapshot(out)


ORACLE_COMPACTION = """
WITH base AS (
  SELECT user_id, value FROM events WHERE user_id IS NOT NULL),
s AS (
  SELECT COUNT(*) AS n_rows,
         COUNT(DISTINCT user_id) AS n_users,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
              AS BIGINT) AS value_cents
  FROM base)
SELECT 'fragmented' AS layout, CAST(64 AS BIGINT) AS file_count,
       n_rows, n_users, value_cents
FROM s
UNION ALL
SELECT 'compacted', CAST((n_rows + 24999) // 25000 AS BIGINT),
       n_rows, n_users, value_cents
FROM s
"""


# Process-unique manifest path: the DuckDB oracle is a static SQL
# string PER PROCESS (the f-string below is evaluated at import), so
# the path is minted once under a fresh private tempdir — two
# concurrent gate/bench runs can no longer clobber each other's
# manifest, and a pre-planted symlink at a predictable /tmp name can't
# redirect the write. The entry rewrites the file fresh on every
# invocation, before the oracle runs.
_MANIFEST_DIR = tempfile.mkdtemp(prefix="spark_graft_manifest_")
_MANIFEST_CSV = os.path.join(_MANIFEST_DIR, "metadata_manifest.csv")
atexit.register(shutil.rmtree, _MANIFEST_DIR, ignore_errors=True)


def q_metadata_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 through the gate: table-files metadata scan.

    Mirrors the reference's Iceberg ``db.table.files`` metadata queries
    (M3/notebooks/event_data_pyspark.ipynb cells 11-13,
    assignment_3_spark.ipynb cells 30-32): write the same lineitem slice
    in a sorted layout (repartition(8, key) + sortWithinPartitions —
    O4/O5) and an unsorted 8-partition layout, enumerate the written
    parquet files through the Hadoop FileSystem API, and roll up
    (file_count, total_bytes) per layout — the storage-experiment
    comparison the reference runs on Iceberg metadata tables.

    Grounding: n_rows per layout is read back from the actual parquet
    data and must equal COUNT(*) of the source table (the oracle takes
    it from the raw lineitem view), so the entry asserts both the
    metadata rollup AND that neither layout lost a row. The oracle
    aggregates the raw per-file manifest this entry publishes.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag", "l_linestatus"
    )
    with tempfile.TemporaryDirectory(
        prefix="metagate_", ignore_cleanup_errors=True
    ) as d:
        write_repartitioned_sorted(
            li, f"{d}/sorted", num_partitions=8, key="l_returnflag",
            sort_cols=["l_returnflag", "l_linestatus", "l_orderkey"],
        )
        li.repartition(8).write.mode("overwrite").parquet(f"{d}/unsorted")

        # S8: enumerate data files via the Hadoop FS API (the same
        # listing a cluster's metadata scan sees — no local os.walk)
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        manifest: list[tuple[str, str, int]] = []
        for layout in ("sorted", "unsorted"):
            p = jvm.org.apache.hadoop.fs.Path(f"{d}/{layout}")
            fs = p.getFileSystem(hconf)
            for st in fs.listStatus(p):
                name = st.getPath().getName()
                if name.endswith(".parquet"):
                    manifest.append((layout, name, int(st.getLen())))
        with open(_MANIFEST_CSV, "w") as fh:
            fh.write("layout,file_name,bytes\n")
            for layout, name, size in manifest:
                fh.write(f"{layout},{name},{size}\n")

        mdf = spark.createDataFrame(
            [(l, n, b) for l, n, b in manifest],
            "layout string, file_name string, bytes long",
        )
        rollup = mdf.groupBy("layout").agg(
            F.count(F.lit(1)).alias("file_count"),
            F.sum("bytes").alias("total_bytes"),
        )
        counts = None
        for layout in ("sorted", "unsorted"):
            c = (
                spark.read.parquet(f"{d}/{layout}")
                .groupBy(F.lit(layout).alias("layout"))
                .agg(F.count(F.lit(1)).alias("n_rows"))
            )
            counts = c if counts is None else counts.unionByName(c)
        out = rollup.join(counts, "layout").select(
            "layout", "file_count", "total_bytes", "n_rows"
        )
        return _snapshot(out)


ORACLE_METADATA_SCAN = f"""
SELECT m.layout,
       m.file_count,
       m.total_bytes,
       c.n_rows
FROM (
  SELECT layout,
         COUNT(*) AS file_count,
         CAST(SUM(bytes) AS BIGINT) AS total_bytes
  FROM read_csv('{_MANIFEST_CSV}', header=true)
  GROUP BY 1
) m
CROSS JOIN (SELECT COUNT(*) AS n_rows FROM lineitem) c
"""


# ---------------------------------------------------------------------------
# Training-shard export (VERDICT r15 #1): mix -> pack -> partitioned
# shard write -> FS-manifest rollup
# ---------------------------------------------------------------------------

def q_training_export_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final stage every production pretraining pipeline ends with
    (VERDICT r15 #1): the curated corpus is MIXED (per-source quota
    sampling — `operators.sampling.weighted_mix`, the same
    deterministic rate schedule as `corpus_mix_plan`), PACKED into
    fixed-capacity context windows (`operators.chunking.
    pack_token_stream`, 256-token packs over 8 doc_id-mod shards), and
    physically EXPORTED as a shard-partitioned parquet dataset that a
    training job's data loader would mount per worker. The entry then
    rolls the export up from BOTH sides of reality: per-shard pack /
    doc / token totals are read BACK from the written files (the
    export must be lossless), and the per-shard file count comes from
    a Hadoop-FS manifest listing (the `metadata_scan` S8 pattern) —
    while the oracle predicts every one of those numbers in CLOSED
    FORM from the raw documents table (mix quota -> shard cumsum ->
    pack cut -> exactly ONE file per shard directory).

    Scale shape: the mix is one window shuffle on the source key; the
    pack-and-write tail is ONE shuffle on the shard key — the pack
    window partitions by shard, the (shard, pack_id) groupBy reuses
    that hash layout (grouping on a superset of the partitioning keys
    adds no Exchange), and the dynamic-partition write emits each
    shard's single task straight to its shard= directory with NO
    repartition and NO global sort. One file per shard is therefore a
    STRUCTURAL consequence of the plan — each shard lives in exactly
    one task — which is why the oracle can predict the file count;
    tests/test_writers.py pins the layout and the two-Exchange plan
    shape."""
    from ..operators.chunking import pack_token_stream
    from ..operators.sampling import weighted_mix

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # per-source keep rate, derived from the source id so both engines
    # replay it — the corpus_mix_plan schedule (catalog_mix.py)
    rate = F.lit(20) + F.lit(5) * (
        F.coalesce(
            F.regexp_extract("source", r"(\d+)", 1).cast("int"), F.lit(0)
        )
        % 7
    )
    with tempfile.TemporaryDirectory(
        prefix="trainexp_", ignore_cleanup_errors=True
    ) as d:
        kept = weighted_mix(docs, ["source"], "doc_id", rate)
        packs = pack_token_stream(kept, capacity=256, n_shards=8)
        out_path = f"{d}/shards"
        packs.write.mode("overwrite").partitionBy("shard").parquet(out_path)

        # FS-manifest rollup (S8): one listing per shard directory
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        root = jvm.org.apache.hadoop.fs.Path(out_path)
        fs = root.getFileSystem(hconf)
        manifest: list[tuple[int, int]] = []
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not name.startswith("shard="):
                continue
            n_files = sum(
                1
                for f in fs.listStatus(st.getPath())
                if f.getPath().getName().endswith(".parquet")
            )
            manifest.append((int(name.split("=", 1)[1]), n_files))
        mdf = spark.createDataFrame(
            manifest, "shard long, file_count long"
        )
        back = (
            spark.read.parquet(out_path)
            .groupBy(F.col("shard").cast("long").alias("shard"))
            .agg(
                F.count(F.lit(1)).alias("n_packs"),
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("n_tokens"),
            )
        )
        out = mdf.join(back, "shard").select(
            "shard", "file_count", "n_packs", "n_docs", "n_tokens"
        )
        return _snapshot(out)


ORACLE_TRAINING_EXPORT = r"""
WITH rated AS (
  SELECT doc_id, text,
         20 + 5 * (COALESCE(TRY_CAST(regexp_extract(source, '(\d+)', 1)
                            AS INT), 0) % 7)
           AS rate_pct,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
           AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n_docs
  FROM documents),
kept AS (
  SELECT doc_id, text FROM rated
  WHERE rk <= (n_docs * rate_pct + 99) // 100),
toks AS (
  SELECT doc_id, doc_id % 8 AS shard,
         len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
           AS n_tokens
  FROM kept),
offs AS (
  SELECT shard, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS off
  FROM toks),
packs AS (
  SELECT shard, CAST(floor(off / 256.0) AS BIGINT) AS pack_id,
         COUNT(*) AS n_docs, SUM(n_tokens)::BIGINT AS n_tokens
  FROM offs GROUP BY 1, 2)
SELECT shard::BIGINT AS shard,
       CAST(1 AS BIGINT) AS file_count,
       COUNT(*) AS n_packs,
       SUM(n_docs)::BIGINT AS n_docs,
       SUM(n_tokens)::BIGINT AS n_tokens
FROM packs GROUP BY shard
"""
