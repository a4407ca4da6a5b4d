"""Query catalog extension — SURVEY §2 operators and training-pipeline
capabilities not covered by the core catalog: SCD incremental advance
(U1), ordered struct-array history (A6/W9/W10), dual-array monthly
rollup (A12 homework shape), gaps-and-islands streaks + 90-row stretch
(W12), semi/anti joins (J6/J7), upsert-as-merge (S11), n-gram Jaccard
and embedding-cosine near-dup, and the multimodal mapInPandas plumbing.

Same conventions as catalog.py (rounding, cents-as-BIGINT for money in
string renderings, identical aliases on both engines).
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.datelist import utc_date, utc_date_of_ts, utc_ts_str

from ..functions.arrays import array_last, ordered_collect
from ..operators.dedup import dedup_keep_first, dedup_ngram_jaccard
from ..operators.graph import build_vertices
from ..operators.multimodal import (
    extract_features,
    frame_sample,
    resize_images,
    stdlib_decode_kernel,
)
from ..operators.scd import scd_from_snapshots, scd_incremental
from .catalog_extra import _GRAMS_TK, _TOKS_TK
from .catalog_write import _events_file_stream, _snapshot
from ..operators.similarity import (
    cosine_topk_ivf,
    neardup_embedding_cosine,
    semantic_dedup,
)
from ..sources.readers import load_table
from ..streaming.pipelines import sliding_counts, tumbling_counts
from ..streaming.sinks import drain

JAN = "2024-01-01"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _arr_str(arr):
    return F.concat_ws(",", F.transform(arr, lambda x: x.cast("string")))


def _jan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.where(
        F.col("user_id").isNotNull()
        & (F.trunc(utc_date_of_ts("ts"), "month") == F.lit(JAN).cast("date"))
    ).withColumn("utc_d", utc_date_of_ts("ts"))


# ---------------------------------------------------------------------------
# SCD incremental advance (U1 UNION ALL assembly,
# M1/lecture-lab/incremental_scd_query.sql:38-110)
# ---------------------------------------------------------------------------

def _dominant_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (user, January day-of-month): dominant event_type with a
    deterministic tie-break (W3/W4)."""
    daily = (
        _jan_events(spark, sf_dir)
        .groupBy("user_id", F.dayofmonth("utc_d").alias("d"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return dedup_keep_first(
        daily, ["user_id", "d"], [F.desc("c"), F.asc("event_type")]
    ).select("user_id", "d", F.col("event_type").alias("dominant"))


def q_scd_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 one-period advance: backfill history over days 1..30, then
    advance with the day-31 snapshot — historical ∪ unchanged ∪ sealed ∪
    opened ∪ new ∪ retired (J1 full-outer core + U1)."""
    dom = _dominant_daily(spark, sf_dir)
    history = scd_from_snapshots(
        dom.where(F.col("d") <= 30), "user_id", "d", ["dominant"]
    )
    snap31 = dom.where(F.col("d") == 31).select("user_id", "dominant")
    out = scd_incremental(history, snap31, "user_id", "d", ["dominant"], 31)
    return out.select(
        "user_id",
        F.col("dominant").alias("event_type"),
        "start_d",
        "end_d",
    )


ORACLE_SCD_INCREMENTAL = f"""
WITH daily AS (
  SELECT user_id, EXTRACT(day FROM ts)::INT AS d, event_type, COUNT(*) AS c
  FROM events
  WHERE user_id IS NOT NULL
    AND date_trunc('month', ts) = TIMESTAMP '{JAN}'
  GROUP BY 1, 2, 3),
dom AS (
  SELECT user_id, d, event_type AS dominant FROM (
    SELECT user_id, d, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id, d
                              ORDER BY c DESC, event_type) AS rn
    FROM daily) WHERE rn = 1),
flagged AS (
  SELECT user_id, d, dominant,
         CASE WHEN LAG(dominant) OVER w IS DISTINCT FROM dominant
              THEN 1 ELSE 0 END AS chg
  FROM dom WHERE d <= 30
  WINDOW w AS (PARTITION BY user_id ORDER BY d)),
streaks AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY d
                           ROWS UNBOUNDED PRECEDING) AS s
  FROM flagged),
history AS (
  SELECT user_id, dominant, MIN(d) AS start_d, MAX(d) AS end_d
  FROM streaks GROUP BY user_id, dominant, s),
snap AS (SELECT user_id, dominant FROM dom WHERE d = 31),
hist_old AS (SELECT * FROM history WHERE end_d < 30),
cur AS (SELECT * FROM history WHERE end_d = 30),
j AS (
  SELECT c.user_id AS cu, s.user_id AS su, c.dominant AS cd,
         s.dominant AS sd, c.start_d, c.end_d
  FROM cur c FULL OUTER JOIN snap s ON c.user_id = s.user_id)
SELECT user_id, dominant AS event_type, start_d, end_d FROM hist_old
UNION ALL
SELECT cu, cd, start_d, 31 FROM j
WHERE cu IS NOT NULL AND su IS NOT NULL AND cd IS NOT DISTINCT FROM sd
UNION ALL
SELECT cu, cd, start_d, end_d FROM j
WHERE cu IS NOT NULL AND su IS NOT NULL AND cd IS DISTINCT FROM sd
UNION ALL
SELECT su, sd, 31, 31 FROM j
WHERE cu IS NOT NULL AND su IS NOT NULL AND cd IS DISTINCT FROM sd
UNION ALL
SELECT su, sd, 31, 31 FROM j WHERE cu IS NULL
UNION ALL
SELECT cu, cd, start_d, end_d FROM j WHERE su IS NULL AND cu IS NOT NULL
"""


# ---------------------------------------------------------------------------
# Ordered struct-array history (A6 ordered ARRAY_AGG + W9 latest-mark +
# array_last, M1/homework/assignment.sql:50-53, M1/sql/load_players_table_day2.sql:62-68)
# ---------------------------------------------------------------------------

def q_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer ordered order history folded into an array — the
    players/actors cumulative-array shape. Money as integer cents so the
    string rendering is engine-exact."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    entry = F.concat_ws(
        ":", utc_date(orders, "o_orderdate").cast("string"), cents.cast("string")
    )
    hist = ordered_collect(
        entry, F.struct(F.col("o_orderdate"), F.col("o_orderkey"))
    )
    return (
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            hist.alias("_hist"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            "c_custkey",
            F.concat_ws(",", "_hist").alias("history"),
            "n_orders",
            array_last(F.col("_hist")).alias("latest_entry"),
        )
    )


ORACLE_ORDER_HISTORY = """
WITH e AS (
  SELECT o_custkey,
         strftime(o_orderdate, '%Y-%m-%d') || ':' ||
           CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR) AS entry,
         o_orderdate, o_orderkey
  FROM orders)
SELECT o_custkey AS c_custkey,
       array_to_string(array_agg(entry ORDER BY o_orderdate, o_orderkey), ',')
         AS history,
       COUNT(*) AS n_orders,
       (array_agg(entry ORDER BY o_orderdate, o_orderkey))[-1] AS latest_entry
FROM e GROUP BY o_custkey
"""


# ---------------------------------------------------------------------------
# Dual-array monthly rollup (A12/A13 + A4 per-day distinct,
# M2/homework/assignmnet_2.sql:204-260 host_activity_reduced)
# ---------------------------------------------------------------------------

def q_host_activity_reduced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: 31-slot January hit_array + unique_visitors array
    (zero-filled via the day spine J12)."""
    daily = (
        _jan_events(spark, sf_dir)
        .groupBy("event_type", F.dayofmonth("utc_d").alias("di"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.countDistinct("user_id").alias("u"),
        )
    )
    types = daily.select("event_type").distinct()
    spine = types.select(
        "event_type", F.explode(F.sequence(F.lit(1), F.lit(31))).alias("di")
    )
    filled = spine.join(daily, ["event_type", "di"], "left").select(
        "event_type",
        "di",
        F.coalesce(F.col("c"), F.lit(0).cast("long")).alias("c"),
        F.coalesce(F.col("u"), F.lit(0).cast("long")).alias("u"),
    )
    return filled.groupBy("event_type").agg(
        _arr_str(ordered_collect("c", "di")).alias("hit_array"),
        _arr_str(ordered_collect("u", "di")).alias("unique_visitors"),
        F.sum("c").alias("total_hits"),
    )


ORACLE_HOST_ACTIVITY = f"""
WITH daily AS (
  SELECT event_type, EXTRACT(day FROM ts)::INT AS di, COUNT(*) AS c,
         COUNT(DISTINCT user_id) AS u
  FROM events
  WHERE user_id IS NOT NULL
    AND date_trunc('month', ts) = TIMESTAMP '{JAN}'
  GROUP BY 1, 2),
types AS (SELECT DISTINCT event_type FROM daily),
spine AS (
  SELECT t.event_type, s.di
  FROM types t, LATERAL (SELECT UNNEST(range(1, 32)) AS di) s),
filled AS (
  SELECT s.event_type, s.di, COALESCE(d.c, 0)::BIGINT AS c,
         COALESCE(d.u, 0)::BIGINT AS u
  FROM spine s LEFT JOIN daily d
    ON s.event_type = d.event_type AND s.di = d.di)
SELECT event_type,
       array_to_string(list_transform(array_agg(c ORDER BY di),
                                      x -> CAST(x AS VARCHAR)), ',') AS hit_array,
       array_to_string(list_transform(array_agg(u ORDER BY di),
                                      x -> CAST(x AS VARCHAR)), ',') AS unique_visitors,
       SUM(c)::BIGINT AS total_hits
FROM filled GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Gaps-and-islands streaks + 90-row stretch (W12,
# M4A/homework/homework.md:20-22)
# ---------------------------------------------------------------------------

def q_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day active streak per user ("LeBron streak"
    shape): island id = date - row_number days."""
    days = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id", utc_date_of_ts("ts").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    islands = days.withColumn(
        "grp", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    per_island = islands.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len")
    )
    return per_island.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak"),
        F.sum("len").cast("long").alias("n_active_days"),
    )


ORACLE_LONGEST_STREAK = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
  FROM events WHERE user_id IS NOT NULL),
islands AS (
  SELECT user_id, d,
         d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INT)
           AS grp
  FROM days),
per_island AS (
  SELECT user_id, grp, COUNT(*) AS len FROM islands GROUP BY 1, 2)
SELECT user_id, MAX(len)::BIGINT AS longest_streak,
       SUM(len)::BIGINT AS n_active_days
FROM per_island GROUP BY user_id
"""


def q_best_stretch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best 30-day-row revenue stretch per order priority ("most wins in
    a 90-game stretch" shape): rolling frame + per-group argmax."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_orderpriority", utc_date(orders, "o_orderdate").alias("d")
    ).agg(F.sum("o_totalprice").alias("rev"))
    w30 = (
        Window.partitionBy("o_orderpriority").orderBy("d").rowsBetween(-29, 0)
    )
    rolled = daily.withColumn("roll", F.round(F.sum("rev").over(w30), 2))
    pick = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("roll"), F.asc("d")
    )
    return (
        rolled.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            "o_orderpriority",
            F.col("roll").alias("best_30d_revenue"),
            F.col("d").alias("stretch_end"),
        )
    )


ORACLE_BEST_STRETCH = """
WITH daily AS (
  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS d,
         SUM(o_totalprice) AS rev
  FROM orders GROUP BY 1, 2),
rolled AS (
  SELECT o_orderpriority, d,
         ROUND(SUM(rev) OVER (PARTITION BY o_orderpriority ORDER BY d
                              ROWS BETWEEN 29 PRECEDING AND CURRENT ROW), 2)
           AS roll
  FROM daily),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                               ORDER BY roll DESC, d) AS rn
  FROM rolled)
SELECT o_orderpriority, roll AS best_30d_revenue, d AS stretch_end
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Semi/anti joins (J6/J7, M1/lecture-lab/incremental_scd_query.sql:84-87,
# M1/homework/assignment.sql:70-74)
# ---------------------------------------------------------------------------

def q_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with >=1 'F' order (left_semi EXISTS) and no 'P' order
    (left_anti NOT EXISTS), counted by market segment."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    f_orders = orders.where(F.col("o_orderstatus") == "F")
    p_orders = orders.where(F.col("o_orderstatus") == "P")
    kept = cust.join(
        f_orders, cust.c_custkey == f_orders.o_custkey, "left_semi"
    ).join(p_orders, F.col("c_custkey") == p_orders.o_custkey, "left_anti")
    return kept.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
    )


ORACLE_SEMI_ANTI = """
SELECT c_mktsegment, COUNT(*) AS n_customers,
       ROUND(AVG(c_acctbal), 6) AS avg_acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Upsert-as-merge (S11 ON CONFLICT DO UPDATE rewrite, §7 hard-part 3,
# M2/lecture-lab/array_metrics_analysis.sql:38-40)
# ---------------------------------------------------------------------------

def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent upsert as a full-outer merge: base state (orders before
    1999) merged with a delta batch (1999+); action column shows the
    MERGE branch each key took."""
    from ..functions.datelist import utc_ts_lit

    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    # utc_ts_lit, NOT lit(...).cast("timestamp") (session-TZ parse):
    # under a western session the 9 orders dated exactly at the cut
    # flip from delta to base — masked here because the output sums
    # both sides and those custkeys straddle the cut anyway, but the
    # latent flip would surface the moment an affected custkey's only
    # delta order were a cut-date order (action 'update' -> 'keep')
    cut = utc_ts_lit("1999-01-01")
    base = (
        orders.where(F.col("o_orderdate") < cut)
        .groupBy("o_custkey")
        .agg(F.sum(cents).alias("cents"), F.count(F.lit(1)).alias("n"))
    )
    delta = (
        orders.where(F.col("o_orderdate") >= cut)
        .groupBy("o_custkey")
        .agg(F.sum(cents).alias("cents"), F.count(F.lit(1)).alias("n"))
    )
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(d, F.col("b.o_custkey") == F.col("d.o_custkey"), "full_outer")
    return merged.select(
        F.coalesce(F.col("b.o_custkey"), F.col("d.o_custkey")).alias("o_custkey"),
        (
            F.coalesce(F.col("b.cents"), F.lit(0).cast("long"))
            + F.coalesce(F.col("d.cents"), F.lit(0).cast("long"))
        ).alias("total_cents"),
        (
            F.coalesce(F.col("b.n"), F.lit(0).cast("long"))
            + F.coalesce(F.col("d.n"), F.lit(0).cast("long"))
        ).alias("n_orders"),
        F.when(F.col("b.o_custkey").isNull(), "insert")
        .when(F.col("d.o_custkey").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    )


ORACLE_MERGE_UPSERT = """
WITH base AS (
  SELECT o_custkey, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents,
         COUNT(*) AS n
  FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01' GROUP BY 1),
delta AS (
  SELECT o_custkey, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents,
         COUNT(*) AS n
  FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01' GROUP BY 1)
SELECT COALESCE(b.o_custkey, d.o_custkey) AS o_custkey,
       (COALESCE(b.cents, 0) + COALESCE(d.cents, 0))::BIGINT AS total_cents,
       (COALESCE(b.n, 0) + COALESCE(d.n, 0))::BIGINT AS n_orders,
       CASE WHEN b.o_custkey IS NULL THEN 'insert'
            WHEN d.o_custkey IS NULL THEN 'keep'
            ELSE 'update' END AS action
FROM base b FULL OUTER JOIN delta d ON b.o_custkey = d.o_custkey
"""


# ---------------------------------------------------------------------------
# Graph vertices (W3 dedup + MAP properties,
# M3/src/jobs/team_vertex_job.py:5-18)
# ---------------------------------------------------------------------------

def q_user_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User vertices: dedup to first event per user, attributes packed
    into a MAP properties column (rendered as k=v pairs for hashing)."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    verts = build_vertices(
        ev,
        "user_id",
        "user",
        {
            "first_type": F.col("event_type"),
            "first_date": utc_date_of_ts("ts"),
        },
        order_by=[F.asc("ts"), F.asc("event_id")],
    )
    return verts.select(
        "identifier",
        F.col("type").alias("vertex_type"),
        F.concat_ws(
            ",",
            F.concat(F.lit("first_date="), F.element_at("properties", "first_date")),
            F.concat(F.lit("first_type="), F.element_at("properties", "first_type")),
        ).alias("props"),
    )


ORACLE_USER_VERTICES = """
WITH ranked AS (
  SELECT user_id, event_type, CAST(ts AS DATE) AS d,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id IS NOT NULL)
SELECT CAST(user_id AS VARCHAR) AS identifier,
       'user' AS vertex_type,
       'first_date=' || strftime(d, '%Y-%m-%d') ||
         ',first_type=' || event_type AS props
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (training-pipeline dedup family)
# ---------------------------------------------------------------------------

def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIMARY n-gram Jaccard entry: prefix filtering under a global
    rare-first gram order (AllPairs/PPJoin family) — lossless for ANY
    corpus shape: a qualifying pair must share a gram in both sides'
    rare-gram prefixes, so candidates come from an equi join on the
    gram key and track true-pair volume, not n². The oracle is the
    exhaustive all-pairs SQL: filtering must be result-invisible, and
    the gate checks exactly that. (The length-blocked variant remains
    as a cheaper lossless option for wide length distributions; the
    BNLJ all-pairs form is the baseline twin.)
    Jaccard over xxhash64'd grams equals Jaccard over the gram strings
    (collision probability ~n²/2⁶⁴), which is what the oracle computes.
    """
    docs = _t(spark, sf_dir, "documents")
    return dedup_ngram_jaccard(
        docs, block_col=None, ngram=3, threshold=0.5, prefix_filtered=True
    )


def q_ngram_jaccard_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs baseline (broadcast-nested-loop, O(n²)) — the
    verification twin of the prefix-filtered primary. Not a scale path
    by design, so the gate runs it on a DETERMINISTIC half-slice
    (`doc_id % 2 = 0`, ¼ the BNLJ pair volume; 6 qualifying pairs at
    sf0.01) to keep full-catalog checks fast; the oracle applies the
    identical slice, and full-corpus prefix==allpairs parity is still
    proven corpus-wide by `tools/scale_bench.py` each round."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 0)
    return dedup_ngram_jaccard(docs, block_col=None, ngram=3, threshold=0.5)


ORACLE_NGRAM_JACCARD = f"""
WITH {_TOKS_TK},
{_GRAMS_TK},
pairs AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         ROUND(len(list_intersect(a.g, b.g))::DOUBLE /
               (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6)
           AS jaccard
  FROM grams a JOIN grams b ON a.doc_id < b.doc_id)
SELECT doc_id_a, doc_id_b, jaccard FROM pairs WHERE jaccard >= 0.5
"""

# Baseline-twin oracle: identical pipeline over the deterministic
# half-slice the gated allpairs entry uses (doc_id % 2 = 0).
ORACLE_NGRAM_JACCARD_ALLPAIRS = ORACLE_NGRAM_JACCARD.replace(
    "FROM documents)", "FROM documents WHERE doc_id % 2 = 0)", 1
)
assert "WHERE doc_id % 2 = 0" in ORACLE_NGRAM_JACCARD_ALLPAIRS


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (training-pipeline dedup family)
# ---------------------------------------------------------------------------

def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within `label` blocks (cosine >=
    0.35) — the 100 TB path: candidate pairs come from an equi hash
    join on the block key with the dot product unrolled into codegen;
    no driver collect, no broadcast of the corpus, quadratic cost
    bounded per block. The unblocked exact baseline is certified
    separately (`embedding_neardup_allpairs`)."""
    emb = _t(spark, sf_dir, "embeddings")
    return neardup_embedding_cosine(
        emb, threshold=0.35, block_col="label", dim=64
    )


ORACLE_EMBEDDING_NEARDUP = """
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_dot_product(a.e, b.e) /
               (sqrt(list_dot_product(a.e, a.e)) *
                sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.35
"""


def q_embedding_neardup_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (cosine >= 0.45 — this
    corpus has no >0.52 pairs, so the threshold sits inside the
    observed tail). Unblocked all-pairs BASELINE by documented
    contract: the corpus matrix is collected and broadcast, so it is
    bounded by executor memory — the blocked entry above is the scale
    path."""
    emb = _t(spark, sf_dir, "embeddings")
    return neardup_embedding_cosine(emb, threshold=0.45, dim=64)


ORACLE_EMBEDDING_NEARDUP_ALLPAIRS = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_dot_product(a.e, b.e) /
               (sqrt(list_dot_product(a.e, a.e)) *
                sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.45
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing (mapInPandas decode stages over BINARY media)
# ---------------------------------------------------------------------------

def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media table from documents: text bytes as opaque
    BINARY content with typed metadata (MEDIA_SCHEMA shape)."""
    docs = _t(spark, sf_dir, "documents")
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.col("text").cast("binary").alias("content"),
        F.struct(
            F.lit(640).alias("width"),
            F.lit(480).alias("height"),
            (F.lit(1000) + (F.col("doc_id") % 7) * 700)
            .cast("long")
            .alias("duration_ms"),
            F.lit("application/octet-stream").alias("mime"),
        ).alias("meta"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode/feature-extract (mapInPandas): per kind,
    media count, total bytes, and the sum of feature[0] — the fake
    decoder's first feature is md5(content)[0]/255, which the oracle
    reproduces from DuckDB's md5 hex."""
    feats = extract_features(_media(spark, sf_dir))
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(F.sum(F.element_at("features", 1)), 6).alias("sum_f0"),
    )


ORACLE_MEDIA_FEATURES = """
SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
       COUNT(*) AS n_media,
       SUM(octet_length(encode(text)))::BIGINT AS total_bytes,
       ROUND(SUM(CAST('0x' || substr(md5(text), 1, 2) AS INT) / 255.0), 6)
         AS sum_f0
FROM documents GROUP BY 1
"""


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: explode frame timestamps, decode
    each frame (mapInPandas), roll up per media. Frame counts follow
    duration_ms, which the oracle recomputes."""
    frames = frame_sample(_media(spark, sf_dir), every_ms=1000)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("frame_ms").alias("max_frame_ms"),
    )


ORACLE_MEDIA_FRAMES = """
WITH vids AS (
  SELECT doc_id AS media_id,
         1000 + (doc_id % 7) * 700 AS duration_ms
  FROM documents WHERE doc_id % 3 = 2)
SELECT media_id,
       ((duration_ms - 1) // 1000 + 1)::BIGINT AS n_frames,
       (((duration_ms - 1) // 1000) * 1000)::BIGINT AS max_frame_ms
FROM vids
"""


def q_media_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec round-trip through the mapInPandas decode seam: one
    valid PNG is ENCODED per document (size and color deterministic in
    doc_id), then DECODED executor-side by the pure-stdlib kernel
    (zlib inflate + PNG filter reconstruction — no external media
    libs), emitting the decoded dimensions and channel means. The
    oracle predicts those features from the synthesis parameters
    alone, so the entry only matches if the encode→decode round-trip
    actually ran. Both stages are Arrow-batched mapInPandas — the
    exact shape a 100 TB decode pipeline uses (narrow, no shuffle)."""
    import pandas as pd  # noqa: PLC0415 — closure-local, executor-safe

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def encode(batches):
        from data_engineering_bootcamp_spark.operators.multimodal import (
            synth_png,
        )

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "image",
                    "content": [
                        synth_png(
                            int(4 + d % 13),
                            int(2 + d % 7),
                            (
                                int(d * 37 % 256),
                                int(d * 59 % 256),
                                int(d * 83 % 256),
                            ),
                        )
                        for d in pdf["doc_id"]
                    ],
                }
            )

    media = docs.mapInPandas(
        encode, "media_id long, kind string, content binary"
    )
    feats = extract_features(media, kernel=stdlib_decode_kernel)
    return feats.select(
        "media_id",
        F.element_at("features", 2).cast("int").alias("width"),
        F.element_at("features", 3).cast("int").alias("height"),
        F.element_at("features", 5).alias("mean_r"),
        F.element_at("features", 6).alias("mean_g"),
        F.element_at("features", 7).alias("mean_b"),
    )


ORACLE_MEDIA_REAL_DECODE = """
SELECT doc_id AS media_id,
       CAST(4 + doc_id % 13 AS INT) AS width,
       CAST(2 + doc_id % 7 AS INT) AS height,
       ROUND((doc_id * 37 % 256) / 255.0, 6) AS mean_r,
       ROUND((doc_id * 59 % 256) / 255.0, 6) AS mean_g,
       ROUND((doc_id * 83 % 256) / 255.0, 6) AS mean_b
FROM documents
"""


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize kernel through the mapInPandas seam (the third
    multimodal kernel the brief names beside decode and frame-sample):
    per document a two-band RGB PNG is ENCODED (top quarter one color,
    rest another — size and colors deterministic in doc_id), then
    nearest-neighbor DOWNSAMPLED 2x, RE-ENCODED as a PNG, and DECODED
    AGAIN, emitting the resized dimensions and the post-resize channel
    means from the final decode (`multimodal.png_resize_roundtrip`).
    The oracle predicts everything in closed form from the synthesis
    parameters — including the band-ratio SHIFT nearest-neighbor row
    selection causes when the top band has odd height (selected top
    rows = ceil(top/2) of h/2) — so the entry only matches if decode,
    resample, encode, and re-decode are all pixel-correct. Narrow
    plan: two chained mapInPandas stages, no shuffle."""
    import pandas as pd  # noqa: PLC0415 — closure-local, executor-safe

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def encode(batches):
        from data_engineering_bootcamp_spark.operators.multimodal import (
            synth_png_bands,
        )

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "content": [
                        synth_png_bands(
                            int(4 + d % 9),
                            int(4 * (1 + d % 5)),
                            (
                                int(d * 37 % 256),
                                int(d * 59 % 256),
                                int(d * 83 % 256),
                            ),
                            (
                                int(d * 41 % 256),
                                int(d * 67 % 256),
                                int(d * 97 % 256),
                            ),
                            int(1 + d % 5),  # top band = h/4 rows
                        )
                        for d in pdf["doc_id"]
                    ],
                }
            )

    media = docs.mapInPandas(encode, "media_id long, content binary")
    return resize_images(media, factor=2).select(
        "media_id",
        "in_width",
        "in_height",
        "out_width",
        "out_height",
        "mean_r",
        "mean_g",
        "mean_b",
    )


ORACLE_MEDIA_RESIZE = """
WITH p AS (
  SELECT doc_id,
         4 + doc_id % 9 AS w,
         4 * (1 + doc_id % 5) AS h,
         1 + doc_id % 5 AS tr,
         doc_id * 37 % 256 AS ar, doc_id * 59 % 256 AS ag,
         doc_id * 83 % 256 AS ab,
         doc_id * 41 % 256 AS br, doc_id * 67 % 256 AS bg,
         doc_id * 97 % 256 AS bb
  FROM documents),
r AS (
  SELECT doc_id, w, h, w // 2 AS w2, h // 2 AS h2,
         (tr + 1) // 2 AS st,
         ar, ag, ab, br, bg, bb
  FROM p)
SELECT doc_id AS media_id,
       CAST(w AS INT) AS in_width,
       CAST(h AS INT) AS in_height,
       CAST(w2 AS INT) AS out_width,
       CAST(h2 AS INT) AS out_height,
       ROUND((ar * st + br * (h2 - st)) / h2 / 255.0, 6) AS mean_r,
       ROUND((ag * st + bg * (h2 - st)) / h2 / 255.0, 6) AS mean_g,
       ROUND((ab * st + bb * (h2 - st)) / h2 / 255.0, 6) AS mean_b
FROM r
"""


# ---------------------------------------------------------------------------
# ANN oracle fragments: the exact cosine scoring and top-k tail the ANN
# oracles end with, and the sampled-k-means IVF quantizer that
# ann_cosine_ivf and semantic_dedup share
# ---------------------------------------------------------------------------

# exact cosine of every (query_id, neighbor_id) of `q` x `c` (qv, cv
# are the raw embeddings); the caller closes the CTE with its FROM
_BRUTE_SCORED = """scored AS (
  SELECT query_id, neighbor_id,
         ROUND(
           list_sum(list_transform(range(1, len(qv) + 1),
                                   i -> qv[i]::DOUBLE * cv[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(range(1, len(qv) + 1),
                                           i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, len(cv) + 1),
                                             i -> cv[i]::DOUBLE * cv[i]::DOUBLE)))),
           6) AS cosine"""

# exact cosine of each `cand` (query_id, neighbor_id) pair over `v`
_RERANK = """scored AS (
  SELECT query_id, neighbor_id,
         ROUND(list_dot_product(a.e, b.e) /
               (sqrt(list_dot_product(a.e, a.e)) *
                sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
  FROM cand
  JOIN v a ON a.vec_id = query_id
  JOIN v b ON b.vec_id = neighbor_id)"""


def _top_k_sql(k: int) -> str:
    """The `k` best `scored` rows per query (cosine DESC, then
    neighbor_id), ranked 1..k."""
    return f"""ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, rank::INT AS rank
FROM ranked WHERE rank <= {k}
"""


# the IVF quantizer over `v`: 32 md5-ordered seeds, one Lloyd round
# with 6dp means (`cent`), then each vector's nearest centroid (`a2`)
_IVF_ASSIGN = """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS cid,
         e
  FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, s.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_dot_product(v.e, s.e) /
                      (sqrt(list_dot_product(v.e, v.e)) *
                       sqrt(list_dot_product(s.e, s.e))) DESC,
                      s.cid) AS rn
    FROM v, seeds s) WHERE rn = 1),
m AS (
  SELECT a1.cid, dd.d, ROUND(AVG(v.e[dd.d]), 6) AS mv
  FROM a1 JOIN v USING (vec_id)
  CROSS JOIN (SELECT unnest(range(1, 65)) AS d) dd
  GROUP BY 1, 2),
mlist AS (SELECT cid, list(mv ORDER BY d) AS e FROM m GROUP BY cid),
cent AS (
  SELECT s.cid, COALESCE(ml.e, s.e) AS e
  FROM seeds s LEFT JOIN mlist ml ON s.cid = ml.cid),
a2 AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_dot_product(v.e, c.e) /
                      (sqrt(list_dot_product(v.e, v.e)) *
                       sqrt(list_dot_product(c.e, c.e))) DESC,
                      c.cid) AS rn
    FROM v, cent c) WHERE rn = 1)"""


def q_ann_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate cosine top-k with sampled-k-means
    centroids.

    Every stage is deterministic and SQL-expressible — md5-hash-ordered
    sample init, one Lloyd iteration with means ROUNDed to 6dp, argmax
    assignment with lowest-id tie-break — so the DuckDB oracle replays
    the whole index build + probe + re-rank and the approximate query
    is exactly falsifiable (recall floor is separately pinned in
    tests/test_operators.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return cosine_topk_ivf(
        emb, queries, k=5, n_centroids=32, n_probe=8, lloyd_iters=1
    )


ORACLE_ANN_IVF = f"""
{_IVF_ASSIGN},
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_dot_product(v.e, c.e) /
                      (sqrt(list_dot_product(v.e, v.e)) *
                       sqrt(list_dot_product(c.e, c.e))) DESC,
                      c.cid) AS rn
    FROM v, cent c WHERE v.vec_id < 10) WHERE rn <= 8),
cand AS (
  SELECT p.query_id, a2.vec_id AS neighbor_id
  FROM probes p JOIN a2 ON a2.cid = p.cid
  WHERE a2.vec_id <> p.query_id),
{_RERANK},
{_top_k_sql(5)}"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: the same deterministic
    sampled-k-means quantizer as `ann_cosine_ivf` clusters the space,
    then each vector is dropped iff a LOWER-id vector in its cluster
    has cosine >= 0.35 (6dp rounding contract). The oracle replays the
    ENTIRE recipe — sample seeds, one Lloyd iteration, argmax
    assignment, within-cluster pairwise cosine — so the approximate
    method is exactly falsifiable end to end. Semantics, scale shape,
    and the non-sequential keep rule on
    `operators.similarity.semantic_dedup`."""
    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, threshold=0.35, n_centroids=32, lloyd_iters=1
    )


ORACLE_SEMANTIC_DEDUP = f"""
{_IVF_ASSIGN},
close AS (
  SELECT hi.vec_id, COUNT(*) AS n_close_lower
  FROM a2 hi JOIN a2 lo ON lo.cid = hi.cid AND lo.vec_id < hi.vec_id
  JOIN v a ON a.vec_id = lo.vec_id
  JOIN v b ON b.vec_id = hi.vec_id
  WHERE ROUND(list_dot_product(a.e, b.e) /
              (sqrt(list_dot_product(a.e, a.e)) *
               sqrt(list_dot_product(b.e, b.e))), 6) >= 0.35
  GROUP BY 1)
SELECT a2.vec_id,
       a2.cid::INT AS bucket,
       COALESCE(c.n_close_lower, 0)::BIGINT AS n_close_lower,
       COALESCE(c.n_close_lower, 0) = 0 AS keep
FROM a2 LEFT JOIN close c USING (vec_id)
"""


# ---------------------------------------------------------------------------
# Structured Streaming through the correctness gate (T1-T3, T7)
# ---------------------------------------------------------------------------

def q_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window counts computed by the REAL streaming engine:
    parquet file-stream source → watermarked window aggregation →
    availableNow trigger → complete-mode memory sink. Stream-equals-
    batch: the oracle is the same SQL that checks the batch analog
    (`tumbling_hits`), so this entry proves the streaming path produces
    byte-identical aggregates, state store and all."""
    return _memory_sink_hits(
        spark, sf_dir, lambda s: tumbling_counts(s, keys=["event_type"])
    )


ORACLE_STREAMING_TUMBLING = """
SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S')
         AS window_start,
       event_type,
       COUNT(*) AS num_hits
FROM events GROUP BY 1, 2
"""


def q_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3/T4 sliding form through the REAL streaming engine: hopping
    10-minute windows sliding every 5 minutes (each event lands in
    exactly two overlapping windows), watermarked, availableNow,
    complete-mode memory sink — the moving-average window type the
    tumbling entry doesn't exercise, with 2x the window state per key.
    Stream-equals-batch: the oracle replays the hop as each event
    contributing to its 5-minute bucket's window AND the one starting
    5 minutes earlier."""
    return _memory_sink_hits(
        spark,
        sf_dir,
        lambda s: sliding_counts(
            s,
            keys=["event_type"],
            window_duration="10 minutes",
            slide_duration="5 minutes",
        ),
    )


ORACLE_STREAMING_SLIDING = """
WITH b AS (
  SELECT event_type, time_bucket(INTERVAL '5 minutes', ts) AS tb
  FROM events),
x AS (
  SELECT event_type, tb AS ws FROM b
  UNION ALL
  SELECT event_type, tb - INTERVAL '5 minutes' AS ws FROM b)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS num_hits
FROM x GROUP BY 1, 2
"""


def _memory_sink_hits(
    spark: SparkSession,
    sf_dir: str,
    window_counts: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Body of the two memory-sink gate entries: the events file stream
    through `window_counts`, drained in complete mode into a memory
    sink. The sink's temp view is dropped before returning, whether
    the run succeeds or fails; the returned frame's plan is analyzed
    already and holds the sink's rows, so it outlives the view."""
    import uuid

    # unique sink name per invocation: two concurrent runs on one session
    # must not collide on the memory-sink table
    name = f"stream_gate_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory(
        prefix="stream_gate_", ignore_cleanup_errors=True
    ) as d:
        agg = window_counts(_events_file_stream(spark, sf_dir, d))
        try:
            drain(
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete"),
                f"{d}/ckpt",
            )
            return spark.table(name).select(
                utc_ts_str("window_start").alias("window_start"),
                "event_type",
                "num_hits",
            )
        finally:
            spark.catalog.dropTempView(name)


def _closed_sessions(
    spark: SparkSession, sf_dir: str, sess: DataFrame, d: str
) -> DataFrame:
    """Drain the session stream `sess` to parquet under `d` in append
    mode and read back the sessions that ended over an hour before the
    last user event: the ones the final watermark has surely closed."""
    drain(
        sess.writeStream.format("parquet")
        .option("path", f"{d}/out")
        .outputMode("append"),
        f"{d}/ckpt",
    )
    max_ts = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .agg(F.max("ts").alias("m"))
        .first()
        .m
    )
    return spark.read.parquet(f"{d}/out").where(
        F.col("session_end") < F.lit(max_ts) - F.expr("INTERVAL 1 HOUR")
    )


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 through the gate: session windows (30-minute inactivity gap,
    keyed by user_id) computed by the REAL streaming engine —
    `session_window` state store, append mode, availableNow trigger.
    Append mode only emits a session once the watermark passes its end,
    and the final watermark stops `delay` short of max event time, so
    sessions still open near end-of-input stay in state — both sides
    therefore scope to sessions finalized well before the end (end <
    max ts - 1 hour), which is deterministic and exercises the same
    state machinery. The oracle recomputes the sessions as batch
    gaps-and-islands SQL with Spark's session semantics: a gap >= 30min
    breaks, session_end = last event + gap."""
    from ..streaming.pipelines import sessionize_stream

    with tempfile.TemporaryDirectory(
        prefix="stream_sess_", ignore_cleanup_errors=True
    ) as d:
        stream = _events_file_stream(spark, sf_dir, d)
        sess = sessionize_stream(
            stream.where(F.col("user_id").isNotNull()),
            keys=["user_id"],
            gap="30 minutes",
            watermark="1 second",
        )
        got = _closed_sessions(spark, sf_dir, sess, d).select(
            utc_ts_str("session_start").alias("session_start"),
            utc_ts_str("session_end").alias("session_end"),
            "user_id",
            "num_events",
        )
        return _snapshot(got)


ORACLE_STREAMING_SESSIONS = """
WITH e AS (SELECT user_id, ts FROM events WHERE user_id IS NOT NULL),
d AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS brk
  FROM e),
g AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM d)
SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts) + INTERVAL '30 minutes',
                '%Y-%m-%d %H:%M:%S') AS session_end,
       user_id,
       COUNT(*) AS num_events
FROM g GROUP BY user_id, sid
HAVING MAX(ts) + INTERVAL '30 minutes'
       < (SELECT MAX(ts) FROM e) - INTERVAL '1 hour'
"""


def q_streaming_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7/T8 + S13 call path through the gate: stream events through a
    foreachBatch handler (the JDBC-sink shape — each micro-batch goes
    through the batch writer API) into parquet, read the sink back, and
    aggregate. Checkpointed, availableNow. The oracle aggregates the
    raw table: the sink must contain exactly the input rows."""
    with tempfile.TemporaryDirectory(
        prefix="stream_fb_", ignore_cleanup_errors=True
    ) as d:
        stream = _events_file_stream(spark, sf_dir, d)

        def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
            batch_df.write.mode("append").parquet(f"{d}/out")

        drain(
            stream.select("event_id", "event_type", "user_id")
            .writeStream.foreachBatch(write_batch),
            f"{d}/ckpt",
        )
        got = (
            spark.read.parquet(f"{d}/out")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
            )
        )
        return _snapshot(got)


ORACLE_STREAMING_FOREACHBATCH = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup through the gate: the events table is
    exposed TWICE to the file-stream source (two symlinks to the same
    parquet file — an at-least-once replay, every event duplicated),
    piped through `dedup_stream` (`dropDuplicatesWithinWatermark` on
    event_id — bounded state, see streaming/pipelines.py), sunk to
    parquet with a checkpoint, and aggregated batch-side. The oracle
    aggregates the RAW single-copy table: the gate passes only if the
    streaming dedup returns exactly the original rows, duplicate-free."""
    from ..streaming.pipelines import dedup_stream

    with tempfile.TemporaryDirectory(
        prefix="stream_dedup_", ignore_cleanup_errors=True
    ) as d:
        stream = _events_file_stream(spark, sf_dir, d, copies=2)
        deduped = dedup_stream(stream, keys=["event_id"], watermark="1 hour")

        def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
            batch_df.write.mode("append").parquet(f"{d}/out")

        drain(
            deduped.select("event_id", "event_type", "user_id", "value")
            .writeStream.foreachBatch(write_batch),
            f"{d}/ckpt",
        )
        got = (
            spark.read.parquet(f"{d}/out")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("event_id").alias("n_distinct_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
        )
        return _snapshot(got)


ORACLE_STREAMING_DEDUP = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_id) AS n_distinct_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY 1
"""


def q_streaming_kafka_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12/S14 value-codec path through the gate: the exact payload
    round-trip the Kafka sink/source pair performs —
    `to_json(struct(*cols))` (what `sinks.start_to_kafka` publishes)
    then `from_json(value, schema)` (what `sources.kafka_json_stream`
    decodes) — run over the events file stream and materialized through
    a parquet sink.  The broker itself is environment; the codec is
    engine logic, and this certifies it lossless: the oracle aggregates
    the raw table, so any encode/decode corruption (types, nulls,
    timestamp precision at second granularity, double formatting)
    breaks the hash match."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    with tempfile.TemporaryDirectory(
        prefix="stream_kafka_", ignore_cleanup_errors=True
    ) as d:
        stream = _events_file_stream(spark, sf_dir, d)
        payload = stream.select(F.to_json(F.struct(*cols)).alias("value"))
        decoded = payload.select(
            F.from_json(F.col("value"), schema).alias("j")
        ).select("j.*")
        drain(
            decoded.writeStream.format("parquet")
            .option("path", f"{d}/out")
            .outputMode("append"),
            f"{d}/ckpt",
        )
        got = (
            spark.read.parquet(f"{d}/out")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.round(F.sum("value"), 2).alias("total_value"),
                utc_ts_str(F.min("ts")).alias("first_ts"),
                utc_ts_str(F.max("ts")).alias("last_ts"),
            )
        )
        return _snapshot(got)


ORACLE_STREAMING_KAFKA_MIRROR = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(value), 2) AS total_value,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
FROM events GROUP BY 1
"""


def q_streaming_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) through the
    gate: `streaming/stateful.py:sessionize_stateful` — explicit per-key
    session state, event-time timeout — over the events file stream,
    keyed by (user_id, event_type) via the operator's (ip, host)
    contract.  Same determinism scoping as `streaming_session_windows`:
    the final watermark stops `delay` short of max event time, so only
    sessions whose last event is well before end-of-input (< max ts -
    1 hour) are compared; every such session is closed either in-batch
    (a later same-key event beyond the gap) or by the event-time timeout
    once the no-data batch advances the watermark.  The oracle replays
    the operator's merge rule exactly: events merge while the gap is
    <= 30 minutes (strictly-greater breaks), session_end = last event.
    """
    from ..streaming.stateful import sessionize_stateful

    with tempfile.TemporaryDirectory(
        prefix="stream_state_", ignore_cleanup_errors=True
    ) as d:
        keyed = (
            _events_file_stream(spark, sf_dir, d)
            .where(F.col("user_id").isNotNull())
            .select(
                F.col("user_id").cast("string").alias("ip"),
                F.col("event_type").alias("host"),
                "ts",
            )
        )
        sess = sessionize_stateful(
            keyed, gap_seconds=1800, watermark="1 second"
        )
        got = _closed_sessions(spark, sf_dir, sess, d).select(
            F.col("ip").alias("user_id"),
            F.col("host").alias("event_type"),
            utc_ts_str("session_start").alias("session_start"),
            utc_ts_str("session_end").alias("session_end"),
            "num_events",
        )
        return _snapshot(got)


ORACLE_STREAMING_STATEFUL = """
WITH e AS (
  SELECT CAST(user_id AS VARCHAR) AS user_id, event_type, ts
  FROM events WHERE user_id IS NOT NULL),
d AS (
  SELECT user_id, event_type, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS brk
  FROM e
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts)),
g AS (
  SELECT user_id, event_type, ts,
         SUM(brk) OVER (PARTITION BY user_id, event_type ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM d)
SELECT user_id, event_type,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*)::INT AS num_events
FROM g GROUP BY user_id, event_type, sid
HAVING MAX(ts) < (SELECT MAX(ts) FROM e) - INTERVAL '1 hour'
"""


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (`operators/skew.py:
    salted_aggregate`) through the gate: events aggregated by the
    low-cardinality (hence hot) event_type key — each key's partials
    first merge across 16 salt sub-keys, then combine.  The oracle is
    the plain one-phase aggregate: salting must be result-invisible."""
    from ..operators.skew import salted_aggregate

    # project before salting: with_salt's default entropy hashes every
    # column, which would widen the scan to the full table
    ev = _t(spark, sf_dir, "events").select("event_type", "value", "event_id")
    out = salted_aggregate(
        ev,
        keys=["event_type"],
        aggs={
            "total_value": ("value", "sum"),
            "n_events": ("event_id", "count"),
            "max_value": ("value", "max"),
        },
        n_salts=16,
    )
    return out.select(
        "event_type",
        F.round("total_value", 2).alias("total_value"),
        "n_events",
        F.round("max_value", 2).alias("max_value"),
    )


ORACLE_SKEW_SALTED_AGG = """
SELECT event_type,
       ROUND(SUM(value), 2) AS total_value,
       COUNT(event_id) AS n_events,
       ROUND(MAX(value), 2) AS max_value
FROM events GROUP BY event_type
"""


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe equi join (`operators/skew.py:salted_join`) through the
    gate: orders (fact, salted) ⋈ customer (dim, replicated ×8) on
    custkey, rolled up per market segment.  The oracle is the plain
    join: the salt must never change the join result."""
    from ..operators.skew import salted_join

    fact = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    joined = salted_join(fact, dim, "custkey", n_salts=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


ORACLE_SKEW_SALTED_JOIN = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (`operators/fingerprint.py`
    winnowing, MOSS-style): Rabin-Karp 8-gram hashes, 25-gram window
    minima, per-doc DISTINCT-set stats.  The oracle replays the entire
    computation in SQL from the same integer-hash definition."""
    from ..operators.fingerprint import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(docs)


def _winnow_oracle() -> str:
    from ..operators.fingerprint import winnow_oracle_sql

    return winnow_oracle_sql()


def q_doc_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-join use of rolling-hash fingerprints: candidate
    near-dup pairs sharing >= 1 winnowed fingerprint (equi hash join on
    the fingerprint value — the 100 TB shape; no all-pairs form)."""
    from ..operators.fingerprint import winnow_pairs

    docs = _t(spark, sf_dir, "documents")
    return winnow_pairs(docs)


def _winnow_pairs_oracle() -> str:
    from ..operators.fingerprint import winnow_pairs_oracle_sql

    return winnow_pairs_oracle_sql()


def q_streaming_neardup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup ADMISSION — the incremental-ingestion shape a
    live curation pipeline needs: incoming documents (a file stream;
    doc_id % 4 == 0) are checked against the EXISTING corpus (the
    other three quarters) through a STREAM-STATIC banded-LSH equi join
    on (band, band_hash), exact-verified by Arrow-batched shingle
    Jaccard, and each incoming doc is admitted iff it near-duplicates
    nothing already in the corpus. The static side's banded signatures
    are computed once and reused across micro-batches. The oracle
    recomputes the admission decision exhaustively (all incoming ×
    corpus pairs) — LSH banding must be recall-complete on this corpus,
    the same falsifiable contract `minhash_lsh_pairs` is held to."""
    from ..operators.dedup import _intersect_size_udf, minhash_banded

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 4 != 0)
    incoming = docs.where(F.col("doc_id") % 4 == 0)

    static_banded = minhash_banded(corpus).select(
        F.col("doc_id").alias("corpus_id"),
        F.col("shingles").alias("corpus_shingles"),
        "band",
        "band_hash",
    ).persist()

    with tempfile.TemporaryDirectory(
        prefix="stream_adm_", ignore_cleanup_errors=True
    ) as d:
        src, out = f"{d}/src", f"{d}/out"
        try:
            incoming.select("doc_id", "text").write.parquet(src)
            schema = spark.read.parquet(src).schema
            stream = (
                spark.readStream.schema(schema).format("parquet").load(src)
            )
            cand = minhash_banded(stream).join(
                static_banded, ["band", "band_hash"]
            )
            inter = _intersect_size_udf()(
                F.col("shingles"), F.col("corpus_shingles")
            ).cast("double")
            union = (
                F.size("shingles") + F.size("corpus_shingles") - inter
            ).cast("double")
            matched = (
                cand.withColumn("_j", F.round(inter / union, 6))
                .where(F.col("_j") >= 0.8)
                .select("doc_id", "corpus_id")
            )
            # seed the sink with the schema so an all-admitted run still
            # yields a readable (empty) matches table
            spark.createDataFrame(
                [], "doc_id long, corpus_id long"
            ).write.parquet(out)
            drain(
                matched.writeStream.foreachBatch(
                    lambda b, _i: b.write.mode("append").parquet(out)
                ),
                f"{d}/ckpt",
            )

            matches = spark.read.parquet(out).dropDuplicates()
            per_doc = incoming.select("doc_id").join(
                matches.groupBy("doc_id").agg(
                    F.countDistinct("corpus_id").alias("n_neardups")
                ),
                "doc_id",
                "left",
            )
            got = per_doc.select(
                "doc_id",
                F.coalesce("n_neardups", F.lit(0)).alias("n_neardups"),
                (F.coalesce("n_neardups", F.lit(0)) == 0).alias("admitted"),
            )
            return _snapshot(got)
        finally:
            static_banded.unpersist()


ORACLE_STREAMING_NEARDUP_ADMISSION = r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) - 4, 1) + 1),
           i -> substr(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), i::INT, 5)))
           AS shingles
  FROM documents),
inc AS (SELECT * FROM sh WHERE doc_id % 4 = 0),
corp AS (SELECT * FROM sh WHERE doc_id % 4 <> 0),
m AS (
  SELECT i.doc_id, COUNT(DISTINCT c.doc_id) AS n_neardups
  FROM inc i JOIN corp c
    ON ROUND(len(list_intersect(i.shingles, c.shingles))::DOUBLE /
             (len(i.shingles) + len(c.shingles)
              - len(list_intersect(i.shingles, c.shingles))), 6) >= 0.8
  GROUP BY 1)
SELECT i.doc_id,
       COALESCE(m.n_neardups, 0) AS n_neardups,
       COALESCE(m.n_neardups, 0) = 0 AS admitted
FROM inc i LEFT JOIN m ON i.doc_id = m.doc_id
"""
