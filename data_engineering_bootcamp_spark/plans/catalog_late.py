"""Late round-6 catalog entries: fuzzy entity matching, time-series
gap interpolation, and the sketch/interval additions that round out
the curation-pipeline surface. Same contract as every other catalog
module: each `q_*` takes (spark, sf_dir) and returns a DataFrame whose
columns match its ORACLE_* DuckDB SQL twin exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.datelist import utc_date, utc_date_of_ts
from ..sources.readers import load_table
from .catalog_extra import _COMP, _REACH


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Fuzzy entity matching (PassJoin lossless edit-distance blocking)
# ---------------------------------------------------------------------------

def q_fuzzy_customer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant entity matching: every customer-name pair within
    ONE Levenshtein edit, found by `fuzzy.fuzzy_join`'s PassJoin
    segment blocking (equi join on (length, slot, segment) — never a
    cross join), then aggregated to per-distance pair statistics with
    an id checksum so the oracle verifies the exact pair SET, not just
    its size. The oracle computes ground truth all-pairs (feasible at
    gate scale; the Spark side stays blocked at any scale).

    The names are 'Customer#%09d' — fixed width with a constant
    9-char prefix and zero-padded digits, which degenerates CONTIGUOUS
    segment blocking: PassJoin's 'Customer#' segment is one corpus-
    wide block (measured 583 s / ~225M verify pairs at 15k rows), and
    no static normalization fully fixes it (reversing the digits
    still leaves a constant '0000' segment while ids < 100k). So the
    entry runs `fuzzy.hamming_join` — for equal-length strings
    lev <= 1 iff Hamming <= 1 (one edit between equal lengths must be
    a substitution), the Hamming pigeonhole admits ANY partition of
    positions into d+1 buckets, and the operator assigns positions to
    buckets entropy-balanced from a measured one-pass cardinality
    profile, so constant regions dilute instead of blocking. Same
    pair set, which is why the oracle stays the raw all-pairs
    Levenshtein ground truth over c_name."""
    from ..operators.fuzzy import hamming_join

    cust = _t(spark, sf_dir, "customer")
    pairs = hamming_join(cust, "c_custkey", "c_name", max_dist=1)
    return pairs.groupBy("dist").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("id_a").alias("n_left_ids"),
        F.sum(F.col("id_a") * 31 + F.col("id_b")).alias("pair_checksum"),
    )


ORACLE_FUZZY_CUSTOMER_PAIRS = """
WITH p AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         levenshtein(a.c_name, b.c_name) AS dist
  FROM customer a JOIN customer b
    ON a.c_custkey < b.c_custkey
   AND abs(length(a.c_name) - length(b.c_name)) <= 1)
SELECT dist, COUNT(*) AS n_pairs,
       COUNT(DISTINCT id_a) AS n_left_ids,
       SUM(id_a * 31 + id_b)::BIGINT AS pair_checksum
FROM p WHERE dist <= 1 GROUP BY dist
"""


# ---------------------------------------------------------------------------
# Time-series gap filling + linear interpolation (hypertable analog)
# ---------------------------------------------------------------------------

def q_interpolate_daily_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gap-filled, linearly interpolated daily revenue per order
    priority — the timescale/hypertable `time_bucket_gapfill +
    interpolate()` pattern as one date-spine build plus TWO window
    passes over a single hash partitioning (`temporal.
    interpolate_linear`; never a self-join against the observation
    set).

    A deterministic outage mask (days of month divisible by 5) NULLs
    out observed revenue so the interpolation path is actually
    exercised; spine days with no orders are gaps too. Revenue is
    summed as cents-as-BIGINT before the double conversion (the
    module's money convention), so pre-interpolation inputs are exact
    integers in both engines and the interpolated doubles are
    bit-reproducible. Output: one row per (priority, day) with a
    status column and the reconstructed series."""
    from ..operators.temporal import interpolate_linear

    orders = _t(spark, sf_dir, "orders")
    # group on the TZ-free UTC calendar day (DateType): a raw-timestamp
    # key would make the downstream sequence() spine step in SESSION-TZ
    # local days (DST-varying instants) and dayofmonth() render in
    # session TZ — both diverge from the TZ-naive oracle under a
    # non-UTC session (GATECHECK_tz_r09)
    daily = (
        orders
        .groupBy(
            F.col("o_orderpriority").alias("prio"),
            utc_date(orders, "o_orderdate").alias("d"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    spine = (
        daily.groupBy("prio")
        .agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .select(
            "prio", F.explode(F.sequence("d0", "d1")).alias("d")
        )
    )
    masked = (
        spine.join(daily, ["prio", "d"], "left")
        .withColumn(
            "y",
            F.when(F.dayofmonth("d") % 5 == 0, F.lit(None)).otherwise(
                F.col("cents").cast("double")
            ),
        )
    )
    filled = interpolate_linear(masked, ["prio"], "d", "y", "value", 6)
    return filled.select(
        "prio",
        "d",
        F.when(F.col("y").isNotNull(), "observed")
        .when(F.col("value").isNotNull(), "interpolated")
        .otherwise("edge")
        .alias("status"),
        "value",
    )


ORACLE_INTERPOLATE_DAILY_REVENUE = """
WITH daily AS (
  SELECT o_orderpriority AS prio, o_orderdate AS d,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1, 2),
bounds AS (
  SELECT prio, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY prio),
spine AS (
  SELECT b.prio, CAST(gs.g AS DATE) AS d
  FROM bounds b,
       LATERAL (SELECT unnest(generate_series(b.d0, b.d1,
                                              INTERVAL 1 DAY)) AS g) gs),
masked AS (
  SELECT s.prio, s.d,
         CASE WHEN EXTRACT(DAY FROM s.d) % 5 = 0 THEN NULL
              ELSE CAST(dl.cents AS DOUBLE) END AS y,
         CAST(s.d - DATE '1970-01-01' AS DOUBLE) AS x
  FROM spine s LEFT JOIN daily dl ON s.prio = dl.prio AND s.d = dl.d),
ctx AS (
  SELECT prio, d, y, x,
         LAST_VALUE(y IGNORE NULLS) OVER (
           PARTITION BY prio ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         LAST_VALUE(CASE WHEN y IS NOT NULL THEN x END IGNORE NULLS)
           OVER (PARTITION BY prio ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS px,
         FIRST_VALUE(y IGNORE NULLS) OVER (
           PARTITION BY prio ORDER BY d
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         FIRST_VALUE(CASE WHEN y IS NOT NULL THEN x END IGNORE NULLS)
           OVER (PARTITION BY prio ORDER BY d
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx
  FROM masked)
SELECT prio, d,
       CASE WHEN y IS NOT NULL THEN 'observed'
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interpolated'
            ELSE 'edge' END AS status,
       CASE WHEN y IS NOT NULL THEN ROUND(y, 6)
            ELSE ROUND(pv + (nv - pv) * (x - px) / (nx - px), 6)
       END AS value
FROM ctx
"""


# ---------------------------------------------------------------------------
# HyperLogLog cardinality sketch (mergeable, exactly replayable)
# ---------------------------------------------------------------------------

def q_hll_user_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user sketch beside the exact count: one
    bounded register table (m = 1024 rows from any input size, built
    by a single map-side-combinable groupBy), summarized to integer
    sufficient statistics whose every bit the oracle replays — the
    register index, the leading-zero rank from `bin()` string length,
    and the 2^51-scaled harmonic denominator are all BIGINT-exact in
    both engines. The float estimate is deliberately driver-side
    (`sketch.hll_estimate`, accuracy pinned in tests); mergeability
    (register-wise MAX across partials) is asserted in tests and the
    scale bench merge-law section."""
    from ..operators.sketch import hll_registers, hll_summary

    ev = _t(spark, sf_dir, "events")
    summ = hll_summary(hll_registers(ev, "user_id", p=10), p=10)
    exact = ev.where(F.col("user_id").isNotNull()).agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return summ.crossJoin(exact)


ORACLE_HLL_USER_CARDINALITY = """
WITH k AS (
  SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
h AS (
  SELECT CAST('0x' || substr(md5('hll_' || CAST(user_id AS VARCHAR)),
                             1, 15) AS BIGINT) AS h
  FROM k),
r AS (SELECT h >> 50 AS register, h & ((1::BIGINT << 50) - 1) AS rest
      FROM h),
rho AS (
  SELECT register,
         CASE WHEN rest = 0 THEN 51
              ELSE 50 - length(bin(rest)) + 1 END AS rho
  FROM r),
regs AS (SELECT register, MAX(rho) AS max_rho FROM rho GROUP BY register)
SELECT 1024::BIGINT AS m,
       (1024 - COUNT(*))::BIGINT AS n_zero,
       SUM(max_rho)::BIGINT AS sum_rho,
       ((1024 - COUNT(*)) * (1::BIGINT << 51)
         + SUM(1::BIGINT << (51 - max_rho)))::BIGINT AS t_scaled,
       (SELECT COUNT(*) FROM k)::BIGINT AS exact_distinct
FROM regs
"""


# ---------------------------------------------------------------------------
# Interval concurrency (sweep line, distributed prefix sum)
# ---------------------------------------------------------------------------

def q_session_concurrency_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Peak concurrent sessions per day: 5-minute-gap user sessions
    (the `sessionization` entry's islands) become [first, last]
    intervals, swept by `temporal.interval_concurrency` — +1/-1
    boundary deltas netted per instant, a per-DAY running sum plus a
    bounded per-day carry prefix (the two-phase distributed scan), so
    no global single-partition window and no interval×instant range
    join ever materializes. Daily max includes the day-start carry
    level (a session spanning midnight raises the next day's floor)."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",  # the running-sum window orders on it too
        F.when(prev.isNull() | ((us - prev) > 300_000_000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = (
        flagged.withColumn(
            "session_id",
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    from ..operators.temporal import interval_concurrency

    conc = interval_concurrency(sessions, "s", "e")
    return conc.groupBy(F.col("bucket").alias("day")).agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.greatest(F.max("concurrency"), F.max("carry_in")).alias(
            "max_concurrency"
        ),
        (F.max("carry_in") + F.sum("n_delta")).alias("end_concurrency"),
    )


ORACLE_SESSION_CONCURRENCY_DAILY = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 300000000
              THEN 1 ELSE 0 END AS new_session
  FROM events WHERE user_id IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessions AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id,
         ts
  FROM flagged),
ivals AS (
  SELECT MIN(ts) AS s, MAX(ts) AS e FROM sessions
  GROUP BY user_id, session_id),
bounds AS (
  SELECT s AS ts, 1 AS delta FROM ivals
  UNION ALL
  SELECT e + INTERVAL 1 MICROSECOND, -1 FROM ivals),
per_ts AS (
  SELECT CAST(ts AS DATE) AS bucket, ts, SUM(delta) AS n_delta
  FROM bounds GROUP BY 1, 2),
loc AS (
  SELECT bucket, ts, n_delta,
         SUM(n_delta) OVER (PARTITION BY bucket ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS run
  FROM per_ts),
carry AS (
  SELECT bucket,
         COALESCE(SUM(bd) OVER (ORDER BY bucket
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS carry_in
  FROM (SELECT bucket, SUM(n_delta) AS bd FROM per_ts GROUP BY bucket))
SELECT l.bucket AS day,
       COUNT(*) AS n_transitions,
       GREATEST(MAX(c.carry_in + l.run), MAX(c.carry_in))::BIGINT
         AS max_concurrency,
       (MAX(c.carry_in) + SUM(l.n_delta))::BIGINT AS end_concurrency
FROM loc l JOIN carry c ON l.bucket = c.bucket
GROUP BY l.bucket
"""


# ---------------------------------------------------------------------------
# Image near-duplicate detection (perceptual average hash)
# ---------------------------------------------------------------------------

def q_media_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs by perceptual average hash — the
    multimodal analog of SimHash text dedup, through REAL codecs: one
    8×16 black/white-pattern PNG is ENCODED per document (see
    `_ahash_pattern_media`), DECODED + NN-sampled + mean-thresholded
    executor-side (`multimodal.png_ahash`), then paired by the
    4×16-bit pigeonhole bands (`ahash_neardup_pairs`) — candidates
    from equi-join buckets, never O(n²). The oracle predicts every
    hash bit in closed form from the synthesis parameters (the binary
    pattern keeps the white-cell count in [20, 43] of 64, where
    aHash's mean threshold provably equals cell whiteness), so the
    entry only matches if encode→decode→resample→threshold→banding all
    ran pixel-exactly. Both Python stages are Arrow-batched
    mapInPandas, narrow until the skinny 16-byte/row hash relation."""
    from ..operators.multimodal import ahash_images, ahash_neardup_pairs

    media = _ahash_pattern_media(spark, sf_dir)
    return ahash_neardup_pairs(ahash_images(media, grid=8), max_hamming=3)


def _ahash_pattern_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One 8×16 black/white-pattern PNG per document — the shared
    fixture of `media_ahash_neardup` and `media_curation_pipeline`.

    Cell (r, c) of class `doc_id % 97` is white iff the first hex
    digit of md5("<class>_<r>_<c>") is below 8 — an md5-SCRAMBLED
    pattern, deliberately not a smooth arithmetic one: a linear
    residue pattern makes adjacent classes differ in only 1-2 cells,
    collapsing every image into one giant near-dup component (a first
    draft did exactly that). With md5 cells, distinct classes sit at
    Hamming ≥ 19 while same-class docs are identical — except for a
    one-pixel "defect" at (2·(doc_id%8), doc_id%8), which puts
    same-class twins at Hamming 2 (or 0 when doc_ids differ by
    lcm(97,8) = 776), exercising the near-dup (not just exact) path.
    Both engines can replay every cell: the oracle uses the identical
    md5 string recipe."""
    import pandas as pd  # noqa: PLC0415 — closure-local, executor-safe

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def encode(batches):
        import hashlib

        from data_engineering_bootcamp_spark.operators.multimodal import (
            encode_png_rgb,
        )

        def white(cls: int, r: int, c: int) -> bool:
            dig = hashlib.md5(f"{cls}_{r}_{c}".encode()).hexdigest()[0]
            return int(dig, 16) < 8

        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                px = bytearray()
                for y in range(16):
                    for x in range(8):
                        w = white(d % 97, y // 2, x)
                        if y == 2 * (d % 8) and x == d % 8:
                            w = not w
                        px.extend((255, 255, 255) if w else (0, 0, 0))
                out.append(encode_png_rgb(8, 16, bytes(px)))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "content": out})

    return docs.mapInPandas(encode, "media_id long, content binary")


def q_media_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IMAGE curation — the multimodal twin of
    `corpus_curation_pipeline`: encode (real PNG) → perceptual hash
    (real decode, `ahash_images`) → banded Hamming pairs → connected
    components → keep-min-id retention (`clustering.
    neardup_retention`). One composed lazy plan: two narrow Python
    stages, the banded equi join, and the bounded CC iteration — the
    exact architecture of an image-dedup pass over a 100 TB media
    corpus. The oracle replays hashes in closed form and resolves
    clusters with a recursive-CTE transitive closure, so both engines
    must agree on every image's cluster id and keep flag."""
    from ..operators.clustering import neardup_retention
    from ..operators.multimodal import ahash_images, ahash_neardup_pairs

    media = _ahash_pattern_media(spark, sf_dir)
    pairs = ahash_neardup_pairs(ahash_images(media, grid=8), max_hamming=3)
    # r17 (guide §1.2 — don't compute things you throw away): the
    # retention spine needs only the id SET, and media_id is documents
    # .doc_id row-for-row (see _ahash_pattern_media), so list ids from
    # the parquet scan instead of re-running the whole PNG-encode
    # mapInPandas a second time just to project its key column
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return neardup_retention(
        docs, pairs, src_col="id_a", dst_col="id_b"
    ).select(
        F.col("doc_id").alias("media_id"), "cluster_id", "keep"
    )


# the bodies of `bits` (doc_id, i, bit): each doc's 64 aHash bits, and
# of `words` (doc_id, hi, lo): the bits packed into two 32-bit words
_AHASH_BITS = """  SELECT d.doc_id, r.r * 8 + c.c AS i,
         CASE WHEN ((CAST('0x' || substr(md5((d.doc_id % 97) || '_' ||
                                             r.r || '_' || c.c), 1, 1)
                          AS INT) < 8)
                    <> (r.r = d.doc_id % 8 AND c.c = d.doc_id % 8))
              THEN 1 ELSE 0 END AS bit
  FROM documents d, range(8) r(r), range(8) c(c)),"""
_AHASH_WORDS = """  SELECT doc_id,
         SUM(CASE WHEN i >= 32 THEN bit::BIGINT << (i - 32)
                  ELSE 0 END)::BIGINT AS hi,
         SUM(CASE WHEN i < 32 THEN bit::BIGINT << i
                  ELSE 0 END)::BIGINT AS lo
  FROM bits GROUP BY doc_id)"""


ORACLE_MEDIA_AHASH_NEARDUP = f"""
WITH bits AS (
  -- sampled cell (r, c) reads image pixel (2r, c), whose whiteness is
  -- md5("<doc_id%97>_<r>_<c>") first hex digit < 8; the defect pixel
  -- (2*(doc_id%8), doc_id%8) lands exactly on sampled cell
  -- (doc_id%8, doc_id%8). Mean-threshold == whiteness while the white
  -- count stays inside [1, 63] (this fixture: [20, 43]).
{_AHASH_BITS}
words AS (
{_AHASH_WORDS}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       (bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)))::INT
         AS hamming
FROM words a JOIN words b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
"""


ORACLE_MEDIA_CURATION_PIPELINE = f"""
WITH RECURSIVE bits AS (
  -- same md5-scrambled cell recipe as ORACLE_MEDIA_AHASH_NEARDUP
{_AHASH_BITS}
words AS MATERIALIZED (
{_AHASH_WORDS},
pairs AS MATERIALIZED (
  SELECT a.doc_id AS pa, b.doc_id AS pb
  FROM words a JOIN words b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3),
edges AS MATERIALIZED (
  SELECT pa AS a, pb AS b FROM pairs
  UNION
  SELECT pb, pa FROM pairs),
{_REACH},
{_COMP}
SELECT d.doc_id AS media_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       d.doc_id = COALESCE(c.cluster_id, d.doc_id) AS keep
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
"""


# ---------------------------------------------------------------------------
# Corpus-frequency segment removal (C4/RefinedWeb line dedup)
# ---------------------------------------------------------------------------

def q_line_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style boilerplate removal: any 8-token segment
    whose text occurs in MORE than 2 distinct documents is dropped
    from every document (frequency-threshold removal — distinct from
    `chunk_dedup_rebuild`'s keep-first contract, which keeps one copy;
    boilerplate should survive nowhere). See
    `operators.chunking.drop_frequent_segments` for the shuffle
    budget: ONE md5(segment)-keyed exchange computes the document
    frequency (two window passes share the partitioning; no
    collect_set of doc ids, no df join-back), one more on doc_id for
    the rebuild."""
    from ..operators.chunking import drop_frequent_segments

    docs = _t(spark, sf_dir, "documents")
    return drop_frequent_segments(docs, segment_tokens=8, max_docs=2)


ORACLE_LINE_DEDUP_REBUILD = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents),
sized AS (
  SELECT doc_id, t,
         1 + CAST(ceil(greatest(len(t) - 8, 0) / 8.0) AS INT) AS n_chunks
  FROM toks),
segs AS (
  SELECT doc_id, i AS chunk_idx, t[(i * 8 + 1):(i * 8 + 8)] AS ctoks
  FROM sized, UNNEST(range(0, n_chunks)) AS u(i)),
keyed AS (
  SELECT doc_id, chunk_idx, len(ctoks) AS n_tokens,
         array_to_string(ctoks, ' ') AS ctext
  FROM segs),
df AS (
  SELECT ctext, COUNT(DISTINCT doc_id) AS n_docs
  FROM keyed GROUP BY ctext)
SELECT k.doc_id,
       COUNT(*) AS n_segs,
       SUM(CASE WHEN df.n_docs > 2 THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       COALESCE(SUM(CASE WHEN df.n_docs <= 2 THEN k.n_tokens END), 0)::BIGINT
         AS kept_tokens,
       md5(COALESCE(
         string_agg(CASE WHEN df.n_docs <= 2 THEN k.ctext END, ' '
                    ORDER BY k.chunk_idx), '')) AS rebuilt_md5
FROM keyed k JOIN df USING (ctext)
GROUP BY k.doc_id
"""


# ---------------------------------------------------------------------------
# KMV bottom-k sketch set algebra (union / intersection / Jaccard)
# ---------------------------------------------------------------------------

def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user overlap between every event-type pair through a
    k-minimum-values sketch (k = 64): per pair, each side's sketch
    statistics, the union sketch (k smallest distinct hashes of both
    sides' rows), and the Jaccard numerator `inter_in_union` — the
    Theta-sketch set algebra HLL cannot do. All columns BIGINT,
    bit-replayed by the oracle (`md5_hash60` contract); float
    estimates live driver-side in `sketch.kmv_estimate` with the
    error envelope pinned in tests. The exact distinct/intersection
    columns beside them are the small-scale AUDIT twin (a real
    per-pair distinct-intersection join) — at 100 TB you ship only
    the sketch columns, which is the point: sketches are bounded at
    k rows per group no matter the input, and the only full-width
    pass is one map-side-combined distinct."""
    from ..operators.sketch import kmv_pair_stats, kmv_sketch

    ev = _t(spark, sf_dir, "events")
    sk = kmv_sketch(ev, "user_id", "event_type", k=64)
    pair = (
        kmv_pair_stats(sk, "event_type", k=64)
        .withColumnRenamed("grp_a", "type_a")
        .withColumnRenamed("grp_b", "type_b")
    )
    du = (
        ev.where(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .distinct()
    )
    ex_sides = du.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("exact")
    )
    a = du.select(
        F.col("event_type").alias("type_a"), F.col("user_id")
    )
    b = du.select(
        F.col("event_type").alias("type_b"), F.col("user_id")
    )
    ex_inter = (
        a.join(b, ["user_id"])
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    ea = ex_sides.select(
        F.col("event_type").alias("type_a"), F.col("exact").alias("exact_a")
    )
    eb = ex_sides.select(
        F.col("event_type").alias("type_b"), F.col("exact").alias("exact_b")
    )
    return (
        pair.join(F.broadcast(ea), "type_a")
        .join(F.broadcast(eb), "type_b")
        .join(ex_inter, ["type_a", "type_b"], "left")
        .select(
            "type_a", "type_b", "size_a", "kth_a", "size_b", "kth_b",
            "union_size", "union_kth", "inter_in_union",
            "exact_a", "exact_b",
            F.coalesce("exact_inter", F.lit(0)).cast("long").alias(
                "exact_inter"
            ),
        )
    )


ORACLE_KMV_SET_OPS = """
WITH du AS (
  SELECT DISTINCT event_type, user_id
  FROM events WHERE user_id IS NOT NULL),
dh AS (
  SELECT DISTINCT event_type,
         CAST('0x' || substr(md5('kmv_' || CAST(user_id AS VARCHAR)),
                             1, 15) AS BIGINT) AS h
  FROM du),
sk AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM dh),
kept AS (SELECT event_type, h FROM sk WHERE rn <= 64),
sides AS (
  SELECT event_type, COUNT(*) AS sz, MAX(h) AS kth
  FROM kept GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM sides a JOIN sides b ON a.event_type < b.event_type),
u AS (
  SELECT p.type_a, p.type_b, k.h,
         MAX(CASE WHEN k.event_type = p.type_a THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN k.event_type = p.type_b THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN kept k ON k.event_type IN (p.type_a, p.type_b)
  GROUP BY p.type_a, p.type_b, k.h),
ur AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY type_a, type_b ORDER BY h)
            AS urn
  FROM u),
us AS (
  SELECT type_a, type_b, COUNT(*)::BIGINT AS union_size,
         MAX(h) AS union_kth,
         SUM(in_a * in_b)::BIGINT AS inter_in_union
  FROM ur WHERE urn <= 64 GROUP BY type_a, type_b),
ex_sides AS (
  SELECT event_type, COUNT(*)::BIGINT AS exact
  FROM du GROUP BY event_type),
ex_inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*)::BIGINT AS exact_inter
  FROM du a JOIN du b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT us.type_a, us.type_b,
       sa.sz::BIGINT AS size_a, sa.kth AS kth_a,
       sb.sz::BIGINT AS size_b, sb.kth AS kth_b,
       us.union_size, us.union_kth, us.inter_in_union,
       ea.exact AS exact_a, eb.exact AS exact_b,
       COALESCE(ei.exact_inter, 0)::BIGINT AS exact_inter
FROM us
JOIN sides sa ON sa.event_type = us.type_a
JOIN sides sb ON sb.event_type = us.type_b
JOIN ex_sides ea ON ea.event_type = us.type_a
JOIN ex_sides eb ON eb.event_type = us.type_b
LEFT JOIN ex_inter ei
  ON ei.type_a = us.type_a AND ei.type_b = us.type_b
"""


# ---------------------------------------------------------------------------
# Trailing-window z-score anomaly flags in exact integer arithmetic
# ---------------------------------------------------------------------------

def q_zscore_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-event-type revenue anomalies: a day is anomalous when
    its total sits more than 2 population standard deviations from
    the trailing 14-day mean (frame = 14 PRECEDING .. 1 PRECEDING;
    NULL verdict until 7 prior days exist). The z-test runs in EXACT
    integer arithmetic — |x - S/n| > 2*sigma is algebraically
    (n*x - S)^2 > 4*(n*Q - S^2) with S = trailing sum, Q = trailing
    sum of squares — evaluated in DECIMAL(38,0) (HUGEINT in the
    oracle), so no float stddev whose Welford-vs-naive formulation
    could disagree across engines ever touches a hashed column (the
    repo's division-only discipline, cf. the bigram-LM and tf-idf
    entries). Money is milli-units-as-BIGINT. One shuffle: the daily
    aggregate and the ordered window share the event_type hash
    partitioning."""
    ev = _t(spark, sf_dir, "events")
    # TZ-free day bucketing (VERDICT r6 #3): derive the day from the
    # raw epoch-second instant, not date_trunc under the session TZ,
    # so the grouping matches the TZ-naive DuckDB oracle under ANY
    # spark.sql.session.timeZone.
    day_col = F.date_add(
        F.to_date(F.lit("1970-01-01")),
        F.floor(F.col("ts").cast("long") / 86400).cast("int"),
    )
    daily = ev.groupBy(
        "event_type",
        day_col.alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 1000).cast("long")).alias("x")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-14, -1)
    )
    n = F.count("x").over(w)
    s = F.sum("x").over(w)
    q = F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).over(w)
    dec = "decimal(38,0)"
    lhs = (n.cast(dec) * F.col("x") - s) * (n.cast(dec) * F.col("x") - s)
    rhs = F.lit(4).cast(dec) * (n.cast(dec) * q - s.cast(dec) * s)
    return daily.select(
        "event_type",
        "day",
        "x",
        n.cast("long").alias("n_prior"),
        s.cast("long").alias("sum_prior"),
        F.when(n >= 7, lhs > rhs).alias("is_anomaly"),
    )


ORACLE_ZSCORE_ANOMALY_DAYS = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS x
  FROM events GROUP BY 1, 2),
win AS (
  SELECT event_type, day, x,
         COUNT(x) OVER w AS n,
         SUM(x) OVER w AS s,
         SUM(CAST(x AS HUGEINT) * x) OVER w AS q
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING))
SELECT event_type, day, x::BIGINT AS x,
       n::BIGINT AS n_prior,
       s::BIGINT AS sum_prior,
       CASE WHEN n >= 7 THEN
         (CAST(n AS HUGEINT) * x - s) * (CAST(n AS HUGEINT) * x - s)
           > 4 * (CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
       END AS is_anomaly
FROM win
"""


# Mid-window checkpoint cadence for the three 31-day composed replays —
# DERIVED FROM MEASUREMENT, not folklore (VERDICT r12 #4; the full
# sweep lives in REPLAY_DEPTH_r13.json "axes" and the COVERAGE.md r13
# cadence table). Root cause of the superlinear no-checkpoint growth:
# AQE re-runs its re-optimizer over the WHOLE remaining plan at every
# shuffle-stage materialization, so one uncheckpointed n-advance job
# pays O(n) re-plans x O(n) plan size = O(n^2) optimizer work —
# disabling AQE alone makes depth-93 execution near-linear
# (34.4 s -> 16.7 s; codegen-off only trims it to 27.6 s, and analysis
# was already linear), which pins the quadratic on adaptive
# re-planning, not scheduling or codegen. A localCheckpoint(lazy)
# truncates what that re-optimizer can see — but under AQE it is NOT
# free: .rdd finalizes the adaptive plan by EXECUTING the upstream
# stages, so each checkpoint moves segment cost from exec-time to
# build-time and the total has a shallow knee. Measured totals
# (build+exec, sf0.01): depth 31 — c4 23.6 s, c8 22.9, c16 26.5,
# c32 39.8, none 26.5; the r12 gate-scale sweep of the same loop had
# c8 13.4 / c16 12.4 / c32 13.4 / c4 16.6. Cadence 8 minimizes the
# worst-case regret across both sweeps (never >8%% off the best seen;
# 16 is up to 16%% off, 4 up to 34%% off), so 8 is the default.
REPLAY_CHECKPOINT_CADENCE = 8

# Whether the mid-window checkpoint materializes immediately. r14
# re-measurement (VERDICT r13 #5, COVERAGE.md round-14 section):
# eager=True at cadence 8 makes BUILD linear in depth and beats the
# lazy form on total wall at every measured depth and at the entries
# themselves — the r13 'fewer+lazier beats eager 2.6x' note predates
# the cadence-8 sweep and no longer reproduces.
REPLAY_CHECKPOINT_EAGER = True


def q_pipeline_replay_31d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """31-day incremental replay of the growth-accounting daily pipeline
    (VERDICT r8 #6): drive `operators.growth.growth_accounting` —
    yesterday's snapshot FULL OUTER JOIN today's activity, the
    reference's daily state machine
    (M4A/lecture-lab/growth_accounting.sql:19-46;
    M2/lecture-lab/user_cumulated_populate.sql is the same advance
    shape) — day by day over 2024-01-01..2024-01-31 starting from an
    EMPTY state, and emit the FINAL state. The events table ends
    2024-01-30, so day 31 exercises the all-null today side (everyone
    lands Churned or Stale).

    The oracle is the whole-window batch aggregate: the pipeline is
    daily-idempotent by construction, so 31 composed advances must
    equal one direct groupBy over the window — first/last active date,
    newest-first dates_active, and the day-31 state derived from
    (last_active, active-on-day-30) alone.

    Scale shape: the per-day activity slice (`daily`) is one DISTINCT
    over one events scan, materialized once (localCheckpoint) and
    sliced 31 times by a pushed day predicate; each advance shuffles
    only O(users) state rows on user_id. The replay takes one lazy
    mid-window checkpoint to bound plan depth — in production each
    advance is its own run writing a snapshot table (S9 insertInto),
    so plan depth is 1 there; the composed form exists to PROVE the
    day-composition ≡ batch equivalence.
    """
    import datetime as _dt

    from pyspark.sql import types as T

    from ..operators.growth import growth_accounting

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("user_id").isNotNull())
        .select("user_id", utc_date_of_ts("ts").alias("date_active"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    state_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("first_active_date", T.DateType()),
            T.StructField("last_active_date", T.DateType()),
            T.StructField("daily_active_state", T.StringType()),
            T.StructField("dates_active", T.ArrayType(T.DateType())),
            T.StructField("date", T.DateType()),
        ]
    )
    state = spark.createDataFrame([], state_schema)
    start = _dt.date(2024, 1, 1)
    for i in range(31):
        ds = (start + _dt.timedelta(days=i)).isoformat()
        today = daily.where(
            F.col("date_active") == F.lit(ds).cast("date")
        )
        state = growth_accounting(state, today, ds, date_col="date_active")
        if (i + 1) % REPLAY_CHECKPOINT_CADENCE == 0:
            # mid-replay checkpoint: truncates the logical plan so
            # per-advance Catalyst re-analysis stays bounded. EAGER
            # since r14: under AQE a lazy checkpoint defers (and
            # re-pays) upstream-stage finalization at every later
            # analysis, so eager-every-8 measured faster on total wall
            # at both gate scales and every depth (see
            # REPLAY_CHECKPOINT_EAGER).
            state = state.localCheckpoint(eager=REPLAY_CHECKPOINT_EAGER)
    return state.select(
        "user_id",
        F.col("first_active_date").cast("string").alias("first_active_date"),
        F.col("last_active_date").cast("string").alias("last_active_date"),
        "daily_active_state",
        F.size("dates_active").alias("n_days"),
        F.array_join(
            F.transform(F.col("dates_active"), lambda d: d.cast("string")),
            ",",
        ).alias("dates_active"),
    )


ORACLE_PIPELINE_REPLAY_31D = """
WITH daily AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
  FROM events
  WHERE user_id IS NOT NULL
    AND CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-31'),
agg AS (
  SELECT user_id,
         MIN(d) AS first_d,
         MAX(d) AS last_d,
         CAST(COUNT(DISTINCT d) AS INT) AS n_days,
         MAX(CASE WHEN d = DATE '2024-01-30' THEN 1 ELSE 0 END) AS a30,
         array_to_string(list_transform(
           array_agg(DISTINCT d ORDER BY d DESC),
           x -> CAST(x AS VARCHAR)), ',') AS dates_active
  FROM daily GROUP BY user_id)
SELECT user_id,
       strftime(first_d, '%Y-%m-%d') AS first_active_date,
       strftime(last_d, '%Y-%m-%d') AS last_active_date,
       CASE
         WHEN last_d = DATE '2024-01-31' AND first_d = DATE '2024-01-31'
           THEN 'New'
         WHEN last_d = DATE '2024-01-31' AND a30 = 1 THEN 'Retained'
         WHEN last_d = DATE '2024-01-31' THEN 'Resurrected'
         WHEN last_d = DATE '2024-01-30' THEN 'Churned'
         ELSE 'Stale'
       END AS daily_active_state,
       n_days,
       dates_active
FROM agg
"""


def q_scd_replay_31d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """31-day incremental replay of the SCD-2 advance (VERDICT r9 #3,
    completing the replay matrix r8 #6 started): drive
    `operators.scd.scd_incremental` — the reference's one-period
    UNION-ALL advance (M1/lecture-lab/incremental_scd_query.sql:38-110)
    — day by day over January from an EMPTY history, and emit the
    final SCD table. The oracle is the reference's OTHER form of the
    same table: the batch streak SCD over the whole window
    (M1/lecture-lab/scd_generation_query.sql:1-35) — the two-forms
    equivalence the reference itself teaches, proved here as 31
    composed advances ≡ one batch window build.

    The equivalence requires DENSE snapshots (every entity present in
    every period from its first appearance — exactly the reference's
    players table, which carries a row per season with an is_active
    flag once a player exists): a user inactive on day d snapshots as
    dominant='none' rather than vanishing, because the incremental
    advance seals a vanished entity's range while the batch form would
    bridge the gap. Densification = first-activity spine LEFT JOIN the
    per-day dominant, COALESCE 'none'.

    Scale shape: the dominant-daily relation and the first-day spine
    are each materialized once (localCheckpoint) and sliced 31 times by
    a pushed day predicate; each advance is ONE full-outer join keyed
    on user_id over O(users) state rows plus a single explode (never a
    per-branch UNION re-scan — see scd.py:104). Plan depth is bounded
    by one lazy checkpoint on the measured cadence (REPLAY_CHECKPOINT_CADENCE); in production each advance
    is its own run writing a snapshot table, so depth is 1 there — the
    composed form exists to PROVE day-composition ≡ batch.
    """
    from pyspark.sql import types as T

    from ..operators.scd import scd_incremental
    from .catalog_ext import _dominant_daily

    dom = _dominant_daily(spark, sf_dir)
    firstd = dom.groupBy("user_id").agg(F.min("d").alias("fd"))
    # Densify ONCE (VERDICT r14 #6): the r14 loop rebuilt the day's
    # snapshot inside every advance (filter + join + coalesce-select =
    # 3 DataFrame ops and a JOIN subtree per day, each op re-running
    # eager analysis over the whole composed plan). The dense
    # (user_id, d, dominant) relation — the oracle's own `dense` CTE —
    # is built and MATERIALIZED once, so each advance's snapshot is a
    # single pushed filter over a checkpointed leaf: 1 op per day, no
    # per-day join in any composed subtree, and both plan build and
    # execution shrink (REPLAY_DEPTH_r15.json has the measured slope).
    dense = (
        firstd.select(
            "user_id",
            F.explode(
                F.sequence(F.col("fd"), F.lit(31))
            ).alias("d"),
        )
        .join(dom, ["user_id", "d"], "left")
        .select(
            "user_id",
            "d",
            F.coalesce(F.col("dominant"), F.lit("none")).alias("dominant"),
        )
        .localCheckpoint(eager=True)
    )
    hist_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("dominant", T.StringType()),
            T.StructField("start_d", T.IntegerType()),
            T.StructField("end_d", T.IntegerType()),
        ]
    )
    history = spark.createDataFrame([], hist_schema)
    for day in range(1, 32):
        # the extra `d` column rides along harmlessly: scd_incremental
        # projects exactly key + tracked from the snapshot side
        snap = dense.where(F.col("d") == day)
        history = scd_incremental(
            history, snap, "user_id", "d", ["dominant"], day
        )
        if day % REPLAY_CHECKPOINT_CADENCE == 0:
            # measured cadence (see REPLAY_CHECKPOINT_CADENCE), since the r11
            # single-reference scd_incremental rewrite: each advance
            # now references `history` ONCE (the currency test rides
            # the full-outer join as a residual condition instead of a
            # filter-split + union), so plan size grows LINEARLY per
            # advance. Under the old two-reference form plan size
            # DOUBLED per advance and the knee was cadence 4 (8 →
            # 54.7 s of 2^8-subtree Catalyst analysis, 4 → 24.7 s, 2 →
            # 29.6 s). Re-swept after the rewrite at gate scale:
            # 4 → 16.6 s, 8 → 13.4 s, 16 → 12.4 s, 32 → 13.4 s.
            history = history.localCheckpoint(
                eager=REPLAY_CHECKPOINT_EAGER
            )
    return history.select(
        "user_id",
        F.col("dominant").alias("event_type"),
        "start_d",
        "end_d",
    )


ORACLE_SCD_REPLAY_31D = """
WITH daily AS (
  SELECT user_id, EXTRACT(day FROM ts)::INT AS d, event_type,
         COUNT(*) AS c
  FROM events
  WHERE user_id IS NOT NULL
    AND date_trunc('month', ts) = TIMESTAMP '2024-01-01'
  GROUP BY 1, 2, 3),
dom AS (
  SELECT user_id, d, event_type AS dominant FROM (
    SELECT user_id, d, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id, d
                              ORDER BY c DESC, event_type) AS rn
    FROM daily) WHERE rn = 1),
firstd AS (SELECT user_id, MIN(d) AS fd FROM dom GROUP BY user_id),
spine AS (
  SELECT user_id, CAST(unnest(generate_series(fd, 31)) AS INT) AS d
  FROM firstd),
dense AS (
  SELECT s.user_id, s.d, COALESCE(dom.dominant, 'none') AS dominant
  FROM spine s LEFT JOIN dom ON s.user_id = dom.user_id AND s.d = dom.d),
flagged AS (
  SELECT user_id, d, dominant,
         CASE WHEN LAG(dominant) OVER w IS DISTINCT FROM dominant
              THEN 1 ELSE 0 END AS chg
  FROM dense
  WINDOW w AS (PARTITION BY user_id ORDER BY d)),
streaks AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY d
                           ROWS UNBOUNDED PRECEDING) AS s
  FROM flagged)
SELECT user_id, dominant AS event_type,
       MIN(d) AS start_d, MAX(d) AS end_d
FROM streaks GROUP BY user_id, dominant, s
"""


def q_users_cumulated_replay_31d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """31-day incremental replay of the users_cumulated datelist build
    (VERDICT r9 #3): drive `operators.cumulate.cumulate_datelist` — the
    reference's daily cumulation
    (M2/lecture-lab/user_cumulated_populate.sql:1-30, yesterday FULL
    OUTER today with the new date prepended newest-first) — day by day
    over 2024-01-01..31 from an EMPTY state. The oracle is the direct
    whole-window date-array aggregate: 31 composed advances must equal
    one groupBy with a DESC-sorted distinct date array, the same
    day-composition ≡ batch proof as pipeline_replay_31d.

    Scale shape: the per-day activity slice is one DISTINCT over one
    events scan materialized once and sliced 31 times by a pushed day
    predicate; each advance shuffles only O(users) state rows on
    user_id (the array concat is map-side). One lazy mid-window
    checkpoint bounds plan depth, as in the other replays.
    """
    import datetime as _dt

    from pyspark.sql import types as T

    from ..operators.cumulate import cumulate_datelist

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("user_id").isNotNull())
        .select("user_id", utc_date_of_ts("ts").alias("date_active"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    state_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("dates_active", T.ArrayType(T.DateType())),
            T.StructField("date", T.DateType()),
        ]
    )
    state = spark.createDataFrame([], state_schema)
    start = _dt.date(2024, 1, 1)
    for i in range(31):
        ds = (start + _dt.timedelta(days=i)).isoformat()
        today = daily.where(F.col("date_active") == F.lit(ds).cast("date"))
        state = cumulate_datelist(state, today, ds)
        if (i + 1) % REPLAY_CHECKPOINT_CADENCE == 0:
            state = state.localCheckpoint(eager=REPLAY_CHECKPOINT_EAGER)
    return state.select(
        "user_id",
        F.array_join(
            F.transform(F.col("dates_active"), lambda d: d.cast("string")),
            ",",
        ).alias("dates_active"),
        F.size("dates_active").alias("n_days"),
    )


ORACLE_USERS_CUMULATED_REPLAY_31D = """
WITH daily AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
  FROM events
  WHERE user_id IS NOT NULL
    AND CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-31')
SELECT user_id,
       array_to_string(list_transform(
         array_agg(DISTINCT d ORDER BY d DESC),
         x -> CAST(x AS VARCHAR)), ',') AS dates_active,
       CAST(COUNT(DISTINCT d) AS INT) AS n_days
FROM daily GROUP BY user_id
"""
