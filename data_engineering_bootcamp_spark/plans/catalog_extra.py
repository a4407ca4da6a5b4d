"""Round-2 additions to the gated catalog: as-of join, exact
quantiles, per-document repetition stats, broadcast-dict UDF
enrichment, and bulk column rename.

Closes the last SURVEY §2 ids that had only unit coverage after
round 1 (P2 bulk rename, the §2.10/T6 UDF-enrichment analog) and adds
two capabilities the reference's lesson material implies but never
names as operators:

- ``asof_latest_order`` — the temporal/as-of join every
  event-to-state enrichment needs (the reference builds the same
  shape with window functions in its fact-modeling labs,
  `2-fact-data-modeling` lecture SQL); DuckDB's native ASOF JOIN is
  the oracle, so the semantics are pinned exactly.
- ``exact_percentiles`` — exact linear-interpolation quantiles
  (Spark `percentile`, matches DuckDB `quantile_cont` bit-for-bit
  after 4-dp rounding), the A-family hole between AVG and the
  approximate sketches.
- ``doc_ttr_repetition`` — type-token ratio + duplicate-3-gram
  ratio, the standard LLM-corpus repetition-quality signals
  (Rae et al. 2021 "Gopher" repetition filters), all
  Catalyst-side (split/array_distinct/transform — no Python).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _tokens
from ..operators.temporal import asof_join
from ..functions.datelist import utc_date, utc_date_of_ts
from ..sources.readers import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# As-of join (temporal enrichment)
# ---------------------------------------------------------------------------

def q_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach each event to the user's most recent order on or before
    the event date (LEFT semantics: users with no prior order keep
    NULLs). Right side is pre-aggregated to one row per
    (custkey, orderdate) — the determinism contract ASOF requires.

    Plan shape: one hash shuffle on user_id for the union-and-window
    pass; no range join, no per-key fan-out.
    """
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "event_id", "user_id", utc_date_of_ts("ts").alias("event_date")
        )
    )
    orders = _t(spark, sf_dir, "orders")
    od = (
        orders
        # EXPLICIT day resolution: o_orderdate ships as a (midnight)
        # timestamp but the schema contract admits DATE too; asof_join
        # refuses lossy implicit casts, so the TZ-free date intent is
        # declared here via the dtype-branching helper
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            utc_date(orders, "o_orderdate").alias("o_orderdate"),
        )
        .agg(F.max("o_orderkey").alias("last_order_key"))
    )
    res = asof_join(
        ev,
        od,
        key="user_id",
        left_ts="event_date",
        right_ts="o_orderdate",
        payload_cols=["last_order_key"],
    )
    return res.select(
        "event_id",
        "user_id",
        "event_date",
        F.col("asof_ts").alias("last_order_date"),
        "last_order_key",
    )


ORACLE_ASOF_LATEST_ORDER = """
WITH ev AS (SELECT event_id, user_id, CAST(ts AS DATE) AS event_date
            FROM events WHERE user_id IS NOT NULL),
od AS (SELECT o_custkey AS user_id, o_orderdate,
              MAX(o_orderkey) AS last_order_key
       FROM orders GROUP BY 1, 2)
SELECT ev.event_id, ev.user_id, ev.event_date,
       od.o_orderdate AS last_order_date, od.last_order_key
FROM ev ASOF LEFT JOIN od
  ON ev.user_id = od.user_id AND ev.event_date >= od.o_orderdate
"""


# ---------------------------------------------------------------------------
# Exact percentiles (A-family)
# ---------------------------------------------------------------------------

def q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75 of extended price per return flag. Spark's
    `percentile` (exact, linear interpolation) — NOT
    `percentile_approx`, whose sketch would never hash-match an
    oracle. At 100 TB the approx form is the right default; the exact
    form exists for the gate and for final reporting aggregates whose
    group count is bounded."""
    li = _t(spark, sf_dir, "lineitem")
    p = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))").alias("p"),
        F.count("*").alias("n_rows"),
    )
    return p.select(
        "l_returnflag",
        "n_rows",
        F.round(F.element_at("p", 1), 4).alias("p25"),
        F.round(F.element_at("p", 2), 4).alias("p50"),
        F.round(F.element_at("p", 3), 4).alias("p75"),
    )


ORACLE_EXACT_PERCENTILES = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75
FROM lineitem GROUP BY l_returnflag
"""


def q_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `percentile_approx` scale twin of `exact_percentiles`, gated
    through the error-envelope verdict pattern (like
    `table_profile_approx`): per return flag, ONE aggregate computes
    the exact p25/p50/p75 (reported) plus the Greenwald-Khanna sketch
    estimates, and each `okNN` boolean asserts the sketch's published
    guarantee — rank error <= 1/accuracy — with a 5x safety margin:
    ``exact(q - 5/acc) <= approx(q) <= exact(q + 5/acc)``. The sketch's
    returned value DEPENDS on partitioning/merge order (unlike HLL), so
    this entry is exactly what the row-shuffled and single-partition
    gate axes exist to stress: the estimate may move between runs, the
    guarantee — and therefore the hash — may not."""
    acc = 1000
    eps = 5.0 / acc
    li = _t(spark, sf_dir, "lineitem")
    qs = [0.25, 0.5, 0.75]
    lo = [q - eps for q in qs]
    hi = [q + eps for q in qs]
    # r16 (guide §2.3 — aggregate state): ONE exact-percentile
    # aggregate over the 9 quantile points instead of three separate
    # 3-point calls. Each `percentile` aggregate buffers EVERY group
    # value independently, so three calls held the 600k-row column
    # three times per group in the merge path; one 9-point call holds
    # it once and answers the same 9 order statistics (isolated
    # sf0.1 medians 3.28 -> 2.33 s on the round's host — see
    # OPTIMIZATION_r16.md; values bit-identical).
    nine = qs + lo + hi
    p = li.groupBy("l_returnflag").agg(
        F.expr(
            f"percentile(l_extendedprice, array({', '.join(map(str, nine))}))"
        ).alias("p9"),
        F.expr(
            f"percentile_approx(l_extendedprice, "
            f"array({qs[0]}, {qs[1]}, {qs[2]}), {acc})"
        ).alias("pa"),
        F.count("*").alias("n_rows"),
    )
    def _ok(i: int):
        return (
            (F.element_at("pa", i) >= F.element_at("p9", 3 + i))
            & (F.element_at("pa", i) <= F.element_at("p9", 6 + i))
        )
    return p.select(
        "l_returnflag",
        "n_rows",
        F.round(F.element_at("p9", 1), 4).alias("p25"),
        F.round(F.element_at("p9", 2), 4).alias("p50"),
        F.round(F.element_at("p9", 3), 4).alias("p75"),
        _ok(1).alias("ok25"),
        _ok(2).alias("ok50"),
        _ok(3).alias("ok75"),
    )


ORACLE_PERCENTILES_APPROX = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
       TRUE AS ok25, TRUE AS ok50, TRUE AS ok75
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Repetition / lexical-diversity quality signals (LLM corpus filters)
# ---------------------------------------------------------------------------

def q_doc_ttr_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document type-token ratio and duplicate-3-gram ratio — the
    repetition filters an LLM training pipeline applies before
    training (high dup3 = boilerplate/spam). Pure Catalyst: split →
    array_distinct → transform(sequence) 3-gram windows; zero Python,
    whole-stage-codegen end to end, embarrassingly parallel per doc."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")), " "
    )
    d = docs.select("doc_id", words.alias("w"))
    n = F.size("w")
    grams = F.when(
        n >= 3,
        F.expr(
            "transform(sequence(1, size(w) - 2), i -> concat_ws(' ', "
            "element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return d.select(
        "doc_id",
        n.alias("n_words"),
        F.round(F.size(F.array_distinct("w")) / n, 6).alias("ttr"),
        F.round(
            F.when(
                F.size(grams) > 0,
                1.0 - F.size(F.array_distinct(grams)) / F.size(grams),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup3_ratio"),
    )


ORACLE_DOC_TTR_REPETITION = """
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g')), ' ') AS w
  FROM documents),
g AS (
  SELECT doc_id, w, len(w) AS n_words,
         CASE WHEN len(w) >= 3 THEN
           list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])
         ELSE [] END AS grams
  FROM t)
SELECT doc_id, n_words,
       ROUND(len(list_distinct(w)) * 1.0 / n_words, 6) AS ttr,
       ROUND(CASE WHEN len(grams) > 0
                  THEN 1.0 - len(list_distinct(grams)) * 1.0 / len(grams)
                  ELSE 0.0 END, 6) AS dup3_ratio
FROM g
"""


# ---------------------------------------------------------------------------
# Broadcast-dict UDF enrichment (T6 analog / §2.10)
# ---------------------------------------------------------------------------

def q_udf_enrich_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer rollup keyed by nation NAME resolved through a
    broadcast dictionary inside an Arrow-batched pandas UDF — the
    batch analog of the reference's streaming enrichment UDF
    (M4F/src/job/start_job.py session/geodata lookup). The dim is
    bounded (25 nations) by contract, so the driver collect is the
    broadcast pattern, not a scale bug. The oracle is the equivalent
    join: the UDF must behave exactly like a broadcast hash join."""
    from pyspark.sql.functions import pandas_udf

    nation = _t(spark, sf_dir, "nation")
    mapping = {
        int(r["n_nationkey"]): r["n_name"]
        for r in nation.select("n_nationkey", "n_name").collect()
    }
    bc = spark.sparkContext.broadcast(mapping)

    @pandas_udf("string")
    def nation_name(keys: pd.Series) -> pd.Series:
        m = bc.value
        return keys.map(lambda k: m.get(int(k)) if pd.notna(k) else None)

    cust = _t(spark, sf_dir, "customer")
    return (
        cust.withColumn("nation_name", nation_name(F.col("c_nationkey")))
        .groupBy("nation_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


ORACLE_UDF_ENRICH_BROADCAST = """
SELECT n.n_name AS nation_name,
       COUNT(*) AS n_customers,
       ROUND(SUM(c.c_acctbal), 2) AS total_acctbal
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Bulk rename (P2)
# ---------------------------------------------------------------------------

def q_bulk_rename_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: rename a whole column family through a mapping (the
    reference renames raw-feed columns to its modeling convention in
    the M2 labs), then aggregate through the NEW names — proving the
    rename is a pure metadata operation that survives into the plan.
    `withColumnsRenamed` is one plan node, not a rename-per-column
    chain."""
    rename_map = {
        "l_orderkey": "order_key",
        "l_quantity": "qty",
        "l_extendedprice": "price",
        "l_discount": "discount",
        "l_returnflag": "return_flag",
        "l_linestatus": "line_status",
    }
    li = _t(spark, sf_dir, "lineitem").withColumnsRenamed(rename_map)
    return (
        li.where(F.col("qty") > 10)
        .groupBy("return_flag", "line_status")
        .agg(
            F.count("order_key").alias("n_items"),
            F.round(F.sum(F.col("price") * (1 - F.col("discount"))), 2).alias(
                "net_revenue"
            ),
        )
    )


ORACLE_BULK_RENAME_SUMMARY = """
SELECT l_returnflag AS return_flag, l_linestatus AS line_status,
       COUNT(l_orderkey) AS n_items,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS net_revenue
FROM lineitem WHERE l_quantity > 10
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Deterministic hash-based train/test split (sampling family)
# ---------------------------------------------------------------------------

def q_hash_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25% holdout split of events by md5(event_id), aggregated per
    (split, event_type). The oracle runs the IDENTICAL hex-prefix
    predicate in DuckDB — proving the split is engine-independent —
    and the union of both splits' counts proves the partition is
    exhaustive and disjoint (no row lost or double-assigned)."""
    from ..operators.sampling import _threshold_hex, sample_bucket

    ev = _t(spark, sf_dir, "events")
    # single-pass form: ONE scan with the split as a label column, not
    # two filtered scans (train_test_split's two DataFrames are the
    # user-facing API; an audit aggregate over both sides should label
    # and group instead — same semantics, half the reads)
    split = F.when(
        sample_bucket(F.col("event_id")) < F.lit(_threshold_hex(0.25)), "test"
    ).otherwise("train")
    return (
        ev.withColumn("split", split)
        .groupBy("split", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select("split", "event_type", "n_events", "n_users", "total_value")
    )


ORACLE_HASH_SAMPLE_SPLIT = """
WITH b AS (
  SELECT *, substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS bucket
  FROM events),
lab AS (
  SELECT *, CASE WHEN bucket < '40000000' THEN 'test' ELSE 'train' END
              AS split
  FROM b)
SELECT split, event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(value), 2) AS total_value
FROM lab GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Near-dup oracle fragments: the CTEs the text near-dup oracles share
# (ngram_jaccard, decontaminate, simhash, neardup_clusters[_star] and
# the two curation pipelines), each written once
# ---------------------------------------------------------------------------

# the `_tokens` normalization: lower, collapse whitespace, split, drop
# empties
_TOKS_TK = r"""toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                                                      'g')), ' '),
                     t -> t <> '') AS tk
  FROM documents)"""


def _trigrams(toks: str) -> str:
    """The distinct word-trigram list `g` of the token list `toks`
    (the whole text is one gram below 3 tokens)."""
    return f"""CASE WHEN len({toks}) >= 3 THEN
           list_distinct(list_transform(range(1, len({toks}) - 1),
                                        i -> array_to_string({toks}[i:i+2], ' ')))
         ELSE [array_to_string({toks}, ' ')] END AS g"""


_GRAMS_TK = f"""grams AS (
  SELECT doc_id,
         {_trigrams("tk")}
  FROM toks)"""

# the body of `pairs`: trigram-Jaccard >= 0.5 pairs over `grams`
_JACCARD_PAIRS = """  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM grams a JOIN grams b ON a.doc_id < b.doc_id
  WHERE ROUND(len(list_intersect(a.g, b.g))::DOUBLE /
              (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6)
        >= 0.5)"""

# transitive closure over an undirected `edges` (a, b) relation
_REACH = """reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)"""

_CLOSURE = f"""edges AS MATERIALIZED (
  SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
  UNION
  SELECT doc_id_b, doc_id_a FROM pairs),
{_REACH}"""

# each doc's component label: the minimum id it reaches
_COMP = """comp AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
  FROM reach GROUP BY a)"""

_NEARDUP_KEEP = f"""{_COMP}
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       d.doc_id = COALESCE(c.cluster_id, d.doc_id) AS keep
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
"""

# SimHash: md5-derived 60-bit hashes of word bigrams, majority-voted
# per bit; `fp` is the body of the fingerprint CTE over `bits`
_SIMHASH_BITS = rf"""{_TOKS_TK},
grams AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 2 THEN
           list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
         ELSE [array_to_string(tk, ' ')] END AS g
  FROM toks),
gh AS (
  SELECT doc_id, CAST('0x' || substr(md5(unnest(g)), 1, 15) AS BIGINT) AS h
  FROM grams),
bits AS (
  SELECT gh.doc_id, bs.b,
         SUM(CASE WHEN ((gh.h >> bs.b) & 1) = 1 THEN 1 ELSE -1 END) AS c
  FROM gh CROSS JOIN (SELECT unnest(range(60)) AS b) bs
  GROUP BY 1, 2)"""
_SIMHASH_FP = """  SELECT doc_id,
         SUM(CASE WHEN c > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS sh
  FROM bits GROUP BY 1)"""


# ---------------------------------------------------------------------------
# Flagship: end-to-end corpus curation pipeline
# ---------------------------------------------------------------------------

def _curate(filt: DataFrame, score: Column) -> DataFrame:
    """The curate tail of both flagship pipelines, over the filtered
    docs (doc_id, text, source and the inputs of `score`): exact dedup
    (keep the lowest doc_id per md5 fingerprint) → near-dup cluster
    retention (prefix-filtered trigram Jaccard ≥ 0.5 pairs → connected
    components → keep the minimum doc_id per component) → deterministic
    25% holdout split (md5 hash of doc_id) → per-split stats, with
    `score` as the last aggregate."""
    from ..functions.text import doc_fingerprint, token_count
    from ..operators.clustering import connected_components
    from ..operators.dedup import dedup_keep_first, dedup_ngram_jaccard
    from ..operators.sampling import _threshold_hex, sample_bucket

    # persist = projection barrier: the upstream expression trees are
    # large (Catalyst inlines token splits per marker reference) and
    # `kept` feeds three consumers (both pair-join sides via the ngram
    # operator's own cache, plus the anti-join left side) — without the
    # barrier the whole tree re-evaluates per consumer.
    kept = (
        dedup_keep_first(
            filt.withColumn("fp", doc_fingerprint(F.col("text"))),
            keys=["fp"],
            order_by=[F.col("doc_id")],
        )
        .drop("fp")
        .persist()
    )
    pairs = dedup_ngram_jaccard(
        kept, block_col=None, ngram=3, threshold=0.5, prefix_filtered=True
    )
    # cluster retention (neardup_retention's rule, phrased as an anti
    # join so the payload columns ride along without a second join):
    # resolve pairs into components, drop every non-minimum member
    comp = connected_components(pairs)
    removed = comp.where(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    final = kept.join(removed, "doc_id", "left_anti")
    split = F.when(
        sample_bucket(F.col("doc_id")) < F.lit(_threshold_hex(0.25)), "holdout"
    ).otherwise("train")
    return (
        final.withColumn("split", split)
        .withColumn("tc", token_count(F.col("text")))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("tc").cast("long").alias("total_tokens"),
            score,
        )
    )


def _curate_oracle_dedup(score: str) -> str:
    """`kept` and `grams` of the curation oracles, over a `filt` CTE
    carrying doc_id, text, source, toks, tc and `score`."""
    return rf"""kept AS (
  SELECT * FROM filt
  WHERE doc_id IN (
    SELECT MIN(doc_id)
    FROM filt
    GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))),
grams AS (
  SELECT doc_id, toks, tc, {score}, source,
         {_trigrams("toks")}
  FROM kept)"""


def _curate_oracle_stats(score_agg: str) -> str:
    """The rest of a curation oracle after `pairs AS MATERIALIZED (`:
    the pair body, closure, retention, split and per-split stats with
    `score_agg` last."""
    return f"""{_JACCARD_PAIRS},
{_CLOSURE},
removed AS (
  SELECT a AS doc_id FROM reach GROUP BY a
  HAVING LEAST(a, MIN(b)) <> a),
final AS (
  SELECT g.*,
         CASE WHEN substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 8) < '40000000'
              THEN 'holdout' ELSE 'train' END AS split
  FROM grams g WHERE g.doc_id NOT IN (SELECT doc_id FROM removed))
SELECT split,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       SUM(tc)::BIGINT AS total_tokens,
       {score_agg}
FROM final GROUP BY 1
"""


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data path as ONE composed Spark plan:

      quality score → language ID → filter (en, quality ≥ 0.9)
      → exact dedup (keep lowest doc_id per md5 fingerprint)
      → near-dup CLUSTER retention (prefix-filtered exact trigram
        Jaccard ≥ 0.5 pairs → connected components → keep exactly the
        minimum doc_id per component)
      → deterministic 25% holdout split (md5 hash of doc_id)
      → per-split corpus stats.

    Every stage is an already-oracle-proven component (doc_quality,
    doc_lang_id, doc_dedup_exact, ngram_jaccard_pairs,
    neardup_clusters, hash_sample_split); this entry proves they
    COMPOSE — the DuckDB oracle recomputes the full pipeline in SQL
    (components via a recursive-CTE transitive closure), so any drift
    in stage order, filter semantics, or retention rule breaks the
    hash match.

    Scale shape: the filters and scores are scan-speed Catalyst
    expressions; dedup is one groupBy; near-dup is the lossless
    length-bucket equi-join; component resolution is the audited
    min-label loop over the PAIR list (never the corpus); the split is
    a map-side predicate. No collects, no BNLJ, no row-at-a-time
    Python.

    Retention rule (pairs → clusters → keep, the flow real pipelines
    use): a doc is removed iff it is NOT the minimum id of its
    connected near-dup component — transitive chains collapse to one
    survivor instead of the pair-level rule's order-dependent culls.
    """
    from ..functions.text import lang_id_heuristic, quality_score

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "text",
        "source",
        quality_score(F.col("text")).alias("quality"),
        lang_id_heuristic(F.col("text")).alias("lang_pred"),
    )
    filt = scored.where(
        (F.col("quality") >= 0.9) & (F.col("lang_pred") == "en")
    )
    return _curate(filt, F.round(F.avg("quality"), 6).alias("avg_quality"))


def _corpus_curation_oracle() -> str:
    from ..functions.text import lang_id_sql

    hits, lang = lang_id_sql("\n           ")
    return rf"""
WITH RECURSIVE toks AS (
  SELECT doc_id, text, source,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
           AS toks,
         length(text)::DOUBLE AS n,
         length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE AS n_alpha
  FROM documents),
scored AS (
  SELECT doc_id, text, source, toks,
         len(toks)::DOUBLE AS tc,
         ROUND((CASE WHEN n > 0 THEN n_alpha / n ELSE 0.0 END) * 0.5 +
               (CASE WHEN n >= 50 AND n <= 20000 THEN 1.0 ELSE 0.5 END) * 0.25 +
               (CASE WHEN len(toks) > 0 AND n / len(toks) >= 3
                      AND n / len(toks) <= 12 THEN 1.0 ELSE 0.5 END) * 0.25,
               6) AS quality,
         {hits}
  FROM toks),
lang AS (
  SELECT *, greatest(h_en, h_es, h_fr, h_de) AS best FROM scored),
filt AS (
  SELECT doc_id, text, source, toks, tc, quality
  FROM lang
  WHERE quality >= 0.9
    AND ({lang}) = 'en'),
{_curate_oracle_dedup("quality")},
pairs AS MATERIALIZED (
  -- MATERIALIZED: referenced by both edge directions AND the
  -- recursion below; inlined, DuckDB re-runs the O(n^2)
  -- list_intersect join per recursive iteration (~3x wall)
{_curate_oracle_stats("ROUND(AVG(quality), 6) AS avg_quality")}"""


def q_corpus_curation_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline with the LEARNED quality gate (VERDICT
    r15 #3): identical curate flow to `corpus_curation_pipeline` —
    lang-ID filter → exact dedup → near-dup CC cluster retention →
    deterministic split → per-split stats — but the heuristic
    `text.quality_score >= 0.9` gate is replaced by the hashed-NB
    classifier the pipeline TRAINS ON ITS OWN SEED SPLIT
    (`doc_quality_classifier`: md5 half-split weak supervision,
    512-bucket hashed features, integer-ppm likelihood ratios): a
    document passes iff its mean token likelihood ratio predicts the
    high-quality class (``pred_hi = 1``, i.e. mean_ratio_ppm >= 1e6).
    This is the CCNet/DCLM shape — train a cheap classifier on weak
    labels inside the pipeline, gate the corpus with it — composed
    with every downstream stage unchanged, and the final stats carry
    the learned score (exact BIGINT ppm mean) instead of the
    heuristic quality average.

    Scale shape: classifier training is one keyed shuffle + the
    bounded 512-row model broadcast (its entry's audited posture); the
    score gate joins doc-keyed (doc-scale sides, shuffle join, NOT
    broadcast); everything downstream keeps the flagship's audited
    shape (groupBy dedup, lossless prefix-filtered gram equi join,
    min-label CC over pairs, map-side split). The oracle threads the
    classifier CTEs through the full-pipeline SQL, so any drift in
    EITHER the model arithmetic OR the composed stage order breaks
    the hash."""
    from ..functions.text import lang_id_heuristic
    from .catalog_rank import q_doc_quality_classifier

    docs = _t(spark, sf_dir, "documents")
    cls = (
        q_doc_quality_classifier(spark, sf_dir)
        .where(F.col("pred_hi") == 1)
        .select("doc_id", "mean_ratio_ppm")
    )
    base = docs.select(
        "doc_id",
        "text",
        "source",
        lang_id_heuristic(F.col("text")).alias("lang_pred"),
    )
    filt = (
        base.join(cls, "doc_id")
        .where(F.col("lang_pred") == "en")
        .drop("lang_pred")
    )
    return _curate(
        filt,
        F.expr("sum(mean_ratio_ppm) div count(1)").alias("avg_score_ppm"),
    )


def _corpus_curation_learned_oracle() -> str:
    from ..functions.text import lang_id_sql
    from .catalog_rank import ORACLE_DOC_QUALITY_CLASSIFIER

    hits, lang = lang_id_sql("\n           ")
    return rf"""
WITH RECURSIVE cls AS MATERIALIZED (
  SELECT doc_id, mean_ratio_ppm
  FROM ({ORACLE_DOC_QUALITY_CLASSIFIER})
  WHERE pred_hi = 1),
base AS (
  SELECT d.doc_id, d.text, d.source, c.mean_ratio_ppm,
         list_filter(string_split_regex(lower(d.text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents d JOIN cls c USING (doc_id)),
scored AS (
  SELECT doc_id, text, source, mean_ratio_ppm, toks,
         len(toks)::DOUBLE AS tc,
         {hits}
  FROM base),
lang AS (
  SELECT *, greatest(h_en, h_es, h_fr, h_de) AS best FROM scored),
filt AS (
  SELECT doc_id, text, source, mean_ratio_ppm, toks, tc
  FROM lang
  WHERE ({lang}) = 'en'),
{_curate_oracle_dedup("mean_ratio_ppm")},
pairs AS MATERIALIZED (
{_curate_oracle_stats(
    "(SUM(mean_ratio_ppm) // COUNT(*))::BIGINT AS avg_score_ppm")}"""


# ---------------------------------------------------------------------------
# Stratified deterministic sampling (sampling family)
# ---------------------------------------------------------------------------

def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size deterministic sample per source: the 5 docs per
    source whose doc_ids hash lowest. The oracle replays the identical
    md5 rank in SQL — same rows, every engine, every run."""
    from ..operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs.select("doc_id", "source", "n_chars"),
        group_cols=["source"],
        key_col="doc_id",
        k=5,
    ).select("source", "doc_id", "n_chars")


ORACLE_STRATIFIED_SAMPLE = """
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
           AS rk
  FROM documents)
SELECT source, doc_id, n_chars FROM ranked WHERE rk <= 5
"""


def q_doc_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted importance sample: 200 documents drawn with inclusion
    probability ≈ proportional to length (priority sampling — the
    deterministic md5-uniform, correctly-rounded-divide form; see
    `operators/sampling.priority_sample` for why Efraimidis–Spirakis'
    pow-key is NOT oracle-safe). The oracle replays the identical
    integer hash and double divide, so the sampled row SET — not just
    its statistics — hash-matches across engines. Top-k plans as
    TakeOrderedAndProject: per-partition heaps, no global sort."""
    from ..operators.sampling import priority_sample

    docs = _t(spark, sf_dir, "documents")
    return priority_sample(
        docs.select("doc_id", "source", "n_chars"),
        key_col="doc_id",
        weight=F.greatest(F.col("n_chars"), F.lit(1)),
        k=200,
        salt="ps1",
    ).select(
        "doc_id",
        "source",
        F.col("_w").alias("weight"),
        # FLOOR, not ROUND(…, 6): priorities are ~1e15, where a
        # 6-decimal rounding is below one ulp and the engines' ROUND
        # implementations disagree on the last bit; the raw divide is
        # bit-identical (correctly rounded IEEE op) and floor of an
        # identical double is identical
        F.floor(F.col("_pri")).cast("long").alias("priority_floor"),
    )


ORACLE_DOC_PRIORITY_SAMPLE = """
WITH t AS (
  SELECT doc_id, source,
         CAST(GREATEST(n_chars, 1) AS BIGINT) AS weight,
         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ps1'),
                                  1, 15) AS BIGINT) AS DOUBLE)
           / CAST(GREATEST(n_chars, 1) AS DOUBLE) AS pri
  FROM documents)
SELECT doc_id, source, weight,
       CAST(FLOOR(pri) AS BIGINT) AS priority_floor
FROM t ORDER BY pri, doc_id LIMIT 200
"""


# ---------------------------------------------------------------------------
# Benchmark decontamination (training-data hygiene)
# ---------------------------------------------------------------------------

def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination sweep: docs whose doc_id ≡ 0 (mod 20) stand in
    for a benchmark/eval set; every other doc is flagged when ≥ 30% of
    its distinct trigrams appear in the pooled benchmark grams. The
    oracle recomputes the pooled-overlap rule exhaustively in SQL."""
    from ..operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    return decontaminate(
        corpus, benchmark, ngram=3, min_overlap_ratio=0.3
    )


ORACLE_DECONTAMINATE = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
           AS tk
  FROM documents),
{_GRAMS_TK},
pool AS (
  SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 20 = 0),
corpus AS (
  SELECT doc_id, len(g) AS n_grams, unnest(g) AS gram
  FROM grams WHERE doc_id % 20 <> 0),
overlap AS (
  SELECT c.doc_id, c.n_grams, COUNT(*) AS n_overlap
  FROM corpus c JOIN pool p ON c.gram = p.gram
  GROUP BY 1, 2)
SELECT doc_id, n_grams, n_overlap,
       ROUND(n_overlap * 1.0 / n_grams, 6) AS overlap_ratio
FROM overlap
WHERE ROUND(n_overlap * 1.0 / n_grams, 6) >= 0.3
"""


# ---------------------------------------------------------------------------
# Context-window assembly: chunking + token-stream packing
# ---------------------------------------------------------------------------

def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-token windows every 48 tokens (16-token overlap) over every
    document; chunk text reduced to md5 so the gate rows stay narrow.
    The oracle replays the slicing arithmetic on DuckDB lists."""
    from ..operators.chunking import chunk_docs

    docs = _t(spark, sf_dir, "documents")
    return chunk_docs(docs, chunk_tokens=64, stride=48).select(
        "doc_id",
        "chunk_idx",
        "n_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


ORACLE_DOC_CHUNKS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents),
sized AS (
  SELECT doc_id, t, len(t) AS n,
         1 + CAST(ceil(greatest(len(t) - 64, 0) / 48.0) AS INT) AS n_chunks
  FROM toks),
chunks AS (
  SELECT doc_id,
         i AS chunk_idx,
         t[(i * 48 + 1):(i * 48 + 64)] AS chunk_toks
  FROM sized, UNNEST(range(0, n_chunks)) AS u(i))
SELECT doc_id, chunk_idx::INT AS chunk_idx,
       len(chunk_toks) AS n_tokens,
       md5(array_to_string(chunk_toks, ' ')) AS chunk_md5
FROM chunks
"""


def q_pack_token_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style packing: 8 shards (doc_id mod 8), docs concatenated in
    id order, stream cut every 256 tokens, doc belongs to the pack of
    its first token. Oracle replays the windowed cumsum in SQL."""
    from ..operators.chunking import pack_token_stream

    docs = _t(spark, sf_dir, "documents")
    return pack_token_stream(docs, capacity=256, n_shards=8)


ORACLE_PACK_TOKEN_STREAM = r"""
WITH toks AS (
  SELECT doc_id, doc_id % 8 AS shard,
         len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
           AS n_tokens
  FROM documents),
offs AS (
  SELECT shard, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS off
  FROM toks)
SELECT shard, CAST(floor(off / 256.0) AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs,
       SUM(n_tokens)::BIGINT AS n_tokens
FROM offs GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Table profiling (ANALYZE-style completeness/cardinality)
# ---------------------------------------------------------------------------

def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass exact profile of the orders table (plus events —
    the one driver table that actually has NULLs, so the null
    accounting is exercised, not just zero)."""
    from ..operators.profile import profile_table

    orders = profile_table(
        _t(spark, sf_dir, "orders"),
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
                 "o_orderpriority"],
    ).withColumn("table_name", F.lit("orders"))
    events = profile_table(
        _t(spark, sf_dir, "events"),
        columns=["event_id", "user_id", "event_type"],
    ).withColumn("table_name", F.lit("events"))
    return orders.unionByName(events).select(
        "table_name", "column", "n_rows", "n_nonnull", "n_nulls", "n_distinct"
    )


def _profile_oracle() -> str:
    def per_table(table: str, cols: list[str]) -> str:
        parts = [
            f"""SELECT '{table}' AS table_name, '{c}' AS "column",
       COUNT(*) AS n_rows,
       COUNT({c}) AS n_nonnull,
       COUNT(*) - COUNT({c}) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct
FROM {table}"""
            for c in cols
        ]
        return "\nUNION ALL\n".join(parts)

    return (
        per_table("orders", ["o_orderkey", "o_custkey", "o_orderstatus",
                             "o_orderdate", "o_orderpriority"])
        + "\nUNION ALL\n"
        + per_table("events", ["event_id", "user_id", "event_type"])
    )


def q_table_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approx-distinct scale twin of `table_profile`, gated
    (VERDICT r11 #6): at 100 TB every exact COUNT(DISTINCT) site swaps
    to `approx_count_distinct`, and PLANS.md claimed the swap without a
    driver-gated entry exercising it. The operator emits exact counts
    PLUS an `approx_ok` 5σ-envelope verdict on the HLL estimate, so
    the DuckDB oracle (which has no compatible sketch) hash-checks the
    estimate's accuracy via the boolean: any estimate drifting beyond
    5·rsd of exact flips the column's row to false and fails the gate."""
    from ..operators.profile import profile_table_approx_check

    orders = profile_table_approx_check(
        _t(spark, sf_dir, "orders"),
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
                 "o_orderpriority"],
        rsd=0.02,
    ).withColumn("table_name", F.lit("orders"))
    events = profile_table_approx_check(
        _t(spark, sf_dir, "events"),
        columns=["event_id", "user_id", "event_type"],
        rsd=0.02,
    ).withColumn("table_name", F.lit("events"))
    return orders.unionByName(events).select(
        "table_name", "column", "n_rows", "n_nonnull", "n_distinct",
        "approx_ok",
    )


def _profile_approx_oracle() -> str:
    # the oracle asserts the envelope HOLDS: exact counts (DuckDB can
    # compute those) + approx_ok literally TRUE — the hash compare then
    # fails iff Spark's HLL estimate leaves the 5σ band on any column
    def per_table(table: str, cols: list[str]) -> str:
        parts = [
            f"""SELECT '{table}' AS table_name, '{c}' AS "column",
       COUNT(*) AS n_rows,
       COUNT({c}) AS n_nonnull,
       COUNT(DISTINCT {c}) AS n_distinct,
       TRUE AS approx_ok
FROM {table}"""
            for c in cols
        ]
        return "\nUNION ALL\n".join(parts)

    return (
        per_table("orders", ["o_orderkey", "o_custkey", "o_orderstatus",
                             "o_orderdate", "o_orderpriority"])
        + "\nUNION ALL\n"
        + per_table("events", ["event_id", "user_id", "event_type"])
    )


# ---------------------------------------------------------------------------
# Near-dup cluster resolution (connected components + retention)
# ---------------------------------------------------------------------------

def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-based dedup retention: resolve the prefix-filtered exact
    n-gram Jaccard pairs (the primary near-dup path) into connected
    components via iterative min-label propagation, then keep exactly
    one document (the min id) per component. The DuckDB oracle replays
    the pair computation and resolves components with a recursive-CTE
    transitive closure — both engines must agree on every doc's
    cluster id and keep flag."""
    from ..operators.clustering import neardup_retention
    from ..operators.dedup import dedup_ngram_jaccard

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_ngram_jaccard(
        docs, block_col=None, ngram=3, threshold=0.5, prefix_filtered=True
    )
    return neardup_retention(docs, pairs)


ORACLE_NEARDUP_CLUSTERS = f"""
WITH RECURSIVE {_TOKS_TK},
{_GRAMS_TK},
pairs AS MATERIALIZED (
  -- MATERIALIZED: see corpus-curation oracle — keeps the O(n^2)
  -- pair join out of the recursive iteration replan
{_JACCARD_PAIRS},
{_CLOSURE},
{_NEARDUP_KEEP}"""


def q_neardup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster retention via the ALTERNATING large-star/small-star
    algorithm (Kiveris et al. 2014) — the O(log n)-round connected
    components the min-label loop can't match on long-diameter graphs.
    Edges here are the SimHash near-dup pairs (Hamming ≤ 3 over the
    md5-derived 60-bit fingerprint, pigeonhole-blocked), so this entry
    driver-gates BOTH the star implementation and its composition with
    a second pair family; the oracle brute-forces the fingerprints and
    resolves components with a recursive-CTE transitive closure."""
    from ..operators.clustering import neardup_retention
    from ..operators.dedup import dedup_simhash

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_simhash(docs, max_hamming=3, hash_fn="md5")
    return neardup_retention(docs, pairs, algorithm="star")


ORACLE_NEARDUP_CLUSTERS_STAR = f"""
WITH RECURSIVE {_SIMHASH_BITS},
fp AS MATERIALIZED (
{_SIMHASH_FP},
pairs AS MATERIALIZED (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
{_CLOSURE},
{_NEARDUP_KEEP}"""


# ---------------------------------------------------------------------------
# PII redaction (text-curation hygiene)
# ---------------------------------------------------------------------------

_EMAIL_RE = r"user[0-9]+b?@example\.com"
_PHONE_RE = r"555-[0-9]{4}"


def q_doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction sweep: count and mask email/phone patterns via
    regexp_count + chained regexp_replace (pure Catalyst, scan speed).
    The synthetic corpus contains no PII, so both engines first append
    the SAME deterministic contact block per doc (1-2 emails + a
    phone), making the redaction counts non-trivial; the oracle
    recomputes counts and the redacted length with DuckDB's regex
    engine — the patterns are dialect-neutral by construction."""
    docs = _t(spark, sf_dir, "documents")
    with_pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" and user"), F.col("doc_id"),
                    F.lit("b@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.lit(" phone 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return with_pii.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_PHONE_RE)).alias("n_phones"),
        F.length(redacted).alias("redacted_len"),
    )


ORACLE_DOC_PII_REDACT = r"""
WITH with_pii AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com' ||
         CASE WHEN doc_id % 3 = 0
              THEN ' and user' || doc_id || 'b@example.com' ELSE '' END ||
         ' phone 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS text
  FROM documents)
SELECT doc_id,
       len(regexp_extract_all(text, 'user[0-9]+b?@example\.com'))
         AS n_emails,
       len(regexp_extract_all(text, '555-[0-9]{4}')) AS n_phones,
       length(regexp_replace(regexp_replace(text,
                'user[0-9]+b?@example\.com', '<EMAIL>', 'g'),
                '555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_len
FROM with_pii
"""


# ---------------------------------------------------------------------------
# Vocabulary building (token document-frequency table)
# ---------------------------------------------------------------------------

def q_vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: explode whitespace tokens of normalized text,
    count total occurrences and document frequency per token, keep the
    top 50 under a total deterministic order (count desc, token asc).
    One explode + one groupBy — linear, the standard first pass of
    tokenizer/vocab training."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(_tokens(F.col("text"))).alias("token"),
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_total"), F.asc("token"))
        .limit(50)
    )


ORACLE_VOCAB_TOP_TOKENS = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                        ' '),
           t -> t <> '')) AS token
  FROM documents)
SELECT token,
       COUNT(*) AS n_total,
       COUNT(DISTINCT doc_id) AS n_docs
FROM toks
GROUP BY token
ORDER BY n_total DESC, token ASC
LIMIT 50
"""
