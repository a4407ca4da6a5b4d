"""Round-5 catalog additions: reshaping (pivot/unpivot), sub-document
dedup, corpus mixing, quantile-band filtering, and embedding
quantization.

Two groups:

- **Relational-surface closure** — `pivot`/`unpivot` are the one
  reshaping pair the catalog's SURVEY §2 families (§2.4 aggregation,
  §2.7 set ops) exercise only implicitly: `pivot_lang_counts` runs
  Spark's `groupBy().pivot()` (with an EXPLICIT value list — at scale
  the implicit form adds a collect-distinct job over the corpus) and
  `unpivot_region_metrics` runs `DataFrame.unpivot` (wide→long is a
  zero-shuffle projection; the oracle replays it as the classic
  UNION ALL rewrite the reference's SQL lessons would use).
- **LLM-pipeline depth** (brief: dedup / mixing / quality /
  similarity-at-scale as first-class components) —
  `chunk_dedup_rebuild` (sub-document boilerplate removal),
  `corpus_mix_plan` (deterministic per-source mixing quotas, the
  Pile/Dolma source-weighting step), `quantile_band_filter`
  (length-outlier trimming with EXACT percentile cutoffs, the
  C4/Gopher length-filter shape), `embedding_quantize_error`
  (int8 scalar quantization with per-vector reconstruction error —
  the measurement that gates shipping a 4x-smaller ANN index).

Every entry has an exact DuckDB oracle; determinism contracts
(integer quota arithmetic, spelled-out half-up rounding, left-fold
error sums) are documented on the operators.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.datelist import utc_date, utc_ts_str
from ..operators.dedup import _tokens
from ..sources.readers import load_table
from ..streaming.sinks import drain
from .catalog_ext import _BRUTE_SCORED, _top_k_sql
from .catalog_write import _events_file_stream, _snapshot, _staged_stream

_LANGS = ["de", "en", "es", "fr", "zh"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Pivot (long -> wide) with explicit value list
# ---------------------------------------------------------------------------

def q_pivot_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language distribution as a wide table.

    `pivot(col, values)` with the value list pinned: the implicit
    form first runs a distinct-collect job to discover the columns —
    a full extra pass at 100 TB and a nondeterministic schema if a
    rare lang appears; pinning keeps it a single hash aggregate whose
    schema is known at plan time. Missing cells are 0, not NULL
    (a source with no docs of a language has a count of zero).

    `total` is the TRUE group size (COUNT(*), matching the oracle),
    not the sum of the pinned columns — a lang outside `_LANGS` would
    silently skew total/en_share otherwise (ADVICE r5). The corpus is
    pre-aggregated to (source, lang) counts first (the only
    corpus-scale shuffle); the window total and the pivot then run
    over the tiny |sources| x |langs| relation.
    """
    docs = _t(spark, sf_dir, "documents")
    by_lang = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    with_total = by_lang.withColumn(
        "total", F.sum("cnt").over(Window.partitionBy("source"))
    )
    piv = (
        with_total.groupBy("source", "total")
        .pivot("lang", _LANGS)
        .sum("cnt")
        .na.fill(0, _LANGS)
    )
    return piv.select(
        "source",
        *_LANGS,
        "total",
        F.round(F.col("en") / F.col("total"), 6).alias("en_share"),
    )


ORACLE_PIVOT_LANG_COUNTS = """
SELECT source,
       COUNT(*) FILTER (WHERE lang = 'de') AS de,
       COUNT(*) FILTER (WHERE lang = 'en') AS en,
       COUNT(*) FILTER (WHERE lang = 'es') AS es,
       COUNT(*) FILTER (WHERE lang = 'fr') AS fr,
       COUNT(*) FILTER (WHERE lang = 'zh') AS zh,
       COUNT(*) AS total,
       ROUND((COUNT(*) FILTER (WHERE lang = 'en')) * 1.0 / COUNT(*), 6)
         AS en_share
FROM documents
GROUP BY source
"""


# ---------------------------------------------------------------------------
# Unpivot (wide -> long)
# ---------------------------------------------------------------------------

def q_unpivot_region_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region KPIs computed wide, shipped long (metric, value) —
    the melt a metrics store ingests. `DataFrame.unpivot` is a
    zero-shuffle generator projection (each input row fans out to 3
    output rows map-side); all values cast to one double column, the
    unpivot type contract. Dimension joins are broadcast. Money is
    summed as cents-as-BIGINT (this file's money convention, cf.
    `q_rolling_time_revenue`) — the exact integer survives the
    unpivot's double cast losslessly, where a ROUND(SUM(double)) would
    be partition-order dependent.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    wide = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "revenue_cents"
            ),
            F.count(F.lit(1)).cast("double").alias("n_orders"),
            F.countDistinct("c_custkey").cast("double").alias("n_customers"),
        )
    )
    return wide.unpivot(
        ["r_name"],
        ["revenue_cents", "n_orders", "n_customers"],
        "metric",
        "value",
    )


ORACLE_UNPIVOT_REGION_METRICS = """
WITH wide AS (
  SELECT r.r_name,
         SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS revenue_cents,
         COUNT(*) AS n_orders,
         COUNT(DISTINCT c.c_custkey) AS n_customers
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name)
SELECT r_name, 'revenue_cents' AS metric, revenue_cents::DOUBLE AS value
FROM wide
UNION ALL
SELECT r_name, 'n_orders', n_orders::DOUBLE FROM wide
UNION ALL
SELECT r_name, 'n_customers', n_customers::DOUBLE FROM wide
"""


# ---------------------------------------------------------------------------
# Sub-document (chunk-level) exact dedup + rebuild
# ---------------------------------------------------------------------------

def q_chunk_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide chunk-level exact dedup (32-token non-overlapping
    windows, first occurrence wins) and per-document rebuild stats.
    See `operators.chunking.dedup_chunks_rebuild` for the shuffle
    budget (two hash exchanges, md5-keyed)."""
    from ..operators.chunking import dedup_chunks_rebuild

    docs = _t(spark, sf_dir, "documents")
    return dedup_chunks_rebuild(docs, chunk_tokens=32)


ORACLE_CHUNK_DEDUP_REBUILD = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents),
sized AS (
  SELECT doc_id, t,
         1 + CAST(ceil(greatest(len(t) - 32, 0) / 32.0) AS INT) AS n_chunks
  FROM toks),
chunks AS (
  SELECT doc_id, i AS chunk_idx,
         t[(i * 32 + 1):(i * 32 + 32)] AS ctoks
  FROM sized, UNNEST(range(0, n_chunks)) AS u(i)),
keyed AS (
  SELECT doc_id, chunk_idx, len(ctoks) AS n_tokens,
         array_to_string(ctoks, ' ') AS ctext,
         ROW_NUMBER() OVER (
           PARTITION BY md5(array_to_string(ctoks, ' '))
           ORDER BY doc_id, chunk_idx) AS rn
  FROM chunks)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       COALESCE(SUM(CASE WHEN rn = 1 THEN n_tokens END), 0)::BIGINT
         AS kept_tokens,
       md5(COALESCE(
         string_agg(CASE WHEN rn = 1 THEN ctext END, ' '
                    ORDER BY chunk_idx), '')) AS rebuilt_md5
FROM keyed
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Corpus mixing plan (per-source quota sampling)
# ---------------------------------------------------------------------------

def q_corpus_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-mixing: each source keeps an integer
    percentage of its documents (rate derived from the source id so
    the oracle can replay it), membership by lowest md5 hash. Quota
    arithmetic is all-integer — `(n * pct + 99) DIV 100` — so Spark
    and the oracle agree exactly; see `operators.sampling.
    weighted_mix` (single window shuffle, no count+join round trip).
    """
    from ..operators.sampling import weighted_mix

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    # a source with no digits extracts '' -> NULL int; coalesce to
    # bucket 0 (rate 20) so both engines stay defined and agree (the
    # raw CAST would silently NULL-drop the source in Spark and raise
    # a conversion error in DuckDB)
    rate = F.lit(20) + F.lit(5) * (
        F.coalesce(
            F.regexp_extract("source", r"(\d+)", 1).cast("int"), F.lit(0)
        )
        % 7
    )
    kept = weighted_mix(docs, ["source"], "doc_id", rate)
    totals = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(rate).alias("rate_pct"),
    )
    kept_agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
    )
    return (
        totals.join(kept_agg, "source", "left")
        .select(
            "source",
            "rate_pct",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("kept_chars", F.lit(0)).alias("kept_chars"),
        )
    )


ORACLE_CORPUS_MIX_PLAN = r"""
WITH rated AS (
  SELECT doc_id, source, n_chars,
         20 + 5 * (COALESCE(TRY_CAST(regexp_extract(source, '(\d+)', 1)
                            AS INT), 0) % 7)
           AS rate_pct,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
           AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n_docs
  FROM documents)
SELECT source,
       MIN(rate_pct) AS rate_pct,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (WHERE rk <= (n_docs * rate_pct + 99) // 100)
         AS n_kept,
       COALESCE(SUM(n_chars)
                  FILTER (WHERE rk <= (n_docs * rate_pct + 99) // 100),
                0)::BIGINT AS kept_chars
FROM rated
GROUP BY source
"""


# ---------------------------------------------------------------------------
# Quantile-band length filter (exact percentile cutoffs)
# ---------------------------------------------------------------------------

def q_quantile_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trim length outliers: keep documents whose n_chars lies in
    [floor(p10), ceil(p90)] of the corpus, report the survivors per
    language. The thresholds are one EXACT percentile aggregate
    (Spark `percentile` == DuckDB `quantile_cont`, type-7 linear
    interpolation) floored/ceiled to integers so the band comparison
    is integer-exact; the 1-row threshold relation is crossJoin-
    broadcast to the scan — the sanctioned scalar-broadcast shape
    (cf. `filter_by_top1`), a no-op at any scale.
    """
    docs = _t(spark, sf_dir, "documents")
    th = docs.agg(
        F.floor(F.percentile("n_chars", F.lit(0.1))).alias("lo"),
        F.ceil(F.percentile("n_chars", F.lit(0.9))).alias("hi"),
    )
    return (
        docs.crossJoin(F.broadcast(th))
        .where((F.col("n_chars") >= F.col("lo"))
               & (F.col("n_chars") <= F.col("hi")))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


ORACLE_QUANTILE_BAND_FILTER = """
WITH th AS (
  SELECT CAST(floor(quantile_cont(n_chars, 0.1)) AS BIGINT) AS lo,
         CAST(ceil(quantile_cont(n_chars, 0.9)) AS BIGINT) AS hi
  FROM documents)
SELECT lang,
       COUNT(*) AS n_kept,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       ROUND(AVG(n_chars), 6) AS avg_chars
FROM documents, th
WHERE n_chars >= lo AND n_chars <= hi
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Embedding int8 quantization error report
# ---------------------------------------------------------------------------

def q_embedding_quantize_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-vector int8 symmetric-quantization reconstruction error
    (sse + max abs), the measurement that gates shipping a 4x-smaller
    ANN index. Pure Catalyst higher-order functions, zero shuffle;
    determinism contract (left-fold sum, spelled-out half-up
    rounding) documented in `operators.quantize`."""
    from ..operators.quantize import quantization_error

    emb = _t(spark, sf_dir, "embeddings")
    return quantization_error(emb, ["vec_id", "label"], "embedding", 6)


ORACLE_EMBEDDING_QUANTIZE_ERROR = """
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS x FROM embeddings),
s AS (
  SELECT vec_id, label, x, len(x)::INT AS dim,
         CASE WHEN list_max(list_transform(x, e -> abs(e))) > 0
              THEN 127.0 / list_max(list_transform(x, e -> abs(e)))
              ELSE 1.0 END AS scale
  FROM v),
e AS (
  SELECT vec_id, label, dim, scale,
         list_transform(x, t -> t - floor(t * scale + 0.5) / scale)
           AS err
  FROM s)
SELECT vec_id, label, dim,
       ROUND(scale, 6) AS q_scale,
       ROUND(list_reduce(list_transform(err, t -> t * t),
                         (a, b) -> a + b), 6) AS sse,
       ROUND(list_max(list_transform(err, t -> abs(t))), 6)
         AS max_abs_err
FROM e
"""


# ---------------------------------------------------------------------------
# Quantized-candidate + float-rerank ANN (SQ8 serving architecture)
# ---------------------------------------------------------------------------

def q_ann_q8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN over the embedding table: int8-code candidate
    generation (exact integer dots — bit-replayable in SQL) + full-
    precision rerank of the 20 survivors per query. See
    `operators.similarity.cosine_topk_q8_rerank` for the determinism
    contract and the 4x-bandwidth scale posture."""
    from ..operators.similarity import cosine_topk_q8_rerank

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return cosine_topk_q8_rerank(emb, queries, k=5, n_candidates=20, dim=64)


ORACLE_ANN_Q8_RERANK = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
sc AS (
  SELECT vec_id, e,
         CASE WHEN list_max(list_transform(e, x -> abs(x))) > 0
              THEN 127.0 / list_max(list_transform(e, x -> abs(x)))
              ELSE 1.0 END AS s
  FROM v),
n AS (
  SELECT vec_id, e,
         list_transform(e, x -> floor(x * s + 0.5)) AS c,
         sqrt(list_dot_product(list_transform(e, x -> floor(x * s + 0.5)),
                               list_transform(e, x -> floor(x * s + 0.5))))
           AS nrm
  FROM sc),
cand0 AS (
  SELECT q.vec_id AS qid, t.vec_id AS nid,
         list_dot_product(q.c, t.c) / (q.nrm * t.nrm) AS q8_cosine
  FROM n q, n t
  WHERE q.vec_id < 10 AND q.vec_id <> t.vec_id),
cand AS (
  SELECT qid, nid FROM (
    SELECT qid, nid,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY q8_cosine DESC, nid) AS crank
    FROM cand0) WHERE crank <= 20),
scored AS (
  SELECT cand.qid AS query_id, cand.nid AS neighbor_id,
         ROUND(list_dot_product(a.e, b.e) /
               (sqrt(list_dot_product(a.e, a.e)) *
                sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
  FROM cand
  JOIN v a ON a.vec_id = cand.qid
  JOIN v b ON b.vec_id = cand.nid),
{_top_k_sql(5)}"""


# ---------------------------------------------------------------------------
# Stream-stream interval join (click -> purchase attribution)
# ---------------------------------------------------------------------------

def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner interval join through the real engine: click
    events join purchase events of the same user within the following
    30 minutes — the attribution query. Both sides are watermarked and
    the join condition bounds event time in both directions (state
    eviction works); inner matches emit as soon as both sides arrive,
    so one availableNow pass over the finite source produces the
    complete join and the batch-SQL oracle is exact. See
    `streaming.pipelines.interval_join_streams`."""
    from ..streaming.pipelines import interval_join_streams

    with tempfile.TemporaryDirectory(
        prefix="stream_ssj_", ignore_cleanup_errors=True
    ) as d:
        stream = _events_file_stream(spark, sf_dir, d)
        clicks = stream.where(
            (F.col("event_type") == "click") & F.col("user_id").isNotNull()
        ).select("user_id", F.col("event_id").alias("click_id"), "ts")
        purchases = stream.where(
            (F.col("event_type") == "purchase")
            & F.col("user_id").isNotNull()
        ).select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        joined = interval_join_streams(
            clicks,
            purchases,
            key="user_id",
            left_ts="ts",
            right_ts="p_ts",
            within="30 minutes",
            watermark="1 hour",
        ).select(
            F.col("l.user_id").alias("user_id"),
            "click_id",
            "purchase_id",
            (F.unix_timestamp("p_ts") - F.unix_timestamp("ts")).alias(
                "secs_after"
            ),
        )
        drain(
            joined.writeStream.format("parquet")
            .option("path", f"{d}/out")
            .outputMode("append"),
            f"{d}/ckpt",
        )
        return _snapshot(spark.read.parquet(f"{d}/out"))


ORACLE_STREAMING_INTERVAL_JOIN = """
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       date_diff('second',
                 date_trunc('second', c.ts),
                 date_trunc('second', p.ts)) AS secs_after
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL '30 minutes'
WHERE c.event_type = 'click'
  AND p.event_type = 'purchase'
  AND c.user_id IS NOT NULL
"""


# ---------------------------------------------------------------------------
# BPE merge candidates (tokenizer training, pass 2)
# ---------------------------------------------------------------------------

def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The byte-pair-encoding merge-selection step as a distributed
    query: adjacent character-pair frequencies over the corpus, the
    statistic each BPE training iteration maximizes (Sennrich et al.
    2016). Classic BPE trick: pairs are enumerated over the DISTINCT
    word table weighted by word frequency, not over the token stream —
    the explode fans out |vocab| * avg_len rows, not |corpus| tokens.
    Two linear aggregations; deterministic top-20 under
    (total DESC, pair ASC). Normalization matches `vocab_top_tokens`
    (pass 1 of the same training loop)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(_tokens(F.col("text"))).alias("token")
    )
    wf = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.length("token") >= 2)
    )
    pairs = wf.select(
        "token",
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("token") - 1),
                lambda i: F.col("token").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("freq").cast("long").alias("total"),
            F.countDistinct("token").alias("n_words"),
        )
        .orderBy(F.desc("total"), F.asc("pair"))
        .limit(20)
    )


ORACLE_BPE_MERGE_CANDIDATES = r"""
WITH toks AS (
  SELECT unnest(list_filter(
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                        ' '),
           t -> t <> '')) AS token
  FROM documents),
wf AS (
  SELECT token, COUNT(*) AS freq
  FROM toks GROUP BY token HAVING len(token) >= 2),
pairs AS (
  SELECT token, freq, substr(token, CAST(i AS INT), 2) AS pair
  FROM wf, UNNEST(range(1, len(token))) AS u(i))
SELECT pair,
       SUM(freq)::BIGINT AS total,
       COUNT(DISTINCT token) AS n_words
FROM pairs
GROUP BY pair
ORDER BY total DESC, pair ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Streaming upsert sink (streaming analog of S11 ON CONFLICT)
# ---------------------------------------------------------------------------

def q_streaming_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream events in FOUR micro-batches (maxFilesPerTrigger=1 over a
    4-file copy of the table) through a foreachBatch UPSERT handler
    that keeps, per user, the row with the greatest (ts, event_id) —
    the streaming form of the reference's Postgres ON-CONFLICT sink.
    Because max() over the order tuple is associative/commutative, the
    final store is independent of micro-batch boundaries, so the batch
    argmax oracle is exact; the multi-batch split proves the MERGE path
    (read store + combine + swap), not just a single-batch write."""
    from ..streaming.sinks import upsert_batch_writer

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("event_id", "ts", "user_id", "event_type")
    )
    with tempfile.TemporaryDirectory(
        prefix="stream_upsert_", ignore_cleanup_errors=True
    ) as d:
        store = f"{d}/store"
        drain(
            _staged_stream(spark, ev, f"{d}/src").writeStream.foreachBatch(
                upsert_batch_writer(store, ["user_id"], ["ts", "event_id"])
            ),
            f"{d}/ckpt",
        )
        got = spark.read.parquet(f"{store}/live").select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            utc_ts_str("ts").alias("last_ts"),
        )
        return _snapshot(got)


ORACLE_STREAMING_UPSERT_SINK = """
WITH ranked AS (
  SELECT user_id, event_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE user_id IS NOT NULL)
SELECT user_id,
       event_id AS last_event_id,
       event_type AS last_event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Cross-document duplicate-span extraction (exact substring dedup)
# ---------------------------------------------------------------------------

_SPAN_K = 8  # window length in tokens


def q_dup_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-document duplicate-SPAN extraction — the
    suffix-array substring-dedup capability (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better")
    re-expressed as a distributed query: every ``_SPAN_K``-token
    window shared verbatim by >= 2 distinct documents, with adjacent
    duplicated windows merged into MAXIMAL spans per document
    (gaps-and-islands). Distinct from `doc_ttr_repetition`
    (within-doc repetition) and the Jaccard/MinHash families
    (whole-doc similarity): this localizes the duplicated REGION, the
    input a span-removal pass needs.

    Plan shape and the hash-vs-string oracle contract are documented
    on the operator (`operators.dedup.dup_spans`); the oracle groups
    the literal window strings."""
    from ..operators.dedup import dup_spans

    return dup_spans(_t(spark, sf_dir, "documents"), k=_SPAN_K)


ORACLE_DUP_SPAN_EXTRACT = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+',
                                                      ' ', 'g')), ' '),
                     t -> t <> '') AS tk
  FROM documents),
wins AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(tk[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS win
  FROM toks, UNNEST(range(1, len(tk) - 6)) AS u(i)
  WHERE len(tk) >= 8),
hits AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           MIN(doc_id) OVER (PARTITION BY win) AS mn,
           MAX(doc_id) OVER (PARTITION BY win) AS mx
    FROM wins) WHERE mn <> mx),
isl AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits)
SELECT doc_id, MIN(pos)::BIGINT AS span_start,
       (MAX(pos) - MIN(pos) + 8)::BIGINT AS span_tokens
FROM isl GROUP BY doc_id, grp
"""


# ---------------------------------------------------------------------------
# Duplicate-span REMOVAL (cleaned-corpus rebuild)
# ---------------------------------------------------------------------------

def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of substring dedup: cut every cross-document
    duplicated window except in its canonical holder (minimum doc id
    among the window's holders) and rebuild the cleaned token stream,
    witnessed per document by an md5 of the surviving tokens. The
    verdict is per WINDOW with keep-wins token arithmetic, so every
    duplicated window provably survives intact in exactly its min-id
    holder (the earlier per-island holder rule could lose a span
    corpus-wide). One row per input document. Semantics, determinism
    contract, and plan shape on `operators.dedup.dup_span_removal`;
    the oracle replays the full rebuild in SQL over the literal
    window strings and compares the md5s."""
    from ..operators.dedup import dup_span_removal

    return dup_span_removal(_t(spark, sf_dir, "documents"), k=_SPAN_K)


ORACLE_DUP_SPAN_REMOVAL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+',
                                                      ' ', 'g')), ' '),
                     t -> t <> '') AS tk
  FROM documents),
wins AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(tk[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS win
  FROM toks, UNNEST(range(1, len(tk) - 6)) AS u(i)
  WHERE len(tk) >= 8),
marked AS (
  SELECT doc_id, pos,
         MIN(doc_id) OVER (PARTITION BY win) AS mn,
         MAX(doc_id) OVER (PARTITION BY win) AS mx
  FROM wins),
dup AS (
  SELECT doc_id, pos, (doc_id = mn) AS kept
  FROM marked WHERE mn <> mx),
isl AS (
  SELECT doc_id, pos, kept,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id, kept
                                  ORDER BY pos) AS grp
  FROM dup),
islands AS (
  SELECT doc_id, kept, MIN(pos) AS s, MAX(pos) + 7 AS e
  FROM isl GROUP BY doc_id, kept, grp),
ivs AS (
  SELECT doc_id,
         COALESCE(list({'s': s, 'e': e}) FILTER (WHERE NOT kept),
                  []) AS rivs,
         COALESCE(list({'s': s, 'e': e}) FILTER (WHERE kept),
                  []) AS kivs
  FROM islands GROUP BY doc_id),
base AS (
  SELECT t.doc_id, t.tk,
         COALESCE(r.rivs, []) AS rivs, COALESCE(r.kivs, []) AS kivs
  FROM toks t LEFT JOIN ivs r USING (doc_id)),
clean AS (
  SELECT doc_id, len(tk) AS n_tokens,
         list_transform(
           list_filter(range(1, len(tk) + 1),
             i -> len(list_filter(rivs,
                    iv -> i BETWEEN iv.s AND iv.e)) = 0
                  OR len(list_filter(kivs,
                         iv -> i BETWEEN iv.s AND iv.e)) > 0),
           i -> tk[CAST(i AS INT)]) AS ctk
  FROM base)
SELECT doc_id, n_tokens::BIGINT AS n_tokens,
       (n_tokens - len(ctk))::BIGINT AS n_removed,
       md5(COALESCE(array_to_string(ctk, ' '), '')) AS clean_md5
FROM clean
"""


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction (top-3 terms per document)
# ---------------------------------------------------------------------------

def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by a tf-idf-style
    score, the classic relevance ranking a corpus-exploration /
    search-indexing layer needs. The score is the DIVISION-ONLY form
    ``tf * N / df`` (no log): a single IEEE double division of exact
    integers, bit-identical across engines — the log variant ranks
    identically for fixed tf (idf is monotone in N/df) but its
    transcendental evaluation is not a cross-engine contract.
    Determinism: dense ranking over (score DESC, term ASC) — a total
    order, so top-3 is unique.

    Scale shape — ONE corpus pass, three keyed shuffles, no join:
    tf is one shuffle on (doc_id, term); df is NOT a separate
    aggregate-plus-join-back (which would re-run the scan+explode
    subplan — the plan audit caught exactly that in the first cut)
    but a count over a term-partition window on tf, where one row per
    (doc, term) makes the partition row count equal df; top-3 per doc
    is one window shuffle on doc_id. All Catalyst, no Python. n_docs
    comes from a parquet metadata count (no data read)."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = F.lit(docs.count())
    toks = docs.select(
        "doc_id",
        F.explode(_tokens(F.col("text"))).alias("term"),
    ).where(F.length("term") >= 3)
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    byterm = Window.partitionBy("term")
    scored = tf.withColumn(
        "df", F.count(F.lit(1)).over(byterm)
    ).select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round((F.col("tf") * n_docs) / F.col("df"), 6).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df", "score")
    )


ORACLE_TFIDF_TOP_TERMS = r"""
WITH toks AS (
  SELECT doc_id, t AS term
  FROM documents,
       UNNEST(list_filter(string_split(trim(regexp_replace(lower(text),
                                                           '\s+', ' ', 'g')),
                                       ' '),
                          x -> x <> '')) AS u(t)
  WHERE len(t) >= 3),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         ROUND(tf.tf * n.n_docs / df.df, 6) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rank
  FROM scored)
SELECT doc_id, rank, term, tf, df, score
FROM ranked WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Round 6: RANGE-interval window frame (time-based rolling revenue)
# ---------------------------------------------------------------------------

def q_rolling_time_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day TIME-RANGE rolling revenue per order priority — the one
    window frame family the W5-W8 catalog coverage (ROWS frames)
    doesn't exercise: `rangeBetween` over event time, where the frame
    is defined by a time interval, not a row count. On a daily series
    with GAPS the two are genuinely different (a missing day shrinks
    the RANGE frame but not a ROWS frame), and the TPC-H order-date
    distribution has per-priority gaps at sf0.01.

    Money stays cents-as-BIGINT through the window (catalog
    convention), so sums are exact integers in both engines. Spark
    expresses the interval frame as `rangeBetween(-6, 0)` over the
    CALENDAR-DAY ordinal (`datediff` from the epoch date) — exactly
    the oracle's `RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT
    ROW` over the date, and timezone-free by construction (VERDICT r6
    #3): the grouping day is derived from the raw epoch-second
    instant (`floor(unix/86400)`), never from a session-TZ rendering
    of the timestamp, so a non-UTC `spark.sql.session.timeZone`
    cannot shift day boundaries away from the TZ-naive DuckDB
    oracle; an epoch-seconds ordering (`cast(timestamp)`) would also
    make a fall-back-DST day sit 6*86400+3600 s away and silently
    fall out of the frame. The day ordinal is dtype-branched via
    `epoch_day` (VERDICT r8 #1): a true DATE column casts to long as
    NULL, so DATE input uses `datediff` directly — dates are TZ-free
    already. Plan: one shuffle to the daily rollup,
    one window shuffle on priority; the window state at scale is
    bounded by the frame horizon per partition.
    """
    from ..functions.datelist import epoch_day

    orders = _t(spark, sf_dir, "orders")
    day_ord = epoch_day(orders, "o_orderdate")
    daily = (
        orders
        .groupBy(
            "o_orderpriority",
            F.date_add(F.to_date(F.lit("1970-01-01")), day_ord).alias("d"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "day_cents"
            )
        )
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.datediff(F.col("d"), F.lit("1970-01-01")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "o_orderpriority",
        F.col("d").cast("string").alias("d"),
        "day_cents",
        F.sum("day_cents").over(w).alias("rolling_7d_cents"),
    )


ORACLE_ROLLING_TIME_REVENUE = """
WITH daily AS (
  SELECT o_orderpriority, o_orderdate AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS day_cents
  FROM orders GROUP BY 1, 2)
SELECT o_orderpriority,
       strftime(d, '%Y-%m-%d') AS d,
       day_cents,
       CAST(SUM(day_cents) OVER (
         PARTITION BY o_orderpriority ORDER BY d
         RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS rolling_7d_cents
FROM daily
"""


# ---------------------------------------------------------------------------
# Round 6: bigram language-model quality score (CCNet-style LM filter)
# ---------------------------------------------------------------------------

def q_doc_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring — the CCNet/RedPajama "perplexity
    filter" capability as a distributed query: score every document by
    how predictable its token bigrams are under the corpus's own
    bigram statistics (documents full of corpus-typical
    constructions score high; rare/garbled ones score low). Rank by
    this ascending and you have the LM-based quality cut.

    Cross-engine exactness without transcendentals: instead of summed
    log-probabilities (whose float association order is not an engine
    contract), each bigram contributes the INTEGER
    ``(c2 * 1_000_000) div c1`` — c2 = corpus count of the bigram,
    c1 = corpus count of its prefix token as a prefix — i.e. the
    conditional probability scaled to parts-per-million and floored.
    Per document: n_bigrams, their sum, and the integer mean
    (sum div n). Monotone in the geometric-mean sense for ranking
    while every intermediate is an exact BIGINT both engines agree on.

    Scale shape (same no-join-back discipline as tf-idf): ONE corpus
    scan exploding adjacent token pairs; c2 and c1 are counts over
    (w1, w2)- and (w1)-partition WINDOWS on that relation (a row per
    bigram occurrence makes the partition sizes the corpus counts —
    no aggregate-plus-join-back re-scan); one final groupBy(doc).
    Three keyed shuffles, zero joins, all Catalyst.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        _tokens(F.col("text")).alias("tk"),
    ).where(F.size("tk") >= 2)
    bi = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - 1),
                lambda i: F.struct(
                    F.element_at("tk", i).alias("w1"),
                    F.element_at("tk", i + 1).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    scored = bi.select(
        "doc_id",
        (
            F.count(F.lit(1)).over(Window.partitionBy("w1", "w2"))
            * F.lit(1_000_000)
        ).alias("num"),
        F.count(F.lit(1)).over(Window.partitionBy("w1")).alias("c1"),
    ).select(
        "doc_id",
        F.expr("num div c1").alias("ppm"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("ppm").alias("sum_ppm"),
    ).select(
        "doc_id",
        "n_bigrams",
        "sum_ppm",
        F.expr("sum_ppm div n_bigrams").alias("mean_ppm"),
    )


ORACLE_DOC_BIGRAM_LM_SCORE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+',
                                                      ' ', 'g')), ' '),
                     t -> t <> '') AS tk
  FROM documents),
bi AS (
  SELECT doc_id, tk[CAST(i AS INT)] AS w1, tk[CAST(i + 1 AS INT)] AS w2
  FROM toks, UNNEST(range(1, len(tk))) AS u(i)
  WHERE len(tk) >= 2),
scored AS (
  SELECT doc_id,
         (COUNT(*) OVER (PARTITION BY w1, w2) * 1000000)
           // (COUNT(*) OVER (PARTITION BY w1)) AS ppm
  FROM bi)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       SUM(ppm)::BIGINT AS sum_ppm,
       (SUM(ppm) // COUNT(*))::BIGINT AS mean_ppm
FROM scored GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Round 6: CDC snapshot diff (change-data-feed derivation)
# ---------------------------------------------------------------------------

def q_snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a change feed between two snapshots of the events table
    — the Delta-CDF/Iceberg-changelog capability
    (`operators.cdc.snapshot_diff`): OLD drops event_id % 5 = 0, NEW
    drops event_id % 7 = 0 and bumps the value of every % 3 = 0 row by
    one unit, so the diff contains all three change types with
    deterministic membership. Money compares as cents BIGINT (exact);
    null values stay null through the bump (null-safe compare makes
    null→null unchanged — those rows must NOT appear as updates).
    One full-outer equi join on the key; the oracle replays both
    synthetic snapshots and the IS-DISTINCT-FROM classification."""
    from ..operators.cdc import snapshot_diff

    base = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    old = base.where(F.col("event_id") % 5 != 0)
    new = base.where(F.col("event_id") % 7 != 0).withColumn(
        "value_cents",
        F.col("value_cents")
        + F.when(F.col("event_id") % 3 == 0, F.lit(100)).otherwise(
            F.lit(0)
        ),
    )
    return snapshot_diff(
        old, new, keys=["event_id"], compare_cols=["event_type", "value_cents"]
    )


ORACLE_SNAPSHOT_CDC_DIFF = """
WITH base AS (
  SELECT event_id, event_type,
         CAST(ROUND(value * 100) AS BIGINT) AS value_cents
  FROM events),
o AS (SELECT * FROM base WHERE event_id % 5 <> 0),
n AS (
  SELECT event_id, event_type,
         value_cents + CASE WHEN event_id % 3 = 0 THEN 100 ELSE 0 END
           AS value_cents
  FROM base WHERE event_id % 7 <> 0),
j AS (
  SELECT COALESCE(o.event_id, n.event_id) AS event_id,
         o.event_id IS NOT NULL AS in_old,
         n.event_id IS NOT NULL AS in_new,
         o.event_type AS old_event_type, n.event_type AS new_event_type,
         o.value_cents AS old_value_cents, n.value_cents AS new_value_cents
  FROM o FULL JOIN n ON o.event_id = n.event_id)
SELECT event_id,
       CASE WHEN NOT in_old THEN 'insert'
            WHEN NOT in_new THEN 'delete'
            ELSE 'update' END AS change_type,
       old_event_type, old_value_cents,
       new_event_type, new_value_cents
FROM j
WHERE NOT in_old OR NOT in_new
   OR old_event_type IS DISTINCT FROM new_event_type
   OR old_value_cents IS DISTINCT FROM new_value_cents
"""


# ---------------------------------------------------------------------------
# Round-6 late additions: iterative graph centrality, one-pass histogram
# quantiles, contrastive hard-negative mining
# ---------------------------------------------------------------------------

def q_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank over the part co-occurrence graph
    (parts sharing an order), top 20 by rank.

    The iterative-algorithm class the CC operators opened, now with a
    weighted fixpoint: 5 rounds of `base + (85 * Σ r/deg) DIV 100` in
    scaled-integer arithmetic, so the DuckDB oracle replays the exact
    recurrence unrolled — bit-identical ranks, no tolerance. Top-20 via
    TakeOrderedAndProject (no global sort materialization)."""
    from ..operators.graph import build_edges_pairs_grouped, pagerank

    li = _t(spark, sf_dir, "lineitem")
    edges = build_edges_pairs_grouped(li, "l_orderkey", "l_partkey")
    # checkpoint_every=0: a BOUNDED 5-iteration loop composes into one
    # lazily-planned job (measured ~35% faster than per-round eager
    # checkpoints at gate scale); open-ended runs keep the default
    ranks = pagerank(
        edges, "id_a", "id_b", iterations=5, checkpoint_every=0,
        assume_canonical=True,  # grouped builder emits unique sorted pairs
    )
    return (
        ranks.orderBy(F.desc("rank_scaled"), F.asc("vertex_id"))
        .limit(20)
        .select(
            F.col("vertex_id").alias("part_id"),
            "rank_scaled",
        )
    )


def _pagerank_oracle() -> str:
    iters = []
    for i in range(1, 6):
        iters.append(f"""
r{i} AS (
  SELECT sym.d AS v,
         CAST(150000 + (85 * CAST(SUM(r.r // deg.deg) AS BIGINT)) // 100
              AS BIGINT) AS r
  FROM sym
  JOIN r{i - 1} r ON sym.s = r.v
  JOIN deg ON sym.s = deg.s
  GROUP BY sym.d)""")
    return (
        """
WITH grp AS (
  SELECT DISTINCT l_orderkey AS g, l_partkey AS id FROM lineitem),
e AS (
  SELECT DISTINCT a.id AS s, b.id AS d
  FROM grp a JOIN grp b ON a.g = b.g AND a.id < b.id),
sym AS (SELECT s, d FROM e UNION ALL SELECT d AS s, s AS d FROM e),
deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY s),
r0 AS (SELECT s AS v, CAST(1000000 AS BIGINT) AS r FROM deg),"""
        + ",".join(iters)
        + """
SELECT v AS part_id, r AS rank_scaled
FROM r5 ORDER BY r DESC, v LIMIT 20
"""
    )


ORACLE_PAGERANK_PARTS = _pagerank_oracle()


def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of lineitem extended price from a ONE-PASS mergeable
    fixed-bin histogram (bin width 1000) — the scale twin of
    `exact_percentiles` (which needs a full sort): partial-aggregable
    bin counts, quantile answered from the bounded bin table, integer
    crossing thresholds so the chosen bin is engine-exact."""
    from ..operators.profile import histogram_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return histogram_quantiles(
        li, "l_extendedprice", bin_width=1000.0, q_pcts=[50, 90, 99]
    )


ORACLE_HISTOGRAM_QUANTILES = """
WITH b AS (
  SELECT CAST(FLOOR(l_extendedprice / 1000.0) AS BIGINT) AS bin_id,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1),
c AS (
  SELECT bin_id,
         CAST(SUM(cnt) OVER (ORDER BY bin_id) AS BIGINT) AS cum_count,
         CAST(SUM(cnt) OVER () AS BIGINT) AS n_rows
  FROM b),
q AS (SELECT * FROM (VALUES (50), (90), (99)) t(q_pct)),
hit AS (
  SELECT q.q_pct, c.n_rows, c.bin_id, c.cum_count,
         ROW_NUMBER() OVER (PARTITION BY q.q_pct ORDER BY c.bin_id) AS rn
  FROM q JOIN c ON c.cum_count >= (q.q_pct * c.n_rows + 99) // 100)
SELECT q_pct, n_rows, bin_id,
       CAST(bin_id * 1000.0 AS DOUBLE) AS quantile_lo, cum_count
FROM hit WHERE rn = 1
"""


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor embedding
    (vec_id < 10), the 3 nearest neighbors whose label DIFFERS from
    the anchor's — masked inside the scoring kernel, not post-filtered,
    so the k returned are genuine negatives even when the anchor's own
    class fills its neighborhood."""
    from ..operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 10)
    return hard_negatives(emb, anchors, k=3)


ORACLE_HARD_NEGATIVE_MINING = f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS qlbl, embedding AS qv
  FROM embeddings WHERE vec_id < 10),
c AS (
  SELECT vec_id AS neighbor_id, label AS clbl, embedding AS cv
  FROM embeddings),
{_BRUTE_SCORED}
  FROM q, c WHERE query_id <> neighbor_id AND qlbl <> clbl),
{_top_k_sql(3)}"""


def q_bloom_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction, with its false-positive cost
    made visible: lineitem probed against the bitmap of high-value
    order keys BEFORE any shuffle — n_pass_bloom rows would reach the
    real join instead of all of lineitem; n_false_positive is the
    residue the bitmap admits beyond the true matches (zero false
    negatives by construction, asserted by the oracle replaying every
    bit)."""
    from ..operators.sketch import bloom_bits, bloom_prune

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    od = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 400000)
        .select("o_orderkey")
    )
    # build the bitmap ONCE: its collected rows feed bloom_prune (which
    # would otherwise re-scan+re-hash the dim) and bits_set is just
    # their count — already on the driver, no second dim pass
    bits_rows = bloom_bits(od, "o_orderkey", 1 << 16, 3).collect()
    passed = bloom_prune(
        li, od, "l_orderkey", "o_orderkey", m_bits=1 << 16, k=3,
        bits_rows=bits_rows,
    )
    n_pass = passed.agg(F.count(F.lit(1)).alias("n_pass_bloom"))
    n_true = li.join(
        od, li["l_orderkey"] == od["o_orderkey"], "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_true_match"))
    return n_pass.crossJoin(n_true).select(
        "n_pass_bloom",
        "n_true_match",
        (F.col("n_pass_bloom") - F.col("n_true_match")).alias(
            "n_false_positive"
        ),
        F.lit(len(bits_rows)).cast("long").alias("bits_set"),
    )


ORACLE_BLOOM_PRUNE_STATS = """
WITH dimk AS (
  SELECT DISTINCT o_orderkey AS key FROM orders WHERE o_totalprice > 400000),
dh AS (
  -- one 60-bit md5 per key; k positions by enhanced double hashing
  -- (top 30 bits base, bottom 30 bits forced-odd step) — replays
  -- sketch._positions verbatim
  SELECT key,
         CAST('0x' || substr(md5('bloom_' || CAST(key AS VARCHAR)), 1, 15)
              AS BIGINT) AS h
  FROM dimk),
pos AS (
  SELECT DISTINCT
         ((h // 1073741824) + i * (2 * (h % 1073741824) + 1)) % 65536 AS pos
  FROM dh CROSS JOIN (VALUES (0), (1), (2)) t(i)),
fkeys AS (SELECT DISTINCT l_orderkey FROM lineitem),
fh AS (
  SELECT l_orderkey,
         CAST('0x' || substr(md5('bloom_' || CAST(l_orderkey AS VARCHAR)),
                             1, 15) AS BIGINT) AS h
  FROM fkeys),
kpos AS (
  -- membership is a property of the KEY; COUNT(DISTINCT i) (not *)
  -- so two of a key's probe positions colliding on one set bit still
  -- count as two set probes, matching the independent mask lookups
  SELECT l_orderkey, i,
         ((h // 1073741824) + i * (2 * (h % 1073741824) + 1)) % 65536 AS pos
  FROM fh CROSS JOIN (VALUES (0), (1), (2)) t(i)),
passk AS (
  SELECT l_orderkey
  FROM kpos JOIN pos USING (pos)
  GROUP BY 1 HAVING COUNT(DISTINCT i) = 3),
np AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pass_bloom
  FROM lineitem WHERE l_orderkey IN (SELECT l_orderkey FROM passk)),
tm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_true_match
  FROM lineitem WHERE l_orderkey IN (SELECT key FROM dimk))
SELECT (SELECT n_pass_bloom FROM np) AS n_pass_bloom,
       (SELECT n_true_match FROM tm) AS n_true_match,
       (SELECT n_pass_bloom FROM np)
         - (SELECT n_true_match FROM tm) AS n_false_positive,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pos) AS bits_set
"""


def q_distinct_sketch_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-counting distinct-user sketch beside the exact count: the
    mergeable one-bitmap cardinality pass (integer-only outputs, ln
    estimate deliberately driver-side) with its ground truth in the
    same row so the sketch's resolution is auditable."""
    from ..operators.sketch import linear_count

    ev = _t(spark, sf_dir, "events")
    sk = linear_count(ev, "user_id", m_bits=4096)
    exact = (
        ev.where(F.col("user_id").isNotNull())
        .agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    )
    return sk.crossJoin(exact)


ORACLE_DISTINCT_SKETCH_USERS = """
WITH occ AS (
  SELECT CAST(COUNT(DISTINCT
           CAST('0x' || substr(md5('lc_' || CAST(user_id AS VARCHAR)),
                               1, 15) AS BIGINT) % 4096) AS BIGINT)
         AS occupied
  FROM events WHERE user_id IS NOT NULL)
SELECT CAST(4096 AS BIGINT) AS m_bits,
       occupied,
       CAST((occupied * 1000000) // 4096 AS BIGINT) AS fill_ppm,
       (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
         AS n_exact
FROM occ
"""


def q_zorder_locality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order-day): per
    256-way z-bucket, the min/max ENVELOPE of both dims. The lakehouse
    OPTIMIZE-ZORDER lesson as a queryable fact: every bucket's span is
    a small window of BOTH dimensions at once (a single-column sort
    would give tight customer spans but day spans covering the whole
    calendar), which is exactly what lets per-file min/max statistics
    prune scans on either predicate."""
    from ..operators.partitioning import zorder_key

    od = _t(spark, sf_dir, "orders")
    x = F.col("o_custkey").bitwiseAND(F.lit(65535))
    y = F.datediff(
        utc_date(od, "o_orderdate"), F.to_date(F.lit("1992-01-01"))
    ).cast("long").bitwiseAND(F.lit(65535))
    pts = od.select(x.alias("x"), y.alias("y")).withColumn(
        "z", zorder_key(F.col("x"), F.col("y"), bits=16)
    )
    return (
        pts.groupBy(F.shiftright(F.col("z"), 24).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.max("x") - F.min("x")).alias("x_span"),
            (F.max("y") - F.min("y")).alias("y_span"),
        )
    )


def _zorder_sql(xe: str, ye: str, bits: int = 16) -> str:
    # CAST each dim to BIGINT first — mirror of the Spark-side int32
    # hazard: on INTEGER operands DuckDB's `(x & 1) << 31` overflows
    # instead of widening (caught by the cross-engine property test)
    xb = f"CAST(({xe}) AS BIGINT)"
    yb = f"CAST(({ye}) AS BIGINT)"
    terms = []
    for i in range(bits):
        terms.append(f"((({xb} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({yb} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


ORACLE_ZORDER_LOCALITY_STATS = """
WITH pts AS (
  SELECT (o_custkey & 65535) AS x,
         (date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
          & 65535) AS y
  FROM orders),
z AS (SELECT x, y, """ + _zorder_sql("x", "y") + """ AS z FROM pts)
SELECT CAST(z >> 24 AS BIGINT) AS z_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MAX(x) - MIN(x) AS BIGINT) AS x_span,
       CAST(MAX(y) - MIN(y) AS BIGINT) AS y_span
FROM z GROUP BY 1
"""


def q_countmin_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch vs ground truth on the corpus token stream: the
    15 most frequent tokens with their exact counts AND the estimate
    read back from a 4x1024 mergeable counter table — over-count-only
    by construction (collisions add), so the estimate column is an
    upper bound the oracle replays cell-for-cell."""
    from ..operators.sketch import countmin_estimates, countmin_table

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(_tokens(F.col("text"))).alias("token")
    )
    counters = countmin_table(toks, "token", depth=4, width=1024)
    exact_top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("token"))
        .limit(15)
    )
    est = countmin_estimates(
        counters, exact_top.select("token"), "token", depth=4, width=1024
    )
    return exact_top.join(est, "token").select(
        "token", "n_exact", "cm_estimate"
    )


ORACLE_COUNTMIN_TOKEN_FREQ = r"""
WITH toks AS (
  SELECT unnest(list_filter(
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                        ' '),
           t -> t <> '')) AS token
  FROM documents),
counters AS (
  SELECT i AS row,
         CAST('0x' || substr(md5('cm' || CAST(i AS VARCHAR) || '_' || token),
                             1, 15) AS BIGINT) % 1024 AS pos,
         COUNT(*) AS cnt
  FROM toks CROSS JOIN (VALUES (0), (1), (2), (3)) t(i)
  GROUP BY 1, 2),
top AS (
  SELECT token, COUNT(*) AS n_exact
  FROM toks GROUP BY 1
  ORDER BY n_exact DESC, token LIMIT 15),
probe AS (
  SELECT top.token, top.n_exact, i,
         CAST('0x' || substr(md5('cm' || CAST(i AS VARCHAR) || '_'
                                 || top.token), 1, 15) AS BIGINT) % 1024
           AS pos
  FROM top CROSS JOIN (VALUES (0), (1), (2), (3)) t(i))
SELECT p.token,
       CAST(p.n_exact AS BIGINT) AS n_exact,
       CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cm_estimate
FROM probe p
LEFT JOIN counters c ON p.i = c.row AND p.pos = c.pos
GROUP BY p.token, p.n_exact
"""


def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: the per-month revenue rollup kept
    as a partial-aggregate STATE (n, sum-cents, min/max key) and merged
    with a new-data delta — the entry computes state(before 1997) and
    delta(1997+) as separate aggregates and re-aggregates them, while
    the oracle computes the rollup DIRECTLY from all rows, so a
    hash-match proves the merge law (partials re-aggregate to exactly
    the full recompute). Cents are integers (half-up), so no
    association-order float hazard; avg derives AFTER the merge via
    integer DIV."""
    from ..operators.cumulate import merge_agg_states

    od = _t(spark, sf_dir, "orders")
    od = od.select(
        F.trunc(utc_date(od, "o_orderdate"), "month").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderkey"),
        utc_date(od, "o_orderdate").alias("d"),
    )
    cut = F.lit("1997-01-01").cast("date")

    def state_of(part: DataFrame) -> DataFrame:
        return part.groupBy("month").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )

    merged = merge_agg_states(
        [state_of(od.where(F.col("d") < cut)),
         state_of(od.where(F.col("d") >= cut))],
        keys=["month"],
        merges={
            "n_orders": "sum",
            "sum_cents": "sum",
            "min_key": "min",
            "max_key": "max",
        },
    )
    return merged.select(
        "month",
        "n_orders",
        "sum_cents",
        F.expr("sum_cents DIV n_orders").alias("avg_cents"),
        "min_key",
        "max_key",
    )


ORACLE_INCREMENTAL_AGG_MERGE = """
WITH rows_ AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderkey
  FROM orders)
SELECT month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(CAST(SUM(cents) AS BIGINT) // COUNT(*) AS BIGINT) AS avg_cents,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM rows_ GROUP BY month
"""


def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style last-touch attribution: each purchase event is
    credited to the event_type of the user's most recent PRIOR
    non-purchase touch (last_value IGNORE NULLS over the user's
    event-time order — the one window idiom the W-family didn't yet
    exercise); purchases with no prior touch credit 'none'. Output:
    credited touch type -> purchases, purchasing users."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = ev.withColumn(
        "last_touch",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        touched.where(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce(F.col("last_touch"), F.lit("none")).alias("touch")
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


ORACLE_LAST_TOUCH_ATTRIBUTION = """
WITH ev AS (SELECT * FROM events WHERE user_id IS NOT NULL),
touched AS (
  SELECT event_type, user_id,
         LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_touch
  FROM ev)
SELECT COALESCE(last_touch, 'none') AS touch,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM touched
WHERE event_type = 'purchase'
GROUP BY 1
"""


def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path mining over user event streams: the 10 most common 3-step
    event-type sequences (sliding trigrams via two LEADs over each
    user's event-time order — one window shuffle keyed by user, one
    path aggregate; no self-joins, no explode of materialized
    sequences). The product-analytics counterpart of the funnel: the
    funnel counts a FIXED path, this discovers which paths dominate."""
    # event_type filtered non-null too: a NULL step would sort NULLS
    # FIRST in Spark but NULLS LAST in DuckDB — a latent LIMIT-boundary
    # divergence if the fixture ever grows null types (review finding)
    ev = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    paths = ev.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    ).where(F.col("step3").isNotNull())
    return (
        paths.groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "step1", "step2", "step3")
        .limit(10)
    )


ORACLE_TOP_EVENT_PATHS = """
WITH ev AS (
  SELECT * FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
paths AS (
  SELECT event_type AS step1,
         LEAD(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS step2,
         LEAD(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS step3
  FROM ev)
SELECT step1, step2, step3, CAST(COUNT(*) AS BIGINT) AS n_paths
FROM paths WHERE step3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n_paths DESC, step1, step2, step3
LIMIT 10
"""


def q_streaming_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming frequency-sketch maintenance: events stream through
    FOUR micro-batches (maxFilesPerTrigger=1 over a 4-file copy), each
    batch's count-min cells merged into the live store by cell-wise
    SUM (`streaming.sinks.countmin_merge_batch_writer`). Because the
    merge is associative/commutative, the final counter table equals
    the whole-input sketch regardless of batch boundaries — so the
    oracle replays the sketch over ALL rows at once and reads the top
    users' estimates beside their exact counts; the multi-batch split
    proves the read-merge-swap path, not just one write."""
    from ..operators.sketch import countmin_estimates
    from ..streaming.sinks import countmin_merge_batch_writer

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("event_id", "user_id")
    )
    with tempfile.TemporaryDirectory(
        prefix="stream_cm_", ignore_cleanup_errors=True
    ) as d:
        store = f"{d}/store"
        drain(
            _staged_stream(spark, ev, f"{d}/src").writeStream.foreachBatch(
                countmin_merge_batch_writer(
                    store, "user_id", depth=4, width=1024
                )
            ),
            f"{d}/ckpt",
        )
        counters = spark.read.parquet(f"{store}/live")
        exact_top = (
            ev.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_exact"))
            .orderBy(F.desc("n_exact"), F.asc("user_id"))
            .limit(10)
        )
        est = countmin_estimates(
            counters, exact_top.select("user_id"), "user_id",
            depth=4, width=1024,
        )
        return _snapshot(
            exact_top.join(est, "user_id").select(
                "user_id", "n_exact", "cm_estimate"
            )
        )


ORACLE_STREAMING_COUNTMIN = """
WITH ev AS (
  SELECT event_id, user_id FROM events WHERE user_id IS NOT NULL),
counters AS (
  SELECT i AS row,
         CAST('0x' || substr(md5('cm' || CAST(i AS VARCHAR) || '_'
                                 || CAST(user_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 1024 AS pos,
         COUNT(*) AS cnt
  FROM ev CROSS JOIN (VALUES (0), (1), (2), (3)) t(i)
  GROUP BY 1, 2),
top AS (
  SELECT user_id, COUNT(*) AS n_exact
  FROM ev GROUP BY 1
  ORDER BY n_exact DESC, user_id LIMIT 10),
probe AS (
  SELECT top.user_id, top.n_exact, i,
         CAST('0x' || substr(md5('cm' || CAST(i AS VARCHAR) || '_'
                                 || CAST(top.user_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 1024 AS pos
  FROM top CROSS JOIN (VALUES (0), (1), (2), (3)) t(i))
SELECT p.user_id,
       CAST(p.n_exact AS BIGINT) AS n_exact,
       CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cm_estimate
FROM probe p
LEFT JOIN counters c ON p.i = c.row AND p.pos = c.pos
GROUP BY p.user_id, p.n_exact
"""
