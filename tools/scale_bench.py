#!/usr/bin/env python
"""Scale-stress benchmark (VERDICT r3 #6): synthesize a skewed and a
larger slice from the sf0.1 testdata and measure the scale paths
against their naive twins on identical inputs.

Sections (all timings = full execution via noop write, seconds):

- skew_join: 5M-row fact with 50% of rows on ONE hot key, joined to a
  200k-row dim too big to broadcast (threshold forced to -1 so both
  variants shuffle). Variants: plain sort-merge join with AQE skew
  mitigation OFF (the naive worst case), plain with AQE skew-split ON
  (Spark's own runtime fix), salted_join with AQE OFF (the explicit
  operator under test). Row counts must agree across all three.
- ngram_neardup: one corpus per size N built by exploding each base
  document into 4 near-identical variants (constant near-dup density).
  Variants: exact all-pairs BNLJ (naive baseline) at the SMALL size
  only, prefix-filtered exact join and banded MinHash-LSH at small AND
  4x size. The scale paths must (a) beat the baseline at the small
  size and (b) grow far sub-quadratically to the 4x size.

- streaming: 10x sf0.1 events through the REAL streaming engine in ten
  micro-batches (watermarked tumbling agg + applyInPandasWithState
  sessionizer), reporting the state store's own row/memory counters.

Usage: python tools/scale_bench.py [out_json]
Writes one JSON document (default BENCH_scale_r06.json).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too, and they read PYTHONPATH
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.getenv("PYTHONPATH")]))

from pyspark.sql import functions as F  # noqa: E402

from data_engineering_bootcamp_spark.operators.dedup import (  # noqa: E402
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    release_caches,
)
from data_engineering_bootcamp_spark.operators.skew import (  # noqa: E402
    salted_join,
)
from data_engineering_bootcamp_spark.session import get_spark  # noqa: E402
from data_engineering_bootcamp_spark.sources.readers import (  # noqa: E402
    load_table,
)

SF_DIR = "/root/testdata/sf0.1"
FACT_MULT = 200         # 100k events -> 20M fact rows
DIM_KEYS = 200_000
DOC_VARIANTS = 4
NGRAM_SMALL = 1500
NGRAM_LARGE = 6000
THRESHOLD = 0.5


def timed(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def release_all_but(keep) -> None:
    """Release the last operator's blocks between timed sections while
    keeping the shared input ``keep`` materialized: release_caches()
    clears every cached and checkpointed block in the session."""
    release_caches()
    keep.persist().count()


def build_skew(spark, hot_pct: int = 50):
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id")
    fact = (
        ev.withColumn("_m", F.explode(F.sequence(F.lit(1), F.lit(FACT_MULT))))
        .select(
            (F.col("event_id") * FACT_MULT + F.col("_m")).alias("row_id"),
            # hot_pct% of rows land on user 1 — the hot key
            F.when(
                F.pmod(F.xxhash64("row_id"), F.lit(100)) < hot_pct, F.lit(1)
            )
            .otherwise(F.pmod(F.xxhash64("event_id", "_m"), DIM_KEYS) + 1)
            .cast("long")
            .alias("user_key"),
            (F.col("_m") % 97).cast("double").alias("amount"),
        )
    )
    dim = spark.range(1, DIM_KEYS + 1).select(
        F.col("id").alias("user_key"),
        F.concat(F.lit("segment_"), (F.col("id") % 17)).alias("segment"),
    )
    return fact, dim


def bench_skew(spark) -> dict:
    """Two hot-key distributions (VERDICT r9 #4): hot50 (HALF the fact
    on one key) sits near the crossover — the salted join's fixed
    costs (dim replicated ×32, salt column on every fact row) roughly
    offset what the split hot task saves, so salted only edges out
    plain no-AQE (idle-box r10: 8.5 vs 10.2 s) and AQE's skew split
    performs the same mitigation (8.7 s); hot90 (90% of 20M rows on
    ONE key) is the regime the operator exists for — the plain no-AQE
    sort-merge join serializes an 18M-row sorted partition through one
    thread while 31 sit idle, and salting spreads it 32-ways (6.1 vs
    10.2 s, with AQE's split at 10.6 s). Reach for salted_join when
    skew is severe and AQE can't apply — a skewed AGGREGATION key, a
    join that must keep a deterministic partitioning, or an engine
    path where AQE's post-shuffle re-split is disabled."""
    out_all: dict = {"dim_rows": DIM_KEYS, "n_salts": 32}
    conf = spark.conf
    old_thr = conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_skew = conf.get("spark.sql.adaptive.skewJoin.enabled")
    for label, hot_pct in (("hot50", 50), ("hot90", 90)):
        fact, dim = build_skew(spark, hot_pct)
        fact = fact.persist()
        dim = dim.persist()
        n_fact = fact.count()
        dim.count()
        out: dict = {"fact_rows": n_fact, "hot_pct": hot_pct}

        def joined_plain():
            return fact.join(dim, "user_key").groupBy("segment").agg(
                F.count(F.lit(1)).alias("n"), F.sum("amount").alias("amt")
            )

        def joined_salted():
            return (
                salted_join(fact, dim, "user_key", n_salts=32)
                .groupBy("segment")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("amount").alias("amt"),
                )
            )

        try:
            conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

            conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
            out["plain_join_no_aqe_sec"] = timed(joined_plain())
            out["salted_join_sec"] = timed(joined_salted())

            conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
            out["plain_join_aqe_skew_sec"] = timed(joined_plain())

            # all three must agree: salting is result-invisible
            a = {tuple(r) for r in joined_plain().collect()}
            b = {tuple(r) for r in joined_salted().collect()}
            out["results_match"] = a == b
            out["salted_beats_plain"] = (
                out["salted_join_sec"] < out["plain_join_no_aqe_sec"]
            )
        finally:
            conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
            conf.set("spark.sql.adaptive.skewJoin.enabled", old_skew)
            fact.unpersist()
            dim.unpersist()
        out_all[label] = out
    return out_all


def build_corpus(spark, n_docs: int):
    bases = n_docs // DOC_VARIANTS
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    return (
        docs.orderBy("doc_id")
        .limit(bases)
        .withColumn(
            "_v", F.explode(F.sequence(F.lit(0), F.lit(DOC_VARIANTS - 1)))
        )
        .select(
            (F.col("doc_id") * DOC_VARIANTS + F.col("_v")).alias("doc_id"),
            # variant 0 = original; others append a tiny suffix so the
            # group stays near-duplicate (Jaccard close to 1)
            F.when(F.col("_v") == 0, F.col("text"))
            .otherwise(
                F.concat(F.col("text"), F.lit(" variant tail "), F.col("_v"))
            )
            .alias("text"),
        )
    )


def bench_ngram(spark) -> dict:
    out: dict = {
        "variants_per_base": DOC_VARIANTS,
        "sizes": {"small": NGRAM_SMALL, "large": NGRAM_LARGE},
        "threshold": THRESHOLD,
    }
    for label, n in (("small", NGRAM_SMALL), ("large", NGRAM_LARGE)):
        corpus = build_corpus(spark, n).persist()
        corpus.count()
        section: dict = {}
        try:
            if label == "small":
                t0 = time.perf_counter()
                naive = dedup_ngram_jaccard(
                    corpus, block_col=None, ngram=3, threshold=THRESHOLD
                )
                n_naive = naive.count()
                section["allpairs_bnlj_sec"] = round(
                    time.perf_counter() - t0, 3
                )
                section["allpairs_pairs"] = n_naive
                release_all_but(corpus)

            t0 = time.perf_counter()
            pref = dedup_ngram_jaccard(
                corpus,
                block_col=None,
                ngram=3,
                threshold=THRESHOLD,
                prefix_filtered=True,
            )
            n_pref = pref.count()
            section["prefix_filtered_sec"] = round(time.perf_counter() - t0, 3)
            section["prefix_filtered_pairs"] = n_pref
            release_all_but(corpus)

            t0 = time.perf_counter()
            mh = dedup_minhash_lsh(corpus, jaccard_threshold=0.8)
            n_mh = mh.count()
            section["minhash_lsh_sec"] = round(time.perf_counter() - t0, 3)
            section["minhash_lsh_pairs"] = n_mh
            release_all_but(corpus)

            # cluster resolution over the prefix-filtered pairs: wall
            # should track pair volume (linear), not corpus size
            from data_engineering_bootcamp_spark.operators.clustering import (
                neardup_retention,
            )

            t0 = time.perf_counter()
            pairs = dedup_ngram_jaccard(
                corpus,
                block_col=None,
                ngram=3,
                threshold=THRESHOLD,
                prefix_filtered=True,
            )
            ret = neardup_retention(corpus, pairs)
            n_kept = ret.where(F.col("keep")).count()
            section["cluster_retention_sec"] = round(
                time.perf_counter() - t0, 3
            )
            section["cluster_retention_kept"] = n_kept
            release_caches()

            if "allpairs_pairs" in section:
                # the prefix-filtered join is lossless: same exact pairs
                section["prefix_matches_allpairs"] = (
                    section["allpairs_pairs"] == n_pref
                )
        finally:
            corpus.unpersist()
        out[label] = section
    return out


def bench_cc(spark) -> dict:
    """Connected-components algorithm face-off on the two graph shapes
    that matter: a LONG CHAIN (pathological diameter — the case the
    round-4 verdict flagged for min-label) and a CLIQUE FOREST (the
    near-dup shape). Star must resolve the chain min-label cannot
    touch, and stay competitive on cliques."""
    from data_engineering_bootcamp_spark.operators.clustering import (
        connected_components,
    )

    out: dict = {}
    n_chain = 30_000
    chain = spark.range(n_chain - 1).select(
        F.col("id").alias("doc_id_a"), (F.col("id") + 1).alias("doc_id_b")
    )
    t0 = time.perf_counter()
    labels = connected_components(chain, algorithm="star", max_iter=60)
    ok = (
        labels.agg(F.max("cluster_id")).first()[0] == 0
        and labels.count() == n_chain
    )
    out["chain_star"] = {
        "vertices": n_chain,
        "diameter": n_chain - 1,
        "sec": round(time.perf_counter() - t0, 3),
        "single_component": bool(ok),
    }
    try:
        connected_components(chain, algorithm="minlabel", max_iter=5)
        out["chain_minlabel"] = "converged (UNEXPECTED at diameter 30k)"
    except RuntimeError:
        out["chain_minlabel"] = (
            "raises (diameter-bounded, as documented) — star is the "
            "long-chain path"
        )

    # clique forest: 30k vertices in 7.5k cliques of 4 — the near-dup
    # shape; both algorithms must agree and both stay in a handful of
    # rounds
    cliq = (
        spark.range(n_chain)
        .select(
            (F.col("id") - F.col("id") % 4).alias("doc_id_a"),
            F.col("id").alias("doc_id_b"),
        )
        .where(F.col("doc_id_a") != F.col("doc_id_b"))
    )
    secs = {}
    counts = {}
    for algo in ("minlabel", "star"):
        t0 = time.perf_counter()
        lab = connected_components(cliq, algorithm=algo)
        counts[algo] = lab.select("cluster_id").distinct().count()
        secs[algo] = round(time.perf_counter() - t0, 3)
    out["cliques"] = {
        "vertices": n_chain,
        "n_components_minlabel": counts["minlabel"],
        "n_components_star": counts["star"],
        "components_match": counts["minlabel"] == counts["star"] == n_chain // 4,
        "minlabel_sec": secs["minlabel"],
        "star_sec": secs["star"],
    }
    return out


def bench_dup_span(spark) -> dict:
    """Duplicate-span extraction: window min/max detection (ONE
    shuffle of the token-scale wins relation) vs the groupBy +
    join-back twin (TWO full shuffles once the dup-key set can't
    broadcast — forced here with autoBroadcastJoinThreshold=-1).
    The variant corpus duplicates every base doc 4x, so shared spans
    are dense; both strategies must return identical span sets."""
    from data_engineering_bootcamp_spark.operators.dedup import dup_spans

    out: dict = {"k": 8, "sizes": {"small": NGRAM_SMALL, "large": NGRAM_LARGE}}
    for label, n in (("small", NGRAM_SMALL), ("large", NGRAM_LARGE)):
        corpus = build_corpus(spark, n).persist()
        corpus.count()
        section: dict = {}
        try:
            t0 = time.perf_counter()
            win = dup_spans(corpus, k=8)
            n_win = win.count()
            section["window_sec"] = round(time.perf_counter() - t0, 3)
            section["spans"] = n_win

            prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                t0 = time.perf_counter()
                jb = dup_spans(corpus, k=8, detect="joinback")
                n_jb = jb.count()
                section["joinback_sec"] = round(time.perf_counter() - t0, 3)
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

            if label == "small":
                a = {tuple(r) for r in win.collect()}
                b = {tuple(r) for r in jb.collect()}
                section["results_match"] = a == b
            else:
                section["results_match"] = n_win == n_jb
        finally:
            corpus.unpersist()
        out[label] = section
    return out


def bench_ann_q8(spark) -> dict:
    """SQ8-candidate + rerank vs brute-force float top-k on a 10x
    corpus (50k vectors from the 5k sf0.1 embeddings, deterministic
    per-variant jitter so vectors stay distinct). Measures wall AND
    recall@5 against the exact answer — an approximate path is only
    shippable with its recall measured on the same corpus."""
    from data_engineering_bootcamp_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_q8_rerank,
    )

    mult = 10
    n_queries = 50
    corpus = build_vectors(spark, mult).persist()
    n_corpus = corpus.count()
    queries = corpus.where(F.col("vec_id") % (n_corpus // n_queries) == 0)
    out: dict = {"corpus_vectors": n_corpus, "queries": n_queries, "dim": 64}

    t0 = time.perf_counter()
    exact = cosine_topk_bruteforce(corpus, queries, k=5)
    exact_rows = exact.collect()
    out["bruteforce_blas_sec"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    q8 = cosine_topk_q8_rerank(
        corpus, queries, k=5, n_candidates=20, dim=64
    )
    q8_rows = q8.collect()
    out["q8_rerank_sec"] = round(time.perf_counter() - t0, 3)

    exact_set = {(r.query_id, r.neighbor_id) for r in exact_rows}
    q8_set = {(r.query_id, r.neighbor_id) for r in q8_rows}
    out["topk_pairs"] = len(exact_set)
    out["recall_at_5"] = round(
        len(exact_set & q8_set) / max(len(exact_set), 1), 4
    )
    corpus.unpersist()
    return out


def build_vectors(spark, mult: int):
    """10x-style corpus from the sf0.1 embeddings with deterministic
    per-variant jitter (shared by the ann_q8 and semantic-dedup
    sections)."""
    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    return (
        emb.withColumn(
            "_v", F.explode(F.sequence(F.lit(0), F.lit(mult - 1)))
        )
        .select(
            (F.col("vec_id") * mult + F.col("_v")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x.cast("double")
                + 0.004
                * F.col("_v")
                * (((i * 7 + F.col("_v")) % 11) - 5),
            ).alias("embedding"),
        )
    )


def bench_semantic_dedup(spark) -> dict:
    """SemDeDup at 10x corpus (20k vectors): wall time of the
    cluster-then-dedup path vs the exact all-pairs baseline, PLUS the
    measurement that decides whether the approximation is shippable —
    cluster-local RECALL: the fraction of global near-dup pairs whose
    two ends land in the same k-means cluster (a pair split across
    clusters can never be deduplicated by the cluster-local pass).
    Drop-verdict parity is also checked on the captured pairs: every
    vector with a lower-id same-cluster neighbor must be dropped."""
    from data_engineering_bootcamp_spark.operators.similarity import (
        neardup_embedding_cosine,
        semantic_dedup,
    )

    thr = 0.98  # calibrated to the jittered corpus (variant pairs
    # cluster just under 0.995; 0.98 yields a dense pair set)
    corpus = build_vectors(spark, 10).persist()
    n = corpus.count()
    out: dict = {"corpus_vectors": n, "threshold": thr, "n_centroids": 64}

    t0 = time.perf_counter()
    sd = semantic_dedup(corpus, threshold=thr, n_centroids=64).persist()
    n_dropped = sd.where(~F.col("keep")).count()
    out["semantic_dedup_sec"] = round(time.perf_counter() - t0, 3)
    out["dropped"] = n_dropped

    t0 = time.perf_counter()
    pairs = neardup_embedding_cosine(corpus, thr).persist()
    n_pairs = pairs.count()
    out["allpairs_baseline_sec"] = round(time.perf_counter() - t0, 3)
    out["global_neardup_pairs"] = n_pairs

    buckets = sd.select("vec_id", "bucket")
    captured = (
        pairs.join(
            buckets.withColumnRenamed("vec_id", "id_a").withColumnRenamed(
                "bucket", "ba"
            ),
            "id_a",
        )
        .join(
            buckets.withColumnRenamed("vec_id", "id_b").withColumnRenamed(
                "bucket", "bb"
            ),
            "id_b",
        )
        .where(F.col("ba") == F.col("bb"))
    )
    n_captured = captured.count()
    out["pairs_in_same_cluster"] = n_captured
    out["cluster_local_recall"] = round(n_captured / max(n_pairs, 1), 4)
    # contract check: the higher id of every captured pair is dropped
    hi_ids = captured.select(
        F.greatest("id_a", "id_b").alias("vec_id")
    ).distinct()
    not_dropped = hi_ids.join(
        sd.where(F.col("keep")), "vec_id"
    ).count()
    out["captured_hi_ids_all_dropped"] = not_dropped == 0
    sd.unpersist()
    pairs.unpersist()
    corpus.unpersist()
    return out


def bench_streaming(spark) -> dict:
    """Watermarked Structured Streaming under 10x sf0.1 volume
    (VERDICT r5 #3: the streaming entries gate only at sf0.01; this
    pins state-store behavior under real volume). A 1M-row event
    source split into 20 parquet files is streamed with
    maxFilesPerTrigger=2 — TEN micro-batches, so watermark
    advancement, state eviction, and inter-batch state carry-over all
    actually happen — through (a) the built-in watermarked tumbling
    aggregate and (b) the custom applyInPandasWithState sessionizer.
    Reported per query: wall, input rows, emitted rows, and the state
    store's own counters (rows total/updated/removed, memory) from the
    engine's progress telemetry."""
    import tempfile

    from data_engineering_bootcamp_spark.streaming.pipelines import (
        tumbling_counts,
    )
    from data_engineering_bootcamp_spark.streaming.stateful import (
        sessionize_stateful,
    )

    mult = 10
    ev = load_table(spark, SF_DIR, "events").where(
        F.col("user_id").isNotNull()
    )
    big = (
        ev.withColumn("_v", F.explode(F.sequence(F.lit(0), F.lit(mult - 1))))
        .select(
            (F.col("event_id") * mult + F.col("_v")).alias("event_id"),
            # per-variant second jitter keeps event times distinct while
            # preserving the overall time distribution the watermark sees
            F.expr("ts + make_interval(0, 0, 0, 0, 0, 0, _v * 7)").alias(
                "ts"
            ),
            (F.col("user_id") * mult + F.col("_v")).alias("user_id"),
            "event_type",
            # the stateful sessionizer keys on (ip, host): derive a
            # user-shaped ip and a host from the columns the table has
            F.concat(F.lit("u"), F.col("user_id") * mult + F.col("_v"))
            .alias("ip"),
            F.col("event_type").alias("host"),
        )
    )
    # one scratch dir holds the source and every run's sink and
    # checkpoint, so a failed write, start or wait leaks nothing
    with tempfile.TemporaryDirectory(prefix="scale_stream_") as d:
        src = os.path.join(d, "src")
        big.repartition(20).write.mode("overwrite").parquet(src)
        schema = spark.read.parquet(src).schema
        n_input = spark.read.parquet(src).count()
        out: dict = {"source_rows": n_input, "source_files": 20,
                     "max_files_per_trigger": 2}

        def run(label, build_query, sink_mode):
            o = os.path.join(d, f"{label}_out")
            ck = os.path.join(d, f"{label}_ck")
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 2)
                .format("parquet")
                .load(src)
            )
            t0 = time.perf_counter()
            q = (
                build_query(stream)
                .writeStream.format("parquet")
                .option("path", o)
                .option("checkpointLocation", ck)
                .outputMode(sink_mode)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
            finally:
                q.stop()
            wall = round(time.perf_counter() - t0, 3)
            prog = q.recentProgress
            batches = len(prog)
            rows_in = sum(int(p.get("numInputRows", 0)) for p in prog)
            # rows_total/memory are end-state snapshots (last batch
            # with a state operator); updated/removed are per-batch
            # deltas, so SUM them across the run — append-mode
            # eviction would otherwise read as 0 from the final batch
            state = {}
            upd = rem = 0
            for p in prog:
                ops = p.get("stateOperators") or []
                if ops:
                    s = ops[0]
                    upd += int(s.get("numRowsUpdated") or 0)
                    rem += int(s.get("numRowsRemoved") or 0)
                    state = {
                        "operator": s.get("operatorName"),
                        "rows_total_end": s.get("numRowsTotal"),
                        "memory_bytes_end": s.get("memoryUsedBytes"),
                    }
            if state:
                state["rows_updated_sum"] = upd
                state["rows_removed_sum"] = rem
            emitted = spark.read.parquet(o).count()
            return {
                "wall_sec": wall,
                "micro_batches": batches,
                "input_rows": rows_in,
                "emitted_rows": emitted,
                "state": state,
            }

        out["tumbling_watermarked"] = run(
            "tumb",
            lambda s: tumbling_counts(
                s, keys=["event_type"], watermark="10 minutes"
            ),
            "append",
        )
        out["stateful_sessions"] = run(
            "sess",
            lambda s: sessionize_stateful(
                s, gap_seconds=1800, watermark="30 seconds"
            ),
            "append",
        )
    return out


def bench_bloom(spark) -> dict:
    """Bloom pre-join reduction vs the plain shuffled semi join it
    replaces, on the 20M-row skew fact vs a selective dim subset —
    broadcast DISABLED for both joins (the scenario where the Bloom
    bitmap matters is exactly the one where the raw dim exceeds the
    broadcast threshold). The Bloom variant pays the bitmap build +
    one Arrow probe pass, then semi-joins only the passing residue."""
    from data_engineering_bootcamp_spark.operators.sketch import bloom_prune

    fact, dim = build_skew(spark)
    # the synthetic fact inherits ONE input partition (a single parquet
    # file exploded 200x, all narrow ops) — the shuffled joins fan out
    # at their exchange anyway, but the Bloom probe is deliberately
    # shuffle-FREE and would otherwise run one-core. A real 100 TB fact
    # arrives pre-partitioned; model that here. (First measured the
    # hard way: 83 s single-task probe vs 6 s at 32 partitions.)
    fact = fact.repartition(64).persist()
    n_fact = fact.count()
    # every 20th dim key "interesting": 10k of 200k
    dimsub = dim.where(F.col("user_key") % 20 == 0).select("user_key").persist()
    n_dim = dimsub.count()
    out: dict = {"fact_rows": n_fact, "dim_keys": n_dim, "m_bits": 1 << 20}
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t0 = time.perf_counter()
        plain = fact.join(dimsub, "user_key", "left_semi").agg(
            F.count(F.lit(1)).alias("n"), F.sum("amount").alias("amt")
        )
        plain_rows = plain.collect()[0]
        out["plain_semi_join_sec"] = round(time.perf_counter() - t0, 3)

        t0 = time.perf_counter()
        passed = bloom_prune(
            fact, dimsub, "user_key", "user_key", m_bits=1 << 20, k=3
        ).persist()
        t1 = time.perf_counter()
        out["bloom_bitmap_build_sec"] = round(t1 - t0, 3)
        n_pass = passed.count()
        t2 = time.perf_counter()
        out["bloom_probe_sec"] = round(t2 - t1, 3)
        bloom = passed.join(dimsub, "user_key", "left_semi").agg(
            F.count(F.lit(1)).alias("n"), F.sum("amount").alias("amt")
        )
        bloom_rows = bloom.collect()[0]
        out["bloom_residue_join_sec"] = round(time.perf_counter() - t2, 3)
        out["bloom_prune_then_semi_sec"] = round(time.perf_counter() - t0, 3)
        out["rows_passing_bloom"] = n_pass
        out["true_match_rows"] = plain_rows["n"]
        out["shuffle_reduction"] = round(n_pass / max(n_fact, 1), 4)
        out["results_match"] = (
            plain_rows["n"] == bloom_rows["n"]
            and abs((plain_rows["amt"] or 0) - (bloom_rows["amt"] or 0)) < 1e-6
        )
        passed.unpersist()

        # the xxhash64 twin: same bitmap/probe shape, JVM-intrinsic
        # hash instead of md5 — the hot-path configuration when SQL
        # replay is not needed
        t0 = time.perf_counter()
        passed_xx = bloom_prune(
            fact, dimsub, "user_key", "user_key",
            m_bits=1 << 20, k=3, hash_fn="xxhash64",
        ).persist()
        n_pass_xx = passed_xx.count()
        bloom_xx = passed_xx.join(dimsub, "user_key", "left_semi").agg(
            F.count(F.lit(1)).alias("n"), F.sum("amount").alias("amt")
        )
        bloom_xx_rows = bloom_xx.collect()[0]
        out["bloom_xxhash_then_semi_sec"] = round(time.perf_counter() - t0, 3)
        out["rows_passing_bloom_xxhash"] = n_pass_xx
        out["results_match_xxhash"] = (
            plain_rows["n"] == bloom_xx_rows["n"]
            and abs((plain_rows["amt"] or 0) - (bloom_xx_rows["amt"] or 0))
            < 1e-6
        )
        passed_xx.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        fact.unpersist()
        dimsub.unpersist()
    return out


def bench_pagerank(spark) -> dict:
    """Fixed-point PageRank over the sf0.1 part co-occurrence graph:
    wall time for 5 and 10 iterations — near-linear per-iteration cost
    (constant plan depth via per-round localCheckpoint) is the scale
    property under test."""
    from data_engineering_bootcamp_spark.operators.graph import (
        build_edges_pairs_grouped,
        pagerank,
    )

    li = load_table(spark, SF_DIR, "lineitem")
    edges = build_edges_pairs_grouped(li, "l_orderkey", "l_partkey").persist()
    n_edges = edges.count()
    out: dict = {"edges": n_edges}
    # warmup (VERDICT r10 #4): one throwaway short run absorbs JVM /
    # codegen / shuffle warmup that otherwise lands entirely on the
    # iter5 sample — r10 recorded iter5 14.4 s vs iter10 14.2 s, i.e. a
    # NEGATIVE per-extra-iteration figure, a bench artifact rather than
    # an engine property. With both samples warmed, the difference is
    # the marginal cost of 5 more iterations, which is the scale signal
    # this fixture exists to publish.
    pagerank(edges, iterations=1).count()
    for iters in (5, 10):
        t0 = time.perf_counter()
        ranks = pagerank(edges, iterations=iters)
        n_v = ranks.count()
        out[f"iter{iters}_sec"] = round(time.perf_counter() - t0, 3)
        out["vertices"] = n_v
    edges.unpersist()
    out["sec_per_extra_iteration"] = round(
        (out["iter10_sec"] - out["iter5_sec"]) / 5, 3
    )
    return out


def bench_fuzzy(spark) -> dict:
    """PassJoin segment blocking vs the naive length-band block, and
    the blocked path alone at 500k strings. The fixture is the
    adversarial case for naive blocking — fixed-format names, so a
    length-only block is ONE bucket and the candidate set is all
    pairs; PassJoin's (length, slot, segment) key splits it by actual
    content. Both variants must return identical pairs."""
    from data_engineering_bootcamp_spark.operators.fuzzy import fuzzy_join

    def corpus(n):
        # clusters of 3 per base: "AeB" / "AxB" (substitution) /
        # "AB" (deletion), where A and B are independent pseudo-random
        # 5-digit halves of the base id. BOTH PassJoin segments need
        # content entropy: a constant prefix OR suffix turns that
        # segment into one giant block and the verify join quadratic
        # (two earlier drafts hit each case in turn) — the same key
        # normalization real ER pipelines apply before blocking.
        base = (F.col("id") / 3).cast("long")
        a = F.format_string("%05d", F.pmod(base * 7919, F.lit(100_000)))
        b = F.format_string("%05d", F.pmod(base, F.lit(100_000)))
        return spark.range(n).select(
            F.col("id").alias("fid"),
            F.when(F.col("id") % 3 == 0, F.concat(a, F.lit("e"), b))
            .when(F.col("id") % 3 == 1, F.concat(a, F.lit("x"), b))
            .otherwise(F.concat(a, b))
            .alias("name"),
        )

    out: dict = {}
    small = corpus(20_000).persist()
    small.count()

    # naive length-band blocking: probe emits len-1..len+1 keys, one
    # equi join on length alone, verify with levenshtein — the
    # "obvious" block that degenerates to all-pairs on uniform lengths
    def length_block():
        a = small.select(
            F.col("fid").alias("sid"), F.col("name").alias("ss"),
            F.length("name").alias("s_len"),
        )
        b = small.select(
            F.col("fid").alias("pid"), F.col("name").alias("ps"),
            F.explode(
                F.sequence(F.length("name") - 1, F.length("name") + 1)
            ).alias("s_len"),
        )
        return (
            b.join(a, "s_len")
            .where(F.col("pid") < F.col("sid"))
            .withColumn("dist", F.levenshtein("ps", "ss"))
            .where(F.col("dist") <= 1)
            .select(
                F.col("pid").alias("id_a"), F.col("sid").alias("id_b"),
                "dist",
            )
        )

    out["rows_small"] = 20_000
    out["passjoin_20k_sec"] = timed(fuzzy_join(small, "fid", "name", 1))
    out["lengthblock_20k_sec"] = timed(length_block())
    got = fuzzy_join(small, "fid", "name", 1)
    want = length_block()
    out["results_match"] = (
        got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    )
    out["pairs_20k"] = got.count()
    small.unpersist()

    big = corpus(300_000).persist()
    out["rows_big"] = big.count()
    t = timed(fuzzy_join(big, "fid", "name", 1))
    out["passjoin_300k_sec"] = t
    out["pairs_300k"] = fuzzy_join(big, "fid", "name", 1).count()
    big.unpersist()
    return out


def bench_interval_sweep(spark) -> dict:
    """Sweep-line interval concurrency vs the naive instant-by-
    interval range join, then the sweep alone at 20M intervals. The
    range join is the plan a naive 'concurrency per boundary' query
    produces (every boundary instant joined against every interval
    covering it — candidate volume grows with overlap depth); the
    sweep is two keyed window passes. Both must agree on every
    instant's concurrency."""
    from data_engineering_bootcamp_spark.operators.temporal import (
        interval_concurrency,
    )

    def intervals(n):
        base = F.lit("2024-01-01 00:00:00").cast("timestamp")
        start = F.timestamp_add(
            "SECOND", F.pmod(F.xxhash64("id"), 86400 * 30).cast("int"), base
        )
        dur = (F.pmod(F.xxhash64("id", F.lit(1)), 7200) + 1).cast("int")
        return spark.range(n).select(
            start.alias("s"), F.timestamp_add("SECOND", dur, start).alias("e")
        )

    out: dict = {}
    small = intervals(10_000).persist()
    small.count()
    sweep_small = interval_concurrency(small, "s", "e")

    def naive():
        # every distinct boundary instant joined against the intervals
        # covering it — a range join (BNLJ/broadcast range at this
        # size; unbounded candidate volume as overlap depth grows)
        bounds = (
            small.select(F.col("s").alias("ts"))
            .unionByName(
                small.select(
                    (F.col("e") + F.expr("INTERVAL 1 MICROSECOND")).alias(
                        "ts"
                    )
                )
            )
            .distinct()
        )
        return bounds.join(
            small,
            (F.col("s") <= F.col("ts"))
            & (F.col("ts") <= F.col("e")),
            "left",
        ).groupBy("ts").agg(
            F.count(F.col("s")).alias("concurrency")
        )

    out["rows_small"] = 10_000
    out["sweep_10k_sec"] = timed(sweep_small)
    out["rangejoin_10k_sec"] = timed(naive())
    got = sweep_small.select("ts", "concurrency")
    want = naive()
    out["results_match"] = (
        got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    )
    small.unpersist()

    big = intervals(20_000_000).persist()
    out["rows_big"] = big.count()
    out["sweep_20m_sec"] = timed(interval_concurrency(big, "s", "e"))
    big.unpersist()
    return out


def bench_merge_laws(spark) -> dict:
    """The mergeability claims behind the sketch/state operators,
    proven at 20M rows rather than asserted: a count-min sketch built
    on two halves and merged by cell-wise addition must equal the
    whole-input sketch CELL FOR CELL (exact, not approximate — the
    sketch is deterministic), and partial aggregate states over an
    arbitrary 3-way split must re-aggregate to exactly the full
    recompute. These are the properties that let a 100 TB frequency or
    rollup pass run as per-day partials."""
    from data_engineering_bootcamp_spark.operators.cumulate import (
        merge_agg_states,
    )
    from data_engineering_bootcamp_spark.operators.sketch import (
        countmin_table,
    )

    fact, _ = build_skew(spark)
    fact = fact.repartition(64).persist()
    n = fact.count()
    out: dict = {"rows": n}

    # count-min: halves merged == whole (cell-exact)
    t0 = time.perf_counter()
    whole = countmin_table(fact, "user_key", depth=4, width=2048).persist()
    n_cells = whole.count()
    out["countmin_whole_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    lo = countmin_table(
        fact.where(F.col("row_id") % 2 == 0), "user_key", depth=4, width=2048
    )
    hi = countmin_table(
        fact.where(F.col("row_id") % 2 == 1), "user_key", depth=4, width=2048
    )
    merged = (
        lo.unionByName(hi)
        .groupBy("row", "pos")
        .agg(F.sum("cnt").alias("cnt"))
        .persist()
    )
    merged.count()
    out["countmin_halves_merge_sec"] = round(time.perf_counter() - t0, 3)
    out["countmin_cells"] = n_cells
    out["countmin_merge_exact"] = (
        merged.exceptAll(whole).count() == 0
        and whole.exceptAll(merged).count() == 0
    )
    whole.unpersist()
    merged.unpersist()

    # histogram-bin merge law: bin counts over halves add to the whole
    # (what lets histogram_quantiles run as per-day partials)
    def bins(part):
        return (
            part.select(
                F.floor(F.col("amount") / F.lit(5.0)).cast("long").alias("b")
            )
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    t0 = time.perf_counter()
    whole_b = bins(fact).persist()
    whole_b.count()
    merged_b = (
        bins(fact.where(F.col("row_id") % 2 == 0))
        .unionByName(bins(fact.where(F.col("row_id") % 2 == 1)))
        .groupBy("b")
        .agg(F.sum("cnt").alias("cnt"))
        .persist()
    )
    merged_b.count()
    out["histogram_merge_sec"] = round(time.perf_counter() - t0, 3)
    out["histogram_merge_exact"] = (
        merged_b.exceptAll(whole_b).count() == 0
        and whole_b.exceptAll(merged_b).count() == 0
    )
    whole_b.unpersist()
    merged_b.unpersist()

    # HLL register merge law: register-wise MAX over halves must equal
    # the whole-input register table, and the summary stats (the
    # oracle-hashed integers) must match exactly — what lets a 100 TB
    # cardinality pass run as per-day partials. xxhash64 path: this
    # section proves the merge algebra, not SQL replay (the md5 twin
    # is oracle-gated at sf0.01/0.1 by hll_user_cardinality).
    from data_engineering_bootcamp_spark.operators.sketch import (
        hll_registers,
        hll_summary,
    )

    t0 = time.perf_counter()
    hll_whole = hll_registers(
        fact, "user_key", p=12, hash_fn="xxhash64"
    ).persist()
    out["hll_registers"] = hll_whole.count()
    out["hll_whole_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    hll_merged = (
        hll_registers(
            fact.where(F.col("row_id") % 2 == 0), "user_key", p=12,
            hash_fn="xxhash64",
        )
        .unionByName(
            hll_registers(
                fact.where(F.col("row_id") % 2 == 1), "user_key", p=12,
                hash_fn="xxhash64",
            )
        )
        .groupBy("register")
        .agg(F.max("max_rho").alias("max_rho"))
        .persist()
    )
    hll_merged.count()
    out["hll_halves_merge_sec"] = round(time.perf_counter() - t0, 3)
    out["hll_merge_exact"] = (
        hll_merged.exceptAll(hll_whole).count() == 0
        and hll_whole.exceptAll(hll_merged).count() == 0
    )
    s_whole = hll_summary(hll_whole, p=12).collect()[0]
    s_merged = hll_summary(hll_merged, p=12).collect()[0]
    out["hll_summary_exact"] = (
        s_whole.t_scaled, s_whole.n_zero, s_whole.sum_rho,
    ) == (s_merged.t_scaled, s_merged.n_zero, s_merged.sum_rho)
    hll_whole.unpersist()
    hll_merged.unpersist()

    # agg-state merge law on the 20M fact
    def st(part):
        return part.groupBy("user_key").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("amount").alias("amt"),
            F.min("row_id").alias("lo"),
            F.max("row_id").alias("hi"),
        )

    t0 = time.perf_counter()
    direct = st(fact).persist()
    n_keys = direct.count()
    out["aggstate_direct_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    parts = [st(fact.where(F.col("row_id") % 3 == r)) for r in range(3)]
    remerged = merge_agg_states(
        parts, ["user_key"],
        {"n": "sum", "amt": "sum", "lo": "min", "hi": "max"},
    ).persist()
    remerged.count()
    out["aggstate_3way_merge_sec"] = round(time.perf_counter() - t0, 3)
    out["aggstate_keys"] = n_keys
    out["aggstate_merge_exact"] = (
        remerged.exceptAll(direct).count() == 0
        and direct.exceptAll(remerged).count() == 0
    )
    direct.unpersist()
    remerged.unpersist()
    fact.unpersist()
    return out


def bench_kmv(spark):
    """KMV set-algebra face-off at 20M rows: per-pair distinct-user
    overlap of 8 groups via bottom-k sketches (k = 256, xxhash64 hot
    path) vs the exact distinct-intersection self-join, plus the
    bottom-k merge law at full width. Group g draws users from a 1M-id
    band starting at g*600k, so adjacent groups truly share 400k of
    their bands — real overlap, not an artifact of the generator."""
    from data_engineering_bootcamp_spark.operators.sketch import (
        kmv_estimate,
        kmv_pair_stats,
        kmv_sketch,
    )
    from pyspark.sql import Window

    out = {}
    n = 20_000_000
    n_groups = 8
    k = 256
    base = (
        spark.range(n)
        .select(
            (F.col("id") % n_groups).cast("int").alias("g"),
            (
                (F.col("id") % n_groups) * 600_000
                + F.pmod(F.xxhash64("id"), F.lit(1_000_000))
            ).alias("user_id"),
        )
        .persist()
    )
    out["rows"] = base.count()

    t0 = time.perf_counter()
    sk = kmv_sketch(base, "user_id", "g", k=k, hash_fn="xxhash64").persist()
    pair_rows = kmv_pair_stats(sk, "g", k=k).collect()
    out["sketch_pairs_sec"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    du = base.distinct().persist()
    a = du.select(F.col("g").alias("ga"), "user_id")
    b = du.select(F.col("g").alias("gb"), "user_id")
    exact_inter = {
        (r.ga, r.gb): r.cnt
        for r in a.join(b, "user_id")
        .where(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    exact_sizes = {
        r.g: r.cnt
        for r in du.groupBy("g").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    out["exact_pairs_sec"] = round(time.perf_counter() - t0, 3)

    import math

    max_rel = 0.0
    max_sigmas = 0.0
    overlapped = 0
    missed_overlaps = 0        # true overlap, sketch said jac == 0
    missed_overlap_fail = False
    side_sigma = 1.0 / math.sqrt(k - 2)
    for r in pair_rows:
        ua = kmv_estimate(r.size_a, r.kth_a, k)
        ub = kmv_estimate(r.size_b, r.kth_b, k)
        uu = kmv_estimate(r.union_size, r.union_kth, k)
        jac = r.inter_in_union / r.union_size
        est_inter = jac * uu
        ex = exact_inter.get((r.grp_a, r.grp_b), 0)
        if ex > 0 and jac > 0:
            overlapped += 1
            rel = abs(est_inter - ex) / ex
            max_rel = max(max_rel, rel)
            # per-pair error model: the intersection estimate compounds
            # a Binomial Jaccard term (inter_in_union ~ Bin(k, p),
            # rel sd = sqrt((1-p)/(k*p)) — at p≈0.22, k=256 this is
            # ~0.12 and DOMINATES) with the union-cardinality term
            # (~1/sqrt(k-2) ≈ 0.063). A flat 0.35 cap under-modeled
            # the Jaccard term: worst-of-N pairs at ~2.7 sigma tripped
            # it on a correct estimator (r9 run). Gate each pair at
            # 4 sigma of ITS OWN model instead.
            pair_sigma = math.sqrt((1 - jac) / (k * jac) + side_sigma**2)
            max_sigmas = max(max_sigmas, rel / pair_sigma)
        elif ex > 0:
            # jac == 0 on a pair with TRUE overlap (ADVICE r9): these
            # pairs carry no relative error to gate, but an estimator
            # that misses overlaps wholesale must not pass silently.
            # inter_in_union ~ Bin(k, p) with p = true Jaccard; zero
            # hits is a (k*p)/sqrt(k*p*(1-p)) ≈ sqrt(k*p)-sigma event,
            # so observing 0 when k*p > 16 is itself a >4-sigma
            # failure of the estimator.
            missed_overlaps += 1
            union_true = (
                exact_sizes[r.grp_a] + exact_sizes[r.grp_b] - ex
            )
            true_jac = ex / union_true
            if k * true_jac > 16:
                missed_overlap_fail = True
        for g, est in ((r.grp_a, ua), (r.grp_b, ub)):
            rel = abs(est - exact_sizes[g]) / exact_sizes[g]
            max_rel = max(max_rel, rel)
            max_sigmas = max(max_sigmas, rel / side_sigma)
        del uu
    out["pairs_with_true_overlap"] = overlapped + missed_overlaps
    out["pairs_overlap_missed_by_sketch"] = missed_overlaps
    out["max_rel_error"] = round(max_rel, 4)
    out["max_error_sigmas"] = round(max_sigmas, 2)
    out["estimates_ok"] = max_sigmas < 4.0 and not missed_overlap_fail

    # merge law at full width: sketches of two disjoint row-halves,
    # re-ranked, equal the whole-input sketch exactly
    half_a = base.where(F.pmod(F.xxhash64("user_id", "g"), F.lit(2)) == 0)
    half_b = base.where(F.pmod(F.xxhash64("user_id", "g"), F.lit(2)) == 1)
    merged = (
        kmv_sketch(half_a, "user_id", "g", k=k, hash_fn="xxhash64")
        .unionByName(kmv_sketch(half_b, "user_id", "g", k=k,
                                hash_fn="xxhash64"))
        .select("g", "h")
        .distinct()
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("g").orderBy("h")),
        )
        .where(F.col("rn") <= k)
    )
    direct = kmv_sketch(base, "user_id", "g", k=k, hash_fn="xxhash64")
    out["merge_law_exact"] = (
        direct.exceptAll(merged).count() == 0
        and merged.exceptAll(direct).count() == 0
    )
    sk.unpersist()
    du.unpersist()
    base.unpersist()
    return out


def bench_bucketed_selfjoin(spark):
    """Bucketed-write path feeding the engine's own heavy self-join
    entries (VERDICT r9 #7 — the reference's M3 bucket-join lesson,
    bucket-joins-in-iceberg.ipynb, end-to-end): write lineitem bucketed
    on l_orderkey and events bucketed on user_id ONCE, then run
    part_pair_edges' grouped pair builder and the funnel self-join from
    the bucketed layout vs the raw parquet. The bucketed reads elide
    the grouping / join exchanges (pairs 2→1, funnel 5→2 — asserted in
    tests/test_writers.py); this section records what that buys in
    wall-clock at sf0.1 and what the one-time bucketed write costs —
    at 100 TB the write is amortized over every downstream join on the
    key, which is exactly the lakehouse argument for bucketing."""
    import shutil
    import tempfile
    import uuid

    from data_engineering_bootcamp_spark.operators.funnel import (
        funnel_conversion,
    )
    from data_engineering_bootcamp_spark.operators.graph import (
        build_edges_pairs_grouped,
    )
    from data_engineering_bootcamp_spark.plans.introspect import (
        count_exchanges as n_exchanges,
    )
    from data_engineering_bootcamp_spark.sources.writers import write_bucketed

    out: dict = {}
    tag = uuid.uuid4().hex[:6]
    d = tempfile.mkdtemp(prefix="bktsj_")
    t_li, t_ev = f"sb_li_{tag}", f"sb_ev_{tag}"
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    ev = load_table(spark, SF_DIR, "events").where(
        F.col("user_id").isNotNull()
    )
    try:
        t0 = time.perf_counter()
        write_bucketed(li, t_li, "l_orderkey", num_buckets=32,
                       path=f"{d}/li")
        out["lineitem_bucketed_write_sec"] = round(
            time.perf_counter() - t0, 3
        )
        t0 = time.perf_counter()
        write_bucketed(ev, t_ev, "user_id", num_buckets=32, path=f"{d}/ev")
        out["events_bucketed_write_sec"] = round(time.perf_counter() - t0, 3)

        raw_pairs = build_edges_pairs_grouped(li, "l_orderkey", "l_partkey")
        bkt_pairs = build_edges_pairs_grouped(
            spark.table(t_li), "l_orderkey", "l_partkey"
        )
        out["pairs_raw_exchanges"] = n_exchanges(raw_pairs)
        out["pairs_bucketed_exchanges"] = n_exchanges(bkt_pairs)
        out["pairs_raw_sec"] = timed(raw_pairs)
        out["pairs_bucketed_sec"] = timed(bkt_pairs)

        raw_funnel = funnel_conversion(ev, "view", "purchase")
        bkt_funnel = funnel_conversion(spark.table(t_ev), "view", "purchase")
        out["funnel_raw_exchanges"] = n_exchanges(raw_funnel)
        out["funnel_bucketed_exchanges"] = n_exchanges(bkt_funnel)
        out["funnel_raw_sec"] = timed(raw_funnel)
        out["funnel_bucketed_sec"] = timed(bkt_funnel)

        out["results_match"] = sorted(
            map(tuple, bkt_funnel.collect())
        ) == sorted(map(tuple, raw_funnel.collect()))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_li}")
        spark.sql(f"DROP TABLE IF EXISTS {t_ev}")
        shutil.rmtree(d, ignore_errors=True)
    return out


def bench_bpe_train(spark) -> dict:
    """BPE merge training scale claim: per-step cost is a pair-count
    shuffle over the |vocab|-row DISTINCT word table, so wall scales
    with VOCABULARY size and is INVARIANT to corpus mass (word
    frequencies are weights in the sum, not rows). Three synthetic
    word tables built entirely in-Spark (base-36 id words, Zipf-ish
    integer freqs): 50k vocab, 200k vocab (4x rows), and 50k vocab
    with every freq x100 (100x corpus mass, same rows). 4 training
    steps each, one warmup run absorbs JVM/codegen (the pagerank
    section's protocol)."""
    from pyspark.sql import functions as F

    from data_engineering_bootcamp_spark.operators.bpe import (
        bpe_train_merges,
    )

    def vocab(n: int, freq_mult: int = 1):
        return spark.range(n).select(
            F.conv(F.col("id").cast("string"), 10, 36).alias("token"),
            (
                F.lit(1_000_000 * freq_mult) / (F.col("id") + 1)
            ).cast("long").alias("freq"),
        ).where(F.length("token") >= 2)

    out: dict = {}
    bpe_train_merges(vocab(5_000), iterations=1).count()  # warmup
    for key, n, mult in (
        ("vocab50k", 50_000, 1),
        ("vocab200k", 200_000, 1),
        ("vocab50k_freq100x", 50_000, 100),
    ):
        t0 = time.perf_counter()
        rules = bpe_train_merges(vocab(n, mult), iterations=4)
        n_rules = rules.count()
        out[f"{key}_sec"] = round(time.perf_counter() - t0, 3)
        out[f"{key}_rules"] = n_rules
    out["vocab_4x_wall_ratio"] = round(
        out["vocab200k_sec"] / out["vocab50k_sec"], 2
    )
    out["corpus_100x_wall_ratio"] = round(
        out["vocab50k_freq100x_sec"] / out["vocab50k_sec"], 2
    )
    return out


def bench_ann_ivfpq(spark) -> dict:
    """The four ANN paths face off on a 10x corpus (20k vectors, 50
    queries): exact brute force, PQ-ADC (bandwidth win, linear code
    scan), IVF (selectivity win, raw-float buckets), and IVFPQ (both —
    the r14 composition). Wall AND recall@5 against the exact answer
    for each; the quantizers train on their bounded md5 sample (the
    FAISS train() contract — the corpus here exceeds sample_size, the
    exact condition the gate-scale fixtures never exercise)."""
    from data_engineering_bootcamp_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        cosine_topk_ivfpq,
        cosine_topk_pq,
    )

    mult = 10
    n_queries = 50
    corpus = build_vectors(spark, mult).persist()
    n_corpus = corpus.count()
    queries = corpus.where(F.col("vec_id") % (n_corpus // n_queries) == 0)
    out: dict = {"corpus_vectors": n_corpus, "queries": n_queries, "dim": 64}

    t0 = time.perf_counter()
    exact_rows = cosine_topk_bruteforce(corpus, queries, k=5).collect()
    out["bruteforce_blas_sec"] = round(time.perf_counter() - t0, 3)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact_rows}
    out["topk_pairs"] = len(exact_set)

    def run(tag, fn):
        release_all_but(corpus)
        t0 = time.perf_counter()
        rows = fn().collect()
        out[f"{tag}_sec"] = round(time.perf_counter() - t0, 3)
        got = {(r.query_id, r.neighbor_id) for r in rows}
        out[f"{tag}_recall_at_5"] = round(
            len(exact_set & got) / max(len(exact_set), 1), 4
        )

    run("pq_adc", lambda: cosine_topk_pq(
        corpus, queries, k=5, m=16, n_codes=16, n_candidates=100))
    run("ivf", lambda: cosine_topk_ivf(
        corpus, queries, k=5, n_centroids=64, n_probe=8))
    run("ivfpq", lambda: cosine_topk_ivfpq(
        corpus, queries, k=5, n_centroids=64, n_probe=8, m=16,
        n_codes=16, n_candidates=100))
    corpus.unpersist()
    release_caches()
    return out


SECTIONS = {
    "skew_join": bench_skew,
    "ngram_neardup": bench_ngram,
    "connected_components": bench_cc,
    "dup_span": bench_dup_span,
    "ann_q8": bench_ann_q8,
    "semantic_dedup": bench_semantic_dedup,
    "streaming": bench_streaming,
    "bloom_semijoin": bench_bloom,
    "pagerank": bench_pagerank,
    "merge_laws": bench_merge_laws,
    "fuzzy_join": bench_fuzzy,
    "interval_sweep": bench_interval_sweep,
    "kmv_overlap": bench_kmv,
    "bucketed_selfjoin": bench_bucketed_selfjoin,
    "bpe_train": bench_bpe_train,
    "ann_ivfpq": bench_ann_ivfpq,
}


def main() -> None:
    """Usage: scale_bench.py [out_json] [section ...]

    With section names, runs ONLY those sections and MERGES them into
    an existing out_json (so late-round additions don't force a full
    re-run of every face-off); with none, runs everything fresh."""
    args = sys.argv[1:]
    out_path = args[0] if args else "BENCH_scale_r06.json"
    if out_path in SECTIONS:
        # `scale_bench.py pagerank` would otherwise write the whole
        # suite to a file literally named "pagerank" — the out_json
        # argument is positional and comes first
        raise SystemExit(
            f"first argument {out_path!r} is a section name — pass the "
            "output json path first: scale_bench.py OUT.json [section ...]"
        )
    only = args[1:]
    unknown = [s for s in only if s not in SECTIONS]
    if unknown:
        raise SystemExit(f"unknown sections {unknown}; have {list(SECTIONS)}")
    spark = get_spark(app_name="scale-bench")
    spark.sparkContext.setLogLevel("ERROR")
    result: dict = {"sf_dir": SF_DIR}
    if only:
        try:
            with open(out_path) as fh:
                result = json.load(fh)
        except FileNotFoundError:
            pass
    for name, fn in SECTIONS.items():
        if only and name not in only:
            continue
        result[name] = fn(spark)
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps(result, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
