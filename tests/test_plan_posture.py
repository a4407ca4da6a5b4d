"""100 TB plan-posture regression tests over the WHOLE catalog.

PLANS.md is a point-in-time audit; these assertions make its two
load-bearing invariants permanent:

1. **Zero row-at-a-time Python anywhere** (`BatchEvalPython`): every
   Python stage must be Arrow-batched (`ArrowEvalPython` /
   `MapInPandas` / `FlatMapGroupsInPandas`). A single row-at-a-time
   UDF in a hot path is a 10-100x regression at scale.
2. **No unbounded nested-loop joins**: `BroadcastNestedLoopJoin` is
   allowed only where one side is a bounded (sketch/bound-row)
   relation or the entry is an explicitly-labeled all-pairs baseline
   twin, and `CartesianProduct` (the non-broadcast cross) never.

The check explains, it does not execute — entries whose plan-build
itself executes jobs (streaming seams, write-path round-trips,
iterative checkpointed loops, the 31-day replays) carry the "eager" tag
in plans/catalog.py's entry table and are skipped, as tools/plan_audit.py
skips them; their posture is covered by dedicated tests (streaming suite,
writer exchange-count asserts, the scale bench sections).
"""

from __future__ import annotations

import hashlib
import io
import json
import re
from contextlib import redirect_stdout

import pytest

from data_engineering_bootcamp_spark.plans.catalog import QUERIES, tagged

SF_DIR = "/root/testdata/sf0.001"

# entries whose plan build runs no jobs, in table order: the ones explained
EAGER = set(tagged("eager"))
EXPLAINED = [n for n in QUERIES if n not in EAGER]

# BNLJ allowance (distinct plan nodes): every
# entry here joins a BOUNDED side by construction — scalar bound rows
# (quantile/histogram thresholds, sketch unions of k<=256 rows) or is
# the labeled exact-baseline twin whose all-pairs form IS the point.
BNLJ_ALLOWED = {
    "hll_user_cardinality": 1,      # 1-row global-union register bound
    "kmv_set_ops": 2,               # k=256-row sketch set algebra bounds
    "bloom_prune_stats": 1,         # 1-row bloom-bitmap bound relation
    "distinct_sketch_users": 1,     # 1-row register union
    "quantile_band_filter": 1,      # 1-row percentile-bounds relation
    "histogram_quantiles": 1,       # 1-row bin-edge bound relation
    "table_profile_approx": 2,      # 1-row exact-agg x 1-row approx-agg
                                    # recombination (the r12 Expand/HLL
                                    # split), one per profiled table
                                    # (orders + events) — all sides
                                    # single rows by construction
    "ann_pq_adc": 1,                # bounded query side by contract:
                                    # the ADC scan joins the narrow
                                    # codes relation to the broadcast
                                    # (<=10-row) query distance tables
    "bm25_top_docs": 1,             # 1-row global constants (T, dfs)
                                    # cross-joined back to per-doc rows
                                    # — bounded by construction
    "hybrid_rrf_topk": 1,           # composes bm25_top_docs, inherits
                                    # its 1-row constants cross join;
                                    # the fusion itself is equi-only
    "vocab_coverage_curve": 1,      # 1-row total-tokens constant
                                    # cross-joined to the 3 k-cuts —
                                    # bounded by construction
    "doc_quality_classifier": 1,    # 1-row class-totals constants
                                    # cross-joined to the 512-row
                                    # bucket spine (the NB model dim)
                                    # — bounded by construction
    "classifier_pr_eval": 1,        # composes doc_quality_classifier,
                                    # inherits its 1-row constants
                                    # cross join; the eval itself is
                                    # one complete aggregate + inline
    "doc_lang_id_learned": 2,       # 1-row seed-total constants into
                                    # the (<=64-row) prior relation +
                                    # the folded 1-row prior constants
                                    # into the per-doc scores — both
                                    # bounded by construction
    "lang_id_confusion": 2,         # composes doc_lang_id_learned,
                                    # inherits its two 1-row constants
                                    # cross joins; the matrix itself
                                    # is one equi groupBy + window
    "corpus_curation_pipeline_learned": 2,  # composes
                                    # doc_quality_classifier, whose
                                    # 1-row class-totals constants
                                    # cross join appears TWICE in the
                                    # lazy plan (the persisted `kept`
                                    # relation feeds both gram-pair
                                    # join sides, duplicating the
                                    # upstream classifier subtree);
                                    # both instances are the same
                                    # bounded 1-row shape — the
                                    # pipeline's own joins are all
                                    # equi/anti
    "ngram_jaccard_allpairs": 1,    # labeled exact all-pairs baseline
    "embedding_neardup_allpairs": 1,  # labeled exact all-pairs baseline
    "ann_cosine_topk": 1,           # labeled brute-force ANN baseline
}


def _node_count(op: str, plan: str) -> int:
    """Distinct plan NODES named `op` in a formatted explain.

    Structural count (ADVICE r11): formatted mode prints every node as
    "(<id>) <OpName>" — once in the tree and once in the details
    section — always with its node id, so distinct ids count distinct
    nodes. The old ceil-halved findall assumed exactly two prints per
    node and under-counted two genuinely distinct nodes printed once
    each.

    Section-aware (ADVICE r12): when an executed AQE query prints BOTH
    "== Initial Plan ==" and "== Final Plan ==", the two sections are
    numbered INDEPENDENTLY, so two genuinely distinct nodes can share
    an id across sections and a flat distinct-id count would collapse
    them. Count distinct ids WITHIN each section and take the max —
    the final plan (what actually executes) dominates, and an
    unexecuted single-section explain degenerates to the old count."""
    sections = re.split(r"== (?:Initial|Final) Plan ==", plan)
    return max(
        len(set(re.findall(rf"\((\d+)\)\s+{op}\b", s))) for s in sections
    )


@pytest.fixture(scope="module")
def plans(spark):
    """Formatted plan per non-skipped entry, built once for the module."""
    out = {}
    for name in EXPLAINED:
        df = QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out[name] = buf.getvalue()
    # dedup-family signature caches persist during plan builds; drop
    # them so this module leaves the session flat
    from data_engineering_bootcamp_spark.operators.dedup import (
        release_caches,
    )

    release_caches()
    return out


def test_no_row_at_a_time_python_anywhere(plans):
    bad = {n: p.count("BatchEvalPython") for n, p in plans.items()
           if "BatchEvalPython" in p}
    assert not bad, (
        f"row-at-a-time Python UDF stages found (Arrow-batch them): {bad}"
    )


def test_no_cartesian_product_anywhere(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, f"non-broadcast cross joins found: {bad}"


def test_bnlj_only_on_bounded_or_baseline_entries(plans):
    over = {}
    for name, plan in plans.items():
        n = _node_count("BroadcastNestedLoopJoin", plan)
        if n > BNLJ_ALLOWED.get(name, 0):
            over[name] = (n, BNLJ_ALLOWED.get(name, 0))
    assert not over, (
        "BroadcastNestedLoopJoin beyond the bounded/baseline allowance "
        f"(got vs allowed): {over}"
    )


def test_filters_reach_the_scan(plans):
    """Predicate pushdown on the three load-bearing shapes PLANS.md
    verifies by hand: the date filter (P3), the NOT NULL entity filter
    (P4), and the per-branch event_type equality (P7) must all appear
    in the parquet scan's PushedFilters — a filter evaluated above the
    scan reads 100 TB to keep 1 TB."""
    cases = {
        "pricing_summary": r"PushedFilters: \[[^\]]*LessThanOrEqual\(l_shipdate",
        "users_cumulated": r"PushedFilters: \[[^\]]*IsNotNull\(user_id\)",
        "funnel_conversion": r"PushedFilters: \[[^\]]*EqualTo\(event_type,view\)",
    }
    missing = {
        n: pat for n, pat in cases.items()
        if not re.search(pat, plans[n])
    }
    assert not missing, f"filters not pushed to scan: {missing}"


def test_scans_are_column_pruned(plans):
    """Column pruning on wide-table consumers: a scan that reads every
    column for a narrow projection ships the whole corpus. Bounds are
    the audited PLANS.md widths (small slack for optimizer drift —
    the failure mode guarded is reading ~ALL columns)."""
    # (entry, max allowed width of its WIDEST scan)
    caps = {
        "pricing_summary": 8,    # 7 of lineitem's 16 columns
        "users_cumulated": 3,    # 2 of events' 6
        "funnel_conversion": 4,  # 3 of events' 6, both branches
        "top_customers": 5,      # narrow slices of customer/orders
        "doc_dedup_exact": 4,    # doc_id/text(+source) of documents' 7
    }
    wide = {}
    for name, cap in caps.items():
        widths = [
            len(s.split(","))
            for s in re.findall(r"ReadSchema: struct<([^>]*)>", plans[name])
        ]
        if widths and max(widths) > cap:
            wide[name] = (max(widths), cap)
    assert not wide, f"scan wider than audited cap (got, cap): {wide}"


# sha256 of each fact the entry table must keep, recorded from the
# hand-kept name lists in bench.py, tools/ and this module that the table
# replaced
TABLE_DIGESTS = {
    "order": "85e65b674a2164e7d486f6917fa134eb9116c249dbaa4c1375ca981c8096f95b",
    "fns": "a9ff2a4122b9838278bbf058acf8ab652e96dbfcbf864dcb7fb2f5c4ae19e71b",
    "oracles": "0155273ed28266a773f35528d7b6a9984edcd3a6e6ee2f558cf12cac60215d0e",
    "headline": "f343e6cd3677a3b397aa160388faf73258ed241ec2d938a3a7018060b9e066f6",
    "pinned": "bac75e253ab18a01384b3cb76a306f4750dc5fb8362b9f5c7b2c5efd3b783303",
    "sf01": "f91184e654b00a97bc935334b0f5a6db98a1c6ea402cd1ce06cfc70b273734dc",
    "explained": "34a470e86e1b9f324c1dc9058a53777165d295daf27963e514fcdf9893df3343",
}


def test_entry_table_is_pinned():
    """The entry table yields the same driver contract and the same
    tagged sets as the lists it replaced: the queries() names in order,
    the function behind each name, every oracle, and the headline (112),
    pinned (56), sf0.1-feasible (139) and plan-explained (119) sets.
    Digests, not copies, so the test does not become an eighth list.
    metadata_scan's oracle names a per-process temp file; that path is
    masked before hashing."""
    import __spark_entry__ as entry

    from data_engineering_bootcamp_spark.plans.catalog_write import (
        _MANIFEST_CSV,
    )

    def digest(obj) -> str:
        return hashlib.sha256(json.dumps(obj).encode()).hexdigest()

    queries = entry.queries()
    names = list(queries)
    sf01 = sorted(set(names) - set(tagged("quadratic")))
    sizes = [len(tagged("headline")), len(tagged("pinned")), len(sf01),
             len(EXPLAINED)]
    assert len(names) == 151 and sizes == [112, 56, 139, 119], sizes
    got = {
        "order": digest(names),
        "fns": digest(sorted(
            (n, f.__module__ + "." + f.__qualname__)
            for n, f in queries.items()
        )),
        "oracles": digest(sorted(
            (n, sql.replace(_MANIFEST_CSV, "<manifest>"))
            for n, sql in entry.oracle_sql().items()
        )),
        "headline": digest(sorted(tagged("headline"))),
        "pinned": digest(sorted(tagged("pinned"))),
        "sf01": digest(sf01),
        "explained": digest(sorted(EXPLAINED)),
    }
    assert got == TABLE_DIGESTS


def test_pagerank_iteration_plan_shape(spark):
    """VERDICT r12 #3: pin `pagerank`'s per-iteration physical shape
    STRUCTURALLY, not in prose. Composed lazily over a checkpointed
    adjacency, each iteration must add exactly TWO Exchanges — the
    adjacency re-partitioned on the join key and the destination
    groupBy — with the rank re-shuffle elided by alias-propagated
    partitioning (the previous groupBy leaves ranks hash-partitioned
    on v = the next join's s) and the sum map-side partial. Any drift
    in `_pagerank_step` (an extra shuffle, a lost partial agg, a
    broadcast flip to BNLJ) changes the slope or the plan text and
    fails here, like every other shape regression."""
    from pyspark.sql import functions as F

    from data_engineering_bootcamp_spark.operators.graph import (
        _pagerank_step,
        pagerank,
    )
    from data_engineering_bootcamp_spark.plans.introspect import (
        count_exchanges,
        formatted_plan,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "id_a long, id_b long"
    )
    # step-body slope over a CHECKPOINTED adjacency and seed, so the
    # count isolates the per-iteration machinery from lineage noise
    e = (
        edges.select(
            F.least("id_a", "id_b").alias("s"),
            F.greatest("id_a", "id_b").alias("d"),
        )
        .where(F.col("s") != F.col("d"))
        .distinct()
    )
    sym = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    adj = sym.join(deg, "s").localCheckpoint(eager=True)
    seed = deg.select(
        F.col("s").alias("v"),
        F.lit(1_000_000).cast("long").alias("r"),
    ).localCheckpoint(eager=True)

    def compose(k):
        ranks = seed
        for _ in range(k):
            ranks = _pagerank_step(adj, ranks, 85, 150_000)
        return ranks

    n1, n2, n5 = (count_exchanges(compose(k)) for k in (1, 2, 5))
    # iteration 1 pays the one-time seed shuffle: adj + seed + groupBy
    assert n1 == 3, f"first iteration should plan 3 Exchanges, got {n1}"
    assert n2 - n1 == 2 and (n5 - n2) == 2 * 3, (
        f"per-iteration Exchange slope drifted: n1={n1} n2={n2} n5={n5} "
        "(expected exactly 2 per iteration: adjacency repartition + "
        "destination groupBy; rank side must stay alias-co-partitioned)"
    )
    plan5 = formatted_plan(compose(5))
    assert "BroadcastNestedLoopJoin" not in plan5
    assert "CartesianProduct" not in plan5

    # r16 optimization pin: pagerank() co-partitions the PERSISTED
    # adjacency on the join key `s` (repartition("s").persist() +
    # eager count — the InMemoryTableScan exposes the hash
    # partitioning; a localCheckpoint would lose it under AQE), so
    # over THAT adjacency each iteration must plan only ONE top-level
    # Exchange (the destination groupBy) — the 2|E|-row adjacency side
    # is never re-shuffled. Counted OUTSIDE cached-plan subtrees
    # (introspect.count_top_level_exchanges), with broadcast disabled
    # so the tiny fixture plans the same SMJ shape as real data.
    from data_engineering_bootcamp_spark.plans.introspect import (
        count_top_level_exchanges as _top_level_exchanges,
    )

    bcast_before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        adj_cp = sym.join(deg, "s").repartition("s").persist()
        adj_cp.count()
        try:

            def compose_cp(k):
                ranks = seed
                for _ in range(k):
                    ranks = _pagerank_step(adj_cp, ranks, 85, 150_000)
                return ranks

            c1, c2, c5 = (_top_level_exchanges(compose_cp(k)) for k in (1, 2, 5))
            assert c2 - c1 == 1 and c5 - c2 == 3, (
                f"co-partitioned adjacency no longer elides its "
                f"per-iteration Exchange: c1={c1} c2={c2} c5={c5} "
                "(expected slope 1/iteration: destination groupBy only)"
            )
        finally:
            adj_cp.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast_before)

    # the public function wires that step: the fully-lazy introspection
    # cadence (checkpoint_every=-1) must show the same linear growth
    # through pagerank() itself, loop and all
    p2 = pagerank(edges, iterations=2, checkpoint_every=-1)
    p5 = pagerank(edges, iterations=5, checkpoint_every=-1)
    d2, d5 = count_exchanges(p2), count_exchanges(p5)
    per_iter = (d5 - d2) / 3
    assert d5 > d2 and (d5 - d2) % 3 == 0, (d2, d5)
    # whole-plan slope includes the persisted adjacency's lineage
    # re-counted per reference (runtime executes it once — persist);
    # what matters is that it is LINEAR and the wiring stays intact
    assert count_exchanges(
        pagerank(edges, iterations=8, checkpoint_every=-1)
    ) == d5 + int(per_iter * 3), "exchange growth is not linear in depth"


def test_cc_minlabel_adjacency_copartition(spark):
    """r17 optimization pin (VERDICT r16 #4, the pagerank pattern):
    `_cc_minlabel` repartitions the loop-invariant symmetric edge list
    on the iteration join key `b` and persists it eagerly, so each
    iteration's join re-shuffles only the |V|-row label relation —
    the (2|E| + |V|)-row edge side contributes ZERO top-level
    Exchanges per iteration. Pinned by planning one iteration body
    over the co-partitioned adjacency vs a plain-persisted twin:
    the co-partitioned plan must show exactly one fewer top-level
    Exchange (the elided edge-side shuffle), with broadcast disabled
    so the tiny fixture plans the same SMJ shape as real data."""
    from pyspark.sql import functions as F

    from data_engineering_bootcamp_spark.plans.introspect import (
        count_top_level_exchanges,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 6)], "a long, b long"
    ).localCheckpoint(eager=True)
    verts = (
        edges.select("a").union(edges.select(F.col("b").alias("a"))).distinct()
    )
    sym_plan = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).union(verts.select("a", F.col("a").alias("b")))
    labels = verts.select(
        F.col("a").alias("doc_id"), F.col("a").alias("cluster_id")
    ).localCheckpoint(eager=True)

    def body(sym_df):
        return (
            sym_df.join(
                labels.select(
                    F.col("doc_id").alias("b"),
                    F.col("cluster_id").alias("nb_label"),
                ),
                "b",
            )
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("nb_label").alias("cluster_id"))
        )

    bcast_before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sym_cp = sym_plan.repartition("b").persist()
    sym_plain = sym_plan.persist()
    try:
        sym_cp.count()
        sym_plain.count()
        n_cp = count_top_level_exchanges(body(sym_cp))
        n_plain = count_top_level_exchanges(body(sym_plain))
        assert n_cp == n_plain - 1, (
            f"co-partitioned CC adjacency no longer elides its "
            f"iteration-join Exchange: co-partitioned={n_cp}, "
            f"plain={n_plain} (expected exactly one fewer)"
        )
        # absolute shape: label-side shuffle + destination groupBy only
        assert n_cp == 2, (
            f"CC iteration body over the co-partitioned adjacency "
            f"should plan 2 top-level Exchanges, got {n_cp}"
        )
    finally:
        sym_cp.unpersist()
        sym_plain.unpersist()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast_before)

    # and the public operator still resolves components correctly over
    # the co-partitioned loop (mixed: chain, pair, self-loop singleton)
    from data_engineering_bootcamp_spark.operators.clustering import (
        connected_components,
    )

    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(
            spark.createDataFrame(
                [(1, 2), (2, 3), (4, 5), (6, 6)], "doc_id_a long, doc_id_b long"
            )
        ).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)}


def test_ivfpq_probe_join_is_equi(plans):
    """VERDICT r13 #1: the IVFPQ candidate pass must be an EQUI hash
    join on bucket id — the whole point of composing IVF with PQ is
    converting `ann_pq_adc`'s query x codes nested-loop scan into a
    probed-bucket hash join. Zero BNLJ (the generic gate also enforces
    this — ann_ivfpq is deliberately NOT in the allowlist) and at
    least two BroadcastHashJoins: probes ⋈ codes on bucket, and the
    rerank's query-vector join."""
    plan = plans["ann_ivfpq"]
    assert _node_count("BroadcastNestedLoopJoin", plan) == 0, (
        "IVFPQ candidate pass regressed to a nested-loop scan"
    )
    assert _node_count("BroadcastHashJoin", plan) >= 2
