"""Near-duplicate cluster resolution: connected components over a pair
list, and cluster-based retention (keep one document per component).

Large-scale dedup pipelines don't drop pairs — they drop documents:
pairwise near-dup output (minhash_lsh / ngram-jaccard / simhash) is
resolved into connected components and one representative per component
is retained. This operator closes that loop.

Two algorithms (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC 2014):

- ``minlabel`` (default): iterative min-label propagation, the
  Pregel-style baseline. One shuffle per iteration over the EDGE list,
  iterations bounded by the component DIAMETER — typically 2-4 for
  near-dup graphs (cliques and short chains).
- ``star``: the alternating large-star/small-star algorithm —
  O(log n) rounds regardless of diameter (each round halves star
  heights), at ~3 shuffles per round. The right choice when the pair
  graph may contain long chains (transitive-similarity graphs), where
  min-label degrades to diameter-many sequential shuffle rounds.

Determinism: labels are ids, min is total, the result is independent of
execution order and of the algorithm — a DuckDB recursive-CTE oracle
replays it exactly, and a hypothesis property test pins
minlabel ≡ star on random graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _edge_frame(pairs: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Validated, canonicalized (a, b) long edge list.

    Raises TypeError on a non-integral id column: casting a string/UUID
    id with ``cast('long')`` would null out EVERY edge and silently
    report all-singletons — a silent correctness failure for a generic
    public operator (round-4 advice). Integral ids are the documented
    contract (cluster_id = MIN id needs a total order the oracle can
    replay); hash non-integral ids to int64 upstream (xxhash64) or
    densely re-key before calling.
    """
    for c in (src_col, dst_col):
        dt = pairs.schema[c].dataType
        if not isinstance(dt, _INTEGRAL):
            raise TypeError(
                f"connected_components: id column {c!r} has non-integral "
                f"type {dt.simpleString()}; integral ids are required "
                "(hash or re-key string ids upstream)"
            )
    return pairs.select(
        F.col(src_col).cast("long").alias("a"),
        F.col(dst_col).cast("long").alias("b"),
    ).where(F.col("a").isNotNull() & F.col("b").isNotNull())


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_id_a",
    dst_col: str = "doc_id_b",
    max_iter: int = 25,
    algorithm: str = "minlabel",
) -> DataFrame:
    """Resolve an undirected pair list into components.

    Returns (doc_id, cluster_id) for every vertex that appears in at
    least one pair, where cluster_id is the MINIMUM vertex id of the
    component. ``algorithm`` picks the iteration scheme (see module
    docstring); both produce identical output. Raises if max_iter
    passes without convergence — for ``minlabel`` that means a
    component diameter above the bound (switch to ``algorithm='star'``
    rather than raising the bound).
    """
    if algorithm not in ("minlabel", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    # Materialize the (possibly expensive) pair computation EXACTLY
    # once: union branches do NOT share subexpressions, so without this
    # checkpoint each derived branch below (swap, self-loops, vertex
    # set, label init) would re-execute the caller's pair join.
    edges = (
        _edge_frame(pairs, src_col, dst_col)
        .distinct()
        .localCheckpoint(eager=True)
    )
    if algorithm == "star":
        return _cc_star(edges, max_iter)
    return _cc_minlabel(edges, max_iter)


def _cc_minlabel(edges: DataFrame, max_iter: int) -> DataFrame:
    # undirected + self-loops: both edge directions plus (v, v), so ONE
    # join+groupBy per iteration computes min(self label, neighbor
    # labels) — no separate self-preserving left join needed
    verts = (
        edges.select("a").union(edges.select(F.col("b").alias("a"))).distinct()
    )
    # r17 optimization (guide §2.4 — remove shuffles outright; the
    # pagerank co-partition pattern, r16): the symmetric edge list is
    # the BIG side of every iteration's label join, and it is loop
    # INVARIANT — so repartition it ON THE JOIN KEY `b`, persist, and
    # materialize EAGERLY before the loop. The InMemoryTableScan then
    # exposes hashpartitioning(b) and each iteration's join re-shuffles
    # only the |V|-row label relation, not the (2|E| + |V|)-row edge
    # relation: one edge Exchange TOTAL instead of one per iteration
    # (pinned by tests/test_plan_posture.py's CC slope test). Partition
    # count comes from spark.sql.shuffle.partitions — scale-adaptive,
    # not a local tune. Eager count also removes the cache-population
    # race (parallel stages of one composed job racing to fill a lazy
    # cache recompute the whole edge build — the r16 pagerank finding).
    sym = (
        edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .union(verts.select("a", F.col("a").alias("b")))
        .repartition("b")
        .persist()
    )
    sym.count()
    # Lineage discipline (the textbook iterative-Spark requirement):
    # every iteration's labels are eagerly localCheckpoint'ed, which
    # materializes them AND truncates lineage — otherwise plan depth
    # (and planning time) grows per iteration and any downstream action
    # replays the whole iteration chain.
    #
    # Convergence: labels are per-vertex MONOTONE NON-INCREASING, so
    # the label total strictly decreases until the fixpoint — one
    # decimal-sum scalar per iteration (decimal: an id sum over a
    # 100 TB corpus overflows int64), no diff join, no change counter.
    labels = (
        verts.select(F.col("a").alias("doc_id"), F.col("a").alias("cluster_id"))
        .localCheckpoint(eager=True)
    )
    prev_total = None
    try:
        for _ in range(max_iter):
            labels = (
                sym.join(
                    labels.select(
                        F.col("doc_id").alias("b"),
                        F.col("cluster_id").alias("nb_label"),
                    ),
                    "b",
                )
                .groupBy(F.col("a").alias("doc_id"))
                .agg(F.min("nb_label").alias("cluster_id"))
                .localCheckpoint(eager=True)
            )
            total = labels.agg(
                F.sum(F.col("cluster_id").cast("decimal(38,0)"))
            ).first()[0]
            if total == prev_total:
                return labels
            prev_total = total
        raise RuntimeError(
            f"connected_components(minlabel) did not converge in "
            f"{max_iter} iterations — long-diameter graph; use "
            "algorithm='star'"
        )
    finally:
        sym.unpersist()


def _cc_star(edges: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star (Kiveris et al. 2014, alg. 3).

    Edge set is kept CANONICAL — (a, b) with a > b — between rounds.
    Per round:

    - large-star: per vertex u over the symmetric neighborhood,
      m = min({u} ∪ Γ(u)); emit (v, m) for v ∈ Γ(u), v > u. Strictly
      larger neighbors re-attach to the local minimum.
    - small-star: per vertex u over smaller neighbors only (canonical
      orientation groups them), m = min({u} ∪ Γ≤(u)); emit (v, m) for
      v ∈ Γ≤(u) ∪ {u} \\ {m}.

    Star heights roughly halve each round → O(log n) rounds on any
    graph shape, ~3 shuffles per round (two groupBy-min, one distinct).
    Convergence: the canonical edge multiset is a fixpoint; detected
    with a one-aggregate signature (count + decimal sums + decimal
    hash-sum — no diff join), then CONFIRMED exactly with a single
    exceptAll before returning, so a signature collision can only cost
    an extra iteration, never a wrong answer.
    """
    # canonical: a > b, self-loops dropped (self-paired vertices are
    # singletons; callers recover them via the verts/left-join pattern
    # in neardup_retention)
    cur = (
        edges.where(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def signature(e: DataFrame):
        return tuple(
            e.agg(
                F.count(F.lit(1)),
                F.sum(F.col("a").cast("decimal(38,0)")),
                F.sum(F.col("b").cast("decimal(38,0)")),
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
            ).first()
        )

    prev_sig = signature(cur)
    for _ in range(max_iter):
        sym = cur.union(
            cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        lmin = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least("a", "mb").alias("m"))
        )
        # large-star: (v, m) for strictly larger neighbors v of u;
        # m ≤ u < v so output is already canonical and self-loop-free
        large = (
            sym.where(F.col("b") > F.col("a"))
            .join(lmin, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        # small-star over the canonical orientation of large's output:
        # neighbors ≤ u are exactly the canonical (u, b) edges
        lcan = large.distinct().localCheckpoint(eager=True)
        smin = lcan.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            lcan.join(smin, "a")
            .where(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(smin.select("a", F.col("m").alias("b")))
        )
        nxt = small.distinct().localCheckpoint(eager=True)
        sig = signature(nxt)
        if sig == prev_sig:
            # exact confirmation — a colliding signature must not
            # terminate early with a non-fixpoint edge set
            if nxt.exceptAll(cur).isEmpty() and cur.exceptAll(nxt).isEmpty():
                cur = nxt
                break
        prev_sig = sig
        cur = nxt
    else:
        raise RuntimeError(
            f"connected_components(star) did not converge in "
            f"{max_iter} rounds"
        )
    # fixpoint is a star forest: every non-minimum vertex carries one
    # canonical edge to its component minimum
    starred = (
        cur.select(F.col("a").alias("doc_id"), F.col("b").alias("cluster_id"))
        .union(
            cur.select(
                F.col("b").alias("doc_id"), F.col("b").alias("cluster_id")
            )
        )
        .distinct()
    )
    # vertices whose EVERY pair was a self-loop never enter the
    # canonical edge set; they are their own singleton cluster. The
    # anti join matters: a self-looped vertex that also has real edges
    # already carries its component label above, and a blind union
    # would hand it a second, conflicting (v, v) row.
    loop_only = (
        edges.where(F.col("a") == F.col("b"))
        .select(F.col("a").alias("doc_id"))
        .distinct()
        .join(starred.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
    )
    return starred.union(loop_only)


def neardup_retention(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_id_a",
    dst_col: str = "doc_id_b",
    algorithm: str = "minlabel",
) -> DataFrame:
    """Cluster-based dedup retention: every document with its component
    and keep-flag. Docs in no pair are their own singleton cluster and
    kept; in a multi-doc component only the minimum id survives.

    Output: (doc_id, cluster_id, keep).
    """
    comp = connected_components(pairs, src_col, dst_col, algorithm=algorithm)
    if not isinstance(docs.schema[id_col].dataType, _INTEGRAL):
        raise TypeError(
            f"neardup_retention: id column {id_col!r} has non-integral type "
            f"{docs.schema[id_col].dataType.simpleString()}"
        )
    ids = docs.select(F.col(id_col).cast("long").alias("doc_id"))
    return (
        ids.join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                "cluster_id"
            ),
        )
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
    )
