"""Property-graph extraction (SURVEY §1.1 graph model, §2.3 J9, §2.5 W3).

Vertices: dedup entities via row_number, pack attributes into a
MAP<STRING,STRING> properties column — the reference's own Spark port
does exactly this (M3/src/jobs/team_vertex_job.py:5-18; SQL original
M1/lecture-lab/team_vertices.sql:1-16).

Edges: pair-generation self-join with `id_a < id_b` dedup
(M1/lecture-lab/player_player_edges.sql:22-26) — equi key on the shared
group, residual inequality, so Catalyst keeps it a hash join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import dedup_keep_first


def build_vertices(
    df: DataFrame,
    id_col: str,
    vertex_type: str,
    properties: dict[str, Column],
    order_by: list[Column] | None = None,
) -> DataFrame:
    """(identifier, type, properties MAP) with W3 dedup on id_col."""
    deduped = dedup_keep_first(
        df, [id_col], order_by or [F.col(id_col)]
    )
    kv: list[Column] = []
    for k, v in properties.items():
        kv.append(F.lit(k))
        kv.append(v.cast("string"))
    return deduped.select(
        F.col(id_col).cast("string").alias("identifier"),
        F.lit(vertex_type).alias("type"),
        F.create_map(*kv).alias("properties"),
    )


def build_edges_pairs_grouped(
    df: DataFrame,
    group_col: str,
    id_col: str,
    count_col: str = "n_groups",
) -> DataFrame:
    """J9 scale path: co-occurrence pair counts WITHOUT a self-join.

    collect_set per group (one shuffle), expand each group's sorted id
    array into its pairs with array expressions, explode, count (second
    shuffle). The join form shuffles the deduped rows twice more and
    materializes |group|² join rows; this form never builds a row wider
    than one group's id array. Groups are bounded (parts per order,
    players per game), so the per-row arrays stay small.
    """
    groups = df.groupBy(group_col).agg(
        F.array_sort(F.collect_set(F.col(id_col))).alias("_ids")
    )
    ids = F.col("_ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.greatest(F.size(ids) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        groups.select(F.explode(pairs).alias("_p"))
        .groupBy(
            F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias(count_col))
    )


def _pagerank_step(
    adj: DataFrame, ranks: DataFrame, damping_pct: int, base: int
) -> DataFrame:
    """ONE PageRank iteration — the hot path `pagerank` loops over,
    extracted so the plan-posture suite can pin its physical shape
    (tests/test_plan_posture.py::test_pagerank_iteration_plan_shape).
    Over a generic adjacency each iteration plans TWO Exchanges (the
    adjacency re-partitioned on the join key `s`, and the destination
    groupBy); over `pagerank()`'s CO-PARTITIONED checkpointed
    adjacency (hash-partitioned on `s`, r16) the adjacency Exchange is
    elided and only ONE remains — the groupBy, whose sum is map-side
    partial before its Exchange. The incoming `ranks` (the previous
    step's groupBy output, hash-partitioned on `v`) reaches the join
    already partitioned via alias propagation (`v` AS `s`)."""
    contribs = adj.join(
        ranks.select(F.col("v").alias("s"), "r"), "s"
    ).select(F.col("d").alias("v"), F.expr("r DIV deg").alias("c"))
    return (
        contribs.groupBy("v")
        .agg(F.sum("c").alias("csum"))
        .select(
            "v",
            (
                F.lit(base) + F.expr(f"({damping_pct} * csum) DIV 100")
            ).cast("long").alias("r"),
        )
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000,
    checkpoint_every: int = 1,
    assume_canonical: bool = False,
) -> DataFrame:
    """Fixed-point integer PageRank over an undirected pair list.

    Ranks are BIGINTs in units of 1/`scale` (1.0 == `scale`), and every
    step is integer arithmetic — `r DIV deg` per contribution, then
    `base + (damping_pct * Σcontrib) DIV 100` — so a fixed iteration
    count replays BIT-IDENTICALLY in any engine (the DuckDB oracle
    unrolls the same recurrence); no float drift, no tolerance window.
    The graph is symmetrized, so every vertex has degree >= 1 and
    receives >= 1 contribution per round (no dangling-mass term).

    Scale shape: per iteration ONE join (ranks onto the degree-annotated
    adjacency; the adjacency is hash-partitioned on the source key ONCE
    — repartition + eager localCheckpoint, whose captured partitioning
    every iteration's join reuses, so the 2|E|-row side is never
    re-shuffled) and ONE groupBy-sum keyed by destination — the
    canonical distributed-PageRank plan.
    `checkpoint_every` trades job count against plan depth: the
    default (1) eagerly localCheckpoints each round (same lineage
    discipline as `clustering.connected_components` — constant plan
    depth, mandatory for open-ended iteration counts), while 0 lets
    a BOUNDED loop compose lazily into ONE nested plan executed as a
    single job — removing the per-round job launches and block-manager
    writes (measured: ~35% wall-clock at 5 iterations on a small graph
    where launch overhead dominates; the win shrinks as the
    per-iteration shuffle grows to dominate); the final ranks are
    still checkpointed once so the persisted adjacency can be
    released safely. A NEGATIVE value returns the fully-lazy composed
    plan with no checkpoint anywhere — introspection/posture-test
    cadence only (executing it recomputes the unpersisted adjacency
    per iteration). Nothing driver-sided at any vertex count.
    `scale` bounds: per-vertex sums stay far below 2^63
    for any realistic graph (a vertex's rank is bounded by its
    neighborhood's mass, not corpus mass); shrink `scale` if modeling
    degenerate hub graphs beyond ~10^11 vertices.

    Returns (vertex_id, rank_scaled BIGINT) for every vertex with at
    least one edge.
    """
    if not (0 < damping_pct < 100):
        raise ValueError(f"damping_pct must be in (0, 100), got {damping_pct}")
    if int(iterations) < 1:
        # ADVICE r11: with iterations=0 the seed ranks project only `s`,
        # column pruning drops the guarded `deg` expression, and the
        # canonical-contract raise_error would never fire — violating
        # input would return uniform ranks silently. Zero iterations is
        # also just the uniform seed, never a meaningful ask; fail fast
        # rather than weaken the guard's "always enforced" claim.
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if assume_canonical:
        # caller guarantees unique (src < dst) loop-free pairs —
        # `build_edges_pairs_grouped` emits exactly that (sorted-array
        # slices + pair groupBy), so re-canonicalizing would spend one
        # full edge-relation shuffle proving a no-op (measured: the
        # redundant distinct cost as much as the entire edge build at
        # sf0.1, 1.5 s of a 7 s query).
        #
        # Boundary guard (ADVICE r9, reworked VERDICT r10 #1): the
        # contract is still ENFORCED with no extra shuffle — but the
        # enforcement must stay OFF the edge-scan hot expression. The
        # r10 form wrapped the projected src key in a raise_error CASE,
        # and that one change cost ~1.4× on the whole query (idle sf0.1
        # 7.07→9.95 s; 1.2M-edge fixture iter10 10.7→14.2 s) — the
        # raise branch is paid per edge row inside the projection that
        # feeds every downstream stage. This form instead computes a
        # 0/1 violation flag per edge (a plain int CASE, codegen-
        # friendly), folds max(_viol) into the degree aggregate that
        # already scans the symmetrized edges, and puts the raise_error
        # CASE on the |V|-row post-aggregate projection of `deg` — the
        # column every iteration divides by — so a mirrored pair,
        # self-loop, or NULL-sided edge still fails the job loudly at
        # the adjacency's first materialization (always before any
        # result row can return), at per-VERTEX-once cost instead of
        # per-edge-every-scan.
        #
        # NULL handling (ADVICE r10): a NULL-sided edge is as much a
        # contract violation as a mirrored pair, so it now RAISES
        # rather than silently dropping — the flag rides both union
        # directions, so a NULL on either side poisons the non-NULL
        # side's vertex group (the NULL-keyed group itself is dropped
        # by the inner adjacency join). The one invisible case is an
        # edge with BOTH ids NULL: it has no incident vertex to poison
        # and is effectively dropped. Duplicate canonical pairs remain
        # the one violation this cannot see — detecting those requires
        # exactly the distinct shuffle the flag exists to skip, so that
        # part of the contract (unique pairs) remains caller-owned.
        s_col, d_col = F.col(src_col), F.col(dst_col)
        viol = F.when(
            s_col.isNotNull() & d_col.isNotNull() & (s_col < d_col),
            F.lit(0),
        ).otherwise(F.lit(1))
        e = edges.select(
            s_col.alias("s"), d_col.alias("d"), viol.alias("_viol")
        )
        sym = e.union(
            e.select(
                F.col("d").alias("s"),
                F.col("s").alias("d"),
                F.col("_viol"),
            )
        )
        deg = sym.groupBy("s").agg(
            F.count(F.lit(1)).alias("deg"), F.max("_viol").alias("_v")
        )
        deg = deg.select(
            "s",
            F.when(F.col("_v") == 0, F.col("deg"))
            .otherwise(
                F.raise_error(
                    F.lit(
                        f"pagerank(assume_canonical=True): edge violates "
                        f"{src_col} < {dst_col} — input is not canonical "
                        "(mirrored pair, self-loop, or NULL id); pass "
                        "assume_canonical=False to canonicalize"
                    )
                ).cast("long")
            )
            .alias("deg"),
        )
        sym = sym.select("s", "d")
    else:
        # canonicalize BEFORE distinct: a caller passing both (a,b) and
        # (b,a) for the same undirected edge must not double every
        # degree (and thereby shift the integer contributions);
        # self-loops are dropped — they only feed a vertex's rank back
        # to itself (NULL-sided pairs collapse to s == d via
        # least/greatest NULL-skipping and are filtered with them)
        e = (
            edges.select(
                F.least(F.col(src_col), F.col(dst_col)).alias("s"),
                F.greatest(F.col(src_col), F.col(dst_col)).alias("d"),
            )
            .where(F.col("s") != F.col("d"))
            .distinct()
        )
        sym = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    # adjacency annotated with the source's degree ONCE, outside the
    # loop — each iteration then needs only the rank join.
    #
    # r16 optimization (guide §2.4 — remove shuffles outright): the
    # adjacency is REPARTITIONED ON THE JOIN KEY `s`, persisted, and
    # MATERIALIZED EAGERLY before the loop. Two effects, both measured
    # at sf0.1 (5 iterations, 1.76M-row adjacency):
    #
    # - The InMemoryTableScan over the cached repartition exposes
    #   hashpartitioning(s), so EVERY iteration's rank join reuses it
    #   — the per-iteration adjacency Exchange (the big side: 2|E|
    #   rows, re-shuffled once per iteration = 5x here) disappears
    #   from the plan; only the |V|-row rank relation and the
    #   map-side-partial groupBy output move per iteration. (A
    #   localCheckpoint would NOT do this: under AQE the captured
    #   LogicalRDD partitioning is lost — verified against this
    #   session's Spark.) Partition count comes from the session's
    #   spark.sql.shuffle.partitions (repartition with no explicit N),
    #   so the layout stays scale-adaptive, not tuned to local core
    #   counts.
    # - Eager materialization removes a cache-population RACE the
    #   lazy persist had under the composed (checkpoint_every=0) plan:
    #   several stages of the single nested job raced to populate the
    #   un-materialized cache and sporadically recomputed the whole
    #   edge build (observed: identical-code reps swinging 6.6-33 s;
    #   eager + co-partitioned runs 4.6-6.5 s with the worst rep at
    #   the host's noise floor).
    #
    # The introspection cadence (checkpoint_every < 0) keeps the lazy
    # un-partitioned persist: its contract is a composed plan whose
    # per-iteration Exchanges posture tests can count.
    every = int(checkpoint_every)
    if every >= 0:
        adj = sym.join(deg, "s").repartition("s").persist()
        adj.count()
    else:
        adj = sym.join(deg, "s").persist()
    ranks = deg.select(
        F.col("s").alias("v"), F.lit(int(scale)).cast("long").alias("r")
    )
    if every > 0:
        ranks = ranks.localCheckpoint(eager=True)
    base = ((100 - damping_pct) * scale) // 100
    try:
        for it in range(int(iterations)):
            ranks = _pagerank_step(adj, ranks, damping_pct, base)
            if every > 0 and (it + 1) % every == 0:
                ranks = ranks.localCheckpoint(eager=True)
        if every == 0 or (every > 0 and int(iterations) % every != 0):
            # one eager materialization before adj.unpersist(): the
            # lazily-composed plan references the persisted adjacency,
            # which must not be released while the plan is unexecuted.
            # every < 0 is the INTROSPECTION cadence (VERDICT r12 #3):
            # return the fully-lazy composed plan with NO checkpoint at
            # all, so posture tests can count Exchanges per iteration;
            # the unpersist below means executing that plan recomputes
            # the adjacency per reference — introspection/benchmarking
            # only, never the production path.
            ranks = ranks.localCheckpoint(eager=True)
    finally:
        adj.unpersist()
    return ranks.select(
        F.col("v").alias("vertex_id"), F.col("r").alias("rank_scaled")
    )


def build_edges_pairs(
    df: DataFrame,
    group_col: str,
    id_col: str,
    edge_type: str,
    agg_properties: dict[str, Column],
) -> DataFrame:
    """J9: undirected co-occurrence edges between ids sharing group_col.

    `agg_properties` are aggregate expressions evaluated per (a, b) pair
    over their shared groups (e.g. F.count(...) for co-occurrence count).

    Input (group, id) rows are deduplicated first, so a member listed
    twice in one group contributes ONE co-occurrence — the same
    set-semantics `build_edges_pairs_grouped` gets from collect_set;
    the two forms stay count-identical on any input.
    """
    src = df.select(
        F.col(group_col).alias("g"), F.col(id_col).alias("_id")
    ).dropDuplicates(["g", "_id"])
    left = src.select(F.col("g"), F.col("_id").alias("id_a")).alias("a")
    right = src.select(F.col("g"), F.col("_id").alias("id_b")).alias("b")
    pairs = left.join(
        right,
        (F.col("a.g") == F.col("b.g")) & (F.col("a.id_a") < F.col("b.id_b")),
    )
    agg = [v.alias(k) for k, v in agg_properties.items()]
    grouped = pairs.groupBy("id_a", "id_b").agg(*agg)
    kv: list[Column] = []
    for k in agg_properties:
        kv.append(F.lit(k))
        kv.append(F.col(k).cast("string"))
    return grouped.select(
        F.col("id_a").cast("string").alias("subject_identifier"),
        F.lit(edge_type).alias("edge_type"),
        F.col("id_b").cast("string").alias("object_identifier"),
        F.create_map(*kv).alias("properties"),
    )
