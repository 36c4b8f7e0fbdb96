"""Connected components for dedup clustering.

The near-dup operators (dedup.py) emit PAIRS; a dedup pipeline needs
CLUSTERS — every document labeled with the canonical (minimum) doc_id
of its duplicate group, so one pass keeps exactly one representative
per group.

Algorithm: iterative min-label propagation. Each round, every node
takes the minimum label among itself and its neighbors; converges in
O(component diameter) rounds. Near-dup graphs at 100 TB have millions
of tiny components (diameter 2-4), so 3-5 rounds in practice.

Scale mechanics, per round:
- only edge-touched nodes iterate (isolated docs — the vast majority
  of a 100 TB corpus — are their own component by definition and are
  restored by one final left join against the collision-sized label
  table), so per-round volume is bounded by 2x the pair count, not
  the corpus;
- one shuffle (edges join labels on src, min-aggregated on dst);
- `localCheckpoint` truncates the lineage, preventing the plan from
  doubling each iteration (the classic iterative-Spark failure mode);
- convergence check = count of changed labels (an action per round —
  the loop is driver-coordinated but all data stays distributed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import half_up
from ..session import scoped_shuffle_partitions


def connected_components(nodes: DataFrame, edges: DataFrame,
                         id_col: str = "id",
                         src_col: str = "src", dst_col: str = "dst",
                         max_iterations: int = 50) -> DataFrame:
    """Label every node with the minimum node id reachable from it.

    nodes: one column `id_col`; edges: (`src_col`, `dst_col`),
    undirected (either orientation accepted). Returns (id, component).

    `nodes` must be DETERMINISTIC (re-evaluation yields the same id
    set): since r12 it is deliberately NOT checkpointed (corpus-sized
    at scale, never iterated) and is evaluated twice — the label seed
    and the final isolated-node restore. A nondeterministic frame
    (sample(), rand-derived ids) would give the two evaluations
    different node sets and corrupt the restore; pin such a frame with
    localCheckpoint() before calling (r12 ADVICE).
    """
    if max_iterations < 1:
        # with a zero/negative budget the for/else below would raise
        # referencing `changed` before any round ran (NameError) —
        # refuse up front instead (r12 ADVICE fix)
        raise ValueError(
            f"max_iterations must be >= 1, got {max_iterations}")
    # symmetric edge list: propagate along both directions
    fwd = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    # r12 job-fold: LAZY checkpoint — the pre-loop `sym.count()` below
    # is the first action and materializes it in the same job, so the
    # edge table costs one job instead of two (eager ckpt + count).
    # Every loop round then reads the persisted RDD as before.
    sym = fwd.union(
        edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
    ).distinct().localCheckpoint(eager=False)

    # r12: do NOT checkpoint the node list — it is corpus-sized at
    # scale and never iterated (its two consumers, the touched
    # semi-join and the final isolated-node restore, are each one
    # narrow pruned scan). Eagerly materializing it cost a job per
    # call here and would pin the whole corpus id set in block-manager
    # storage at 100 TB.
    all_nodes = nodes.select(F.col(id_col).alias("id"))
    # iterate ONLY over nodes incident to an edge: isolated nodes are
    # their own component by definition and would otherwise ride along
    # every round's join unchanged. On a 100 TB near-dup graph the
    # edge-touched set is a small fraction of the corpus (2|pairs|
    # bound), so this shrinks each round's label shuffle from |V| to
    # that fraction; the isolated majority is restored by one final
    # left join (the comp table is collision-sized, typically
    # broadcast). Semantics are unchanged: labels only ever propagate
    # along edges, so an isolated node can never change its label.
    touched = sym.select("src").distinct().withColumnRenamed("src", "id")
    # lazy: round 1 references `labels` twice (neighbor_min + the
    # outer join); the persist-on-first-compute semantics of a lazy
    # localCheckpoint still guarantee a single computation, without
    # spending a dedicated materialization job before the loop.
    labels = (all_nodes.join(touched, "id", "leftsemi")
              .select("id", F.col("id").alias("component"))
              .localCheckpoint(eager=False))

    # size the loop's shuffles to the ITERATED volume, not the session
    # default (the _run_to_memory principle): each round moves only
    # edge/label-table rows, and at gate/bench scale 32-partition
    # shuffles x 3 ops x ~10 rounds is pure task-scheduling overhead
    # (measured 4.2 -> 3.5 s on dedup_clusters at sf0.1). At real
    # scale the edge count drives the clamp back up to the session
    # setting, so a cluster run is unaffected.
    spark = nodes.sparkSession
    n_edges = sym.count()  # materializes the lazy edge checkpoint
    with scoped_shuffle_partitions(spark, n_edges):
        for _ in range(max_iterations):
            # neighbor minimum: per dst, the smallest label among srcs
            neighbor_min = (
                sym.join(labels, sym.src == labels.id)
                .groupBy("dst")
                .agg(F.min("component").alias("nbr_min"))
            )
            # carry the previous label through the checkpoint so the
            # convergence count is a narrow scan of materialized data —
            # NOT a second shuffle join per round
            stepped = (
                labels.join(neighbor_min, labels.id == neighbor_min.dst,
                            "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("nbr_min"), F.col("component")),
                    ).alias("component"),
                    F.col("component").alias("prev"),
                )
                # r12 job-fold: lazy — the convergence count below is
                # the first action over this round's labels and
                # materializes the checkpoint WHILE computing the
                # count, collapsing the round's two jobs (eager ckpt
                # + count over materialized rows) into one. The next
                # round's two references then read the persisted RDD.
                .localCheckpoint(eager=False)
            )
            changed = stepped.filter(
                F.col("component") != F.col("prev")).count()
            labels = stepped.select("id", "component")
            if changed == 0:
                break
        else:
            # min-label propagation needs <= component diameter
            # rounds; exhausting the budget with labels still moving
            # means some component (e.g. a long chain of borderline
            # near-dup pairs) is SPLIT across labels. Returning those
            # silently-wrong clusters is worse than failing (r11
            # review find) — fail loudly with the knob to turn.
            raise RuntimeError(
                f"connected_components: labels still changing after "
                f"{max_iterations} iterations ({changed} moved last "
                "round) — a component's diameter exceeds the budget; "
                "raise max_iterations")
    # isolated nodes (never iterated) are their own component
    return (all_nodes.join(labels, "id", "left")
            .select("id", F.coalesce("component", F.col("id"))
                    .alias("component")))


def dedup_clusters(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Cluster documents by near-duplicate pairs: (doc_id, cluster_id)
    where cluster_id = min doc_id in the component. Singleton docs are
    their own cluster. `pairs` must have (doc_a, doc_b) columns — e.g.
    dedup.minhash_lsh_pairs output."""
    nodes = docs.select(F.col(id_col).alias("id"))
    comp = connected_components(
        nodes, pairs.select("doc_a", "doc_b"),
        src_col="doc_a", dst_col="doc_b")
    return comp.select(F.col("id").alias(id_col),
                       F.col("component").alias("cluster_id"))

def pagerank(nodes: DataFrame, edges: DataFrame,
             id_col: str = "id",
             src_col: str = "src", dst_col: str = "dst",
             damping: float = 0.85, iterations: int = 10,
             checkpoint_every: int = 2) -> DataFrame:
    """Power-iteration PageRank on an undirected graph (edges are
    symmetrized), ranks normalized to sum 1. Returns (id, rank).

    Per round, same scale mechanics as connected_components: ONE
    shuffle joins ranks to edges on src and sums contributions
    (rank/degree) per dst — partial aggregation combines map-side, so
    shuffled bytes are O(distinct dst), not O(edges). Dangling mass
    (isolated nodes keep no out-edges after symmetrization) is
    collected as a driver-side scalar per round and redistributed
    uniformly — the standard correction that keeps the distribution
    stochastic. `localCheckpoint` truncates lineage every
    `checkpoint_every` rounds (plan depth between checkpoints stays
    bounded at that many joins); total work is O(iterations x edges),
    each round embarrassingly shuffle-parallel."""
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}")
    fwd = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    sym = fwd.union(
        edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
    ).distinct().localCheckpoint(eager=False)  # n_edges count below
    # materializes the edge pin — one pre-loop job folded (r12)
    degrees = sym.groupBy("src").agg(F.count("*").alias("deg"))

    n = nodes.count()
    ranks = nodes.select(
        F.col(id_col).alias("id"), F.lit(1.0 / n).alias("rank")
        # lazy: round 1's eager rank checkpoint materializes the
        # initial ranks as part of its own job (r12 job-fold)
    ).localCheckpoint(eager=False)

    # size the rounds' shuffles to the iterated volume (same scoped
    # clamp as connected_components — at real scale it returns the
    # session setting)
    spark = nodes.sparkSession
    n_edges = sym.count()
    with scoped_shuffle_partitions(spark, n_edges):
        for it in range(iterations):
            # r12: `with_deg` feeds the dangling-mass broadcast AND
            # the contribs join — unpinned, the ranks x degrees join
            # executed twice per round (the broadcast build is a
            # separate subtree, so exchange reuse never applies). A
            # lazy pin of the 3-narrow-column rows runs it once; the
            # broadcast job materializes it, the main job reads it.
            with_deg = (ranks.join(degrees, ranks.id == degrees.src,
                                   "left").select("id", "rank", "deg")
                        .localCheckpoint(eager=False))
            # dangling mass as a broadcast 1-row aggregate, NOT a driver
            # .first(): keeps each checkpointed round ONE job instead
            # of two — the scalar never leaves the cluster
            dangling = (
                with_deg.filter(F.col("deg").isNull())
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")))
            contribs = (
                sym.join(with_deg, sym.src == with_deg.id)
                .groupBy("dst")
                .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
            )
            ranks = (
                nodes.select(F.col(id_col).alias("id"))
                .join(contribs, F.col("id") == F.col("dst"), "left")
                .crossJoin(F.broadcast(dangling))
                .select("id",
                        (F.lit((1.0 - damping) / n)
                         + F.lit(damping) * F.col("dm") / n
                         + F.lit(damping)
                         * F.coalesce(F.col("contrib"), F.lit(0.0))
                         ).alias("rank"))
            )
            # r12: eager-checkpoint the ranks every `checkpoint_every`
            # rounds (and always on the last) instead of every round —
            # an intermediate round compiles into the next round's
            # checkpoint job, so its dangling broadcast builds nested
            # exactly ONE level deep (bounded; never the whole
            # iteration). Measured at 10x, interleaved best-of-3:
            # 24.8 -> 21.6 s settled (first pair 79.9 -> 33.2),
            # 246 -> 226 jobs, rank sets bit-identical every round
            # (SCALE.md r12 "pagerank checkpoint thinning").
            # r13 job-fold: the LAST checkpoint is lazy — the caller's
            # first action materializes it (one fewer Spark job per
            # call; the final round's dangling broadcast builds exactly
            # one level inside that action, the same bound as an
            # intermediate thinned round). Intermediate cadence
            # checkpoints stay eager: they are what bounds broadcast
            # nesting across rounds. 10x interleaved A/B: ranks
            # bit-identical, time neutral-to-better, 1 job saved;
            # checkpoint_every=3 was probed at 10x in the same A/B and
            # read inside the noise band both ways vs 2 — rejected,
            # the r12-measured default 2 stands (OPTIMIZATION_r13.md).
            last = it == iterations - 1
            if it % checkpoint_every == checkpoint_every - 1 or last:
                ranks = ranks.localCheckpoint(eager=not last)
    return ranks

def triangle_stats(nodes: DataFrame, edges: DataFrame,
                   id_col: str = "id",
                   src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Per-node triangle count, degree, and local clustering
    coefficient on an undirected graph — the standard graph-quality
    diagnostic for a near-dup pair graph (a duplicate CLUSTER shows up
    as a dense triangle-rich blob; a chain of borderline matches has
    none, and merging it is usually a mistake).

    Algorithm: canonical-orientation wedge join. Edges are normalized
    to a < b; wedges (a<b<c sharing the low endpoint a) come from one
    self-join of the oriented edge list; a second equi-join against
    the oriented edges closes each wedge into a triangle (a,b,c)
    exactly once. Each triangle then credits all three corners via an
    explode + groupBy.

    Scale: two shuffles on edge endpoints plus the final per-node
    aggregate; no row ever carries text or payload. Worst case is a
    high-degree hub h: oriented wedge counts are sum_a C(d+(a), 2)
    where d+ is the OUT-degree under the a<b orientation — bounded for
    any single node by its id rank, and further reducible by the
    classic degree-ordering refinement (orient low-degree -> high-
    degree), which this keeps out of the hash-checked path so the
    oracle stays pure SQL. Returns (id, degree, triangles, lcc) with
    lcc = 2T / (d(d-1)) rounded to 6 dp (0.0 when d < 2).
    """
    e = (edges.select(F.least(src_col, dst_col).alias("a"),
                      F.greatest(src_col, dst_col).alias("b"))
         .filter(F.col("a") != F.col("b")).distinct()
         # lazy pin: the caller's single action materializes the
         # oriented edge list once; all four consumers (wedge sides,
         # triangle close, degree) read the persisted blocks —
         # no dedicated checkpoint job (r12 job-fold)
         .localCheckpoint(eager=False))
    # wedges b < c around low endpoint a, closed by edge (b, c)
    e1 = e.select(F.col("a"), F.col("b").alias("x"))
    e2 = e.select(F.col("a"), F.col("b").alias("y"))
    wedges = (e1.join(e2, "a").filter(F.col("x") < F.col("y")))
    tri = wedges.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"])
    credits = (tri.select(F.explode(F.array("a", "x", "y")).alias("id"))
               .groupBy("id").agg(F.count("*").alias("triangles")))
    deg = (e.select(F.explode(F.array("a", "b")).alias("id"))
           .groupBy("id").agg(F.count("*").alias("degree")))
    return (nodes.select(F.col(id_col).alias("id"))
            .join(deg, "id", "left").join(credits, "id", "left")
            .select(
                "id",
                F.coalesce("degree", F.lit(0)).cast("bigint").alias("degree"),
                F.coalesce("triangles", F.lit(0)).cast("bigint")
                 .alias("triangles"),
                F.when(F.coalesce("degree", F.lit(0)) >= 2,
                       half_up(2 * F.coalesce("triangles", F.lit(0)),
                               F.col("degree") * (F.col("degree") - 1)))
                 .otherwise(F.lit(0.0)).alias("lcc")))
