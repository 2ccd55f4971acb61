"""Connected components over a pair graph — near-dup pairs → dup clusters.

Pair emitters (`operators/dedup.py`, `operators/similarity.py`) produce
*edges*; acting on duplicates (keep one representative per group) needs the
transitive closure: components of the pair graph. The reference has no graph
surface at all — this is part of the training-data extension
(BASELINE.json north star).

Algorithm: iterative **min-label propagation** on DataFrames —
``label[u] ← min(label[u], min(label[neighbors(u)]))`` per round; converges
to the component-minimum id in ≤ diameter rounds. Near-dup components are
shallow (dups of a document are dups of each other), so few rounds suffice;
for adversarial long-chain graphs swap in the alternating large-star /
small-star variant (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14), which converges in O(log n) rounds with the same
join+min building blocks.

Scale notes: each round is one shuffle (join on node id) + one partial-agg
min; ``localCheckpoint(eager=True)`` truncates the lineage each round so the
plan doesn't grow with iteration count (the classic iterative-DataFrame
trap); the convergence probe is a count on the label table (O(nodes), not
O(edges)).
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from newyork_taxi_etl_spark.session import scoped_conf


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    loop_partitions: int | None = None,
    hops_per_round: int = 3,
) -> DataFrame:
    """(node, component) for every node incident to an edge.

    ``component`` is the minimum node id in the node's component — a
    deterministic canonical representative (the "keep this one" id of a
    dup cluster). Nodes with no edges are singletons and not emitted.

    Raises ``RuntimeError`` if labels are still changing after ``max_iter``
    rounds (component diameter > max_iter): returning silently
    non-converged labels would split a cluster and keep/drop the wrong
    documents downstream.

    ``loop_partitions`` scopes ``spark.sql.shuffle.partitions`` for the
    label-propagation rounds only (restored after): the loop tables are
    label-sized, not corpus-sized, so per-round fixed cost is dominated by
    task count. Size it to label cardinality / target partition rows — a
    near-dup label table is orders of magnitude smaller than the corpus
    even at 100 TB; results are partitioning-invariant either way
    (unit-tested).

    ``hops_per_round`` chains that many neighbor-min steps between
    checkpoint + convergence probe: a round's cost is dominated by its
    FIXED tail (lineage checkpoint, probe job, task scheduling at
    label-table scale — measured ~0.5 s/round on local[32] regardless of
    work), while an extra chained step is just one more small shuffle
    inside the same job. Information travels ``hops_per_round`` edge-hops
    per round, so a diameter-D component converges in ceil(D/hops) + 1
    rounds instead of D: the multiband near-dup graph at sf0.1
    (diameter ~13) measured 11 rounds / 5.9 s at 1 hop vs 5 rounds /
    2.9 s at 3 hops — same labels (monotone: any label change strictly
    decreases the probe sum, so an unchanged round-sum certifies a
    single-step fixpoint).
    """
    # Checkpoint the EDGE LIST first: the symmetrized table references
    # ``edges`` twice (forward + reversed), and Spark does not share the
    # subtree between union branches — an un-checkpointed (possibly
    # join-heavy) pair emitter would run twice here.
    edges = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=True)
    # Symmetrize AND add self-loops: with (u, u) present for every node,
    # "min over neighbors' labels INCLUDING my own" is ONE join + one
    # aggregate per round — no separate keep-my-label left join.
    nodes = edges.select("u").unionAll(
        edges.select(F.col("v").alias("u"))
    ).distinct()
    sym = (
        edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .unionAll(nodes.select("u", F.col("u").alias("v")))
        .localCheckpoint(eager=True)
    )

    labels = nodes.select(
        F.col("u").alias("node"), F.col("u").alias("comp")
    ).localCheckpoint(eager=True)
    # Convergence probe: labels are MONOTONE non-increasing toward the
    # component minimum, so the label-table sum strictly decreases until
    # the fixpoint — a one-column aggregate per round instead of a
    # changed-rows self-join (decimal so huge id sums can't overflow).
    def _total(lbl) -> object:
        return lbl.agg(
            F.sum(F.col("comp").cast("decimal(38,0)"))
        ).collect()[0][0]

    spark = edges.sparkSession
    scope = (
        scoped_conf(
            spark, "spark.sql.shuffle.partitions", str(loop_partitions)
        )
        if loop_partitions
        else contextlib.nullcontext()
    )
    prev_total = _total(labels)
    converged = prev_total is None  # no edges → nothing to propagate
    with scope:
        for _ in range(max_iter):
            if converged:
                break
            stepped = labels
            for _hop in range(max(1, hops_per_round)):
                stepped = (
                    sym.join(stepped, sym["v"] == stepped["node"])
                    .groupBy(F.col("u").alias("node"))
                    .agg(F.min("comp").alias("comp"))
                )
            # Pointer jump (path halving): comp ← comp(comp). Neighbor-min
            # alone needs O(diameter) rounds — a chain of near-dup pairs
            # pays one round per hop; composing each round with one
            # label-table self-join shortcuts label chains, converging in
            # O(log diameter) at one extra tiny join per round. Monotone
            # (labels only decrease toward the component min), and a
            # fixpoint of the composed operator is in particular a fixpoint
            # of neighbor-min, so the converged labels are exact.
            jump = stepped.select(
                F.col("node").alias("jn"), F.col("comp").alias("jc")
            )
            labels = (
                stepped.join(jump, stepped["comp"] == jump["jn"], "left")
                .select(
                    "node", F.coalesce("jc", F.col("comp")).alias("comp")
                )
                .localCheckpoint(eager=True)
            )
            total = _total(labels)
            converged = total == prev_total
            prev_total = total
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter or switch to the large-star/small-star "
            "O(log n) variant"
        )

    return labels.select("node", F.col("comp").alias("component"))


def component_sizes(components: DataFrame) -> DataFrame:
    """(component, size) per cluster, ordered — the dedup-report shape."""
    return (
        components.groupBy("component")
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy("component")
    )


def pagerank(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    iters: int = 3,
    damping: float = 0.85,
    inner_digits: int = 12,
) -> DataFrame:
    """(node, rank) after ``iters`` synchronous PageRank rounds.

    Each round is the two-shuffle DataFrame form: contributions =
    edges ⋈ ranks on src (rank/out_degree per edge), then one hash
    aggregate on dst; rank' = (1-d)/N + d * inbound_sum.
    ``localCheckpoint`` truncates lineage per round (same iterative-plan
    discipline as :func:`connected_components`). Degrees and N are
    computed once; the edge table is checkpointed so the (possibly
    join-heavy) edge construction runs once, not per round.

    Callers must pass a dangling-free graph (every node has out-degree
    ≥ 1 — e.g. a symmetrized edge set); this keeps the rank mass exact
    without a dangling-redistribution term and keeps the DuckDB oracle an
    unrolled CTE chain. Per-edge contributions and per-round ranks are
    rounded to ``inner_digits`` and the inbound sum runs through
    DECIMAL(38,12) (functions.exact.sum_exact) so every round is exact and
    order-independent in both engines — same determinism discipline as the
    Lloyd rounds in operators/clustering.py.
    """
    from newyork_taxi_etl_spark.functions.exact import sum_exact

    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = e.localCheckpoint(eager=True)
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    nodes = (
        e.select("u").unionAll(e.select(F.col("v").alias("u")))
        .distinct()
        .select(F.col("u").alias("node"))
    )
    n = nodes.count()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint(
        eager=True
    )
    for _ in range(iters):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "u"), "u")
            .join(deg, "u")
            .select(
                F.col("v").alias("node"),
                F.round(F.col("rank") / F.col("deg"), inner_digits).alias(
                    "c"
                ),
            )
            .groupBy("node")
            .agg(sum_exact("c").alias("inbound"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                F.round(
                    F.lit((1 - damping) / n)
                    + F.lit(damping) * F.coalesce(F.col("inbound"), F.lit(0.0)),
                    inner_digits,
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def triangle_count(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Global triangle count + graph summary over an oriented edge list.

    Input edges must already be deduplicated and oriented ``src < dst``
    (every pair emitter in this engine produces that form). A triangle
    (a < b < c) is counted exactly once as the edge pair (a,b)+(b,c)
    closed by (a,c): one self-equi-join on the shared middle vertex and
    one semi join for the closing edge — never an all-pairs stage. The
    orientation is the classic trick that makes the join's fan-out
    sum_v out_deg(v)^2 instead of deg^2; at real scale orient by
    (degree, id) instead of raw id so hub vertices land on the low-fanout
    side (Suri & Vassilvitskii, WWW'11 — same dataflow, different order
    key). Output: one row (n_nodes, n_edges, n_triangles).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = e.localCheckpoint(eager=True)  # edge miners are expensive; run once
    wedges = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .select(F.col("e1.u").alias("a"), F.col("e2.v").alias("c"))
    )
    tri = wedges.join(
        e.select(F.col("u").alias("a"), F.col("v").alias("c")), ["a", "c"], "semi"
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    nodes = (
        e.select("u")
        .unionAll(e.select(F.col("v").alias("u")))
        .agg(F.countDistinct("u").alias("n_nodes"))
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return nodes.crossJoin(n_edges).crossJoin(tri)


def bfs_hops(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_hops: int = 6,
) -> DataFrame:
    """(node, hop) minimum-hop distances from the graph's canonical
    source (the MINIMUM node id over the edge set) via frontier BFS.

    One symmetric edge frame, then at most ``max_hops`` rounds of
    frontier-join + anti-join-against-visited + distinct — per round ONE
    shuffle of the frontier (never the visited set; the anti join
    streams it map-side when small enough to broadcast). Lineage is
    truncated per round with ``localCheckpoint`` exactly as
    :func:`connected_components`; the loop exits early when a frontier
    drains. The source is derived with an aggregate, not a collect, so
    the operator stays a pure DataFrame program. Nodes beyond
    ``max_hops`` (or in other components) are absent from the output —
    callers account for them with an anti join.
    """
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    best = (
        edges.agg(F.least(F.min(src), F.min(dst)).alias("node"))
        .withColumn("hop", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = best
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(best.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(h))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        best = best.union(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return best
