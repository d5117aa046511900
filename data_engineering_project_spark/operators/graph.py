"""Graph algorithms over edge DataFrames.

Beyond-reference capability: the reference has no graph operators, but
a training-data pipeline ranks entities (domains, documents, parts) by
link structure all the time. Everything here is expressed as joins +
aggregations over a directed edge list — the shape that scales: each
iteration is one join keyed on ``src`` and one aggregate keyed on
``dst``, so pre-partitioning the edge list by ``src`` (bucketed layout)
makes every iteration reuse the same exchange. No driver-side adjacency
structures; iteration count is a bounded driver loop over lazy plans
(same pattern as :func:`..similarity.kmeans_fit`).

Connected components (a driver union-find for small edge lists,
min-label propagation above that) lives in
``operators.dedup.dup_clusters``; this module holds the value-iteration
family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iterations: int = 2,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    materialize: bool = True,
) -> DataFrame:
    """PageRank over a directed edge list → (node, deg, pr).

    ``edges`` must be distinct (src, dst) rows; nodes are whatever
    appears as a source (for an undirected graph, feed both
    directions, then every node has out-degree ≥ 1 and there are no
    dangling sinks to redistribute). Init is uniform 1/N; each
    iteration is

        pr'(i) = (1-d)/N + d * Σ_{j→i} pr(j)/deg(j)

    computed as one src-keyed join (contributions) + one dst-keyed
    aggregate — two exchanges per iteration, both on node ids, never
    on payloads. The rank frame is localCheckpoint'ed per round to
    stop lineage growth, exactly like kmeans_fit's centroid loop.
    """
    # Materialize the edge list once: it feeds the degree count, the
    # node init, and EVERY iteration's contribution join — left lazy, a
    # derived edge list (e.g. the order-keyed co-purchase self-join)
    # would be recomputed per iteration (measured 15s -> 6s at sf0.1).
    # At lake scale this is the "write edges once, bucketed by src"
    # step. Pass materialize=False when the input is already
    # checkpointed/persisted (or a trivial view of such a frame) to
    # skip a same-sized second copy.
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if materialize:
        e = e.localCheckpoint(eager=True)
    # Checkpoint the degree table: it seeds pr AND rides inside the
    # rank lineage of every iteration — left lazy, each iteration's
    # subtree re-aggregates the full edge list (3 redundant edge
    # shuffles for 2 iterations, measured in the executed plan).
    # |nodes| rows — small relative to edges, and exactly the frame a
    # lake deployment would persist next to the bucketed edge list.
    deg = (
        e.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .localCheckpoint(eager=True)
    )
    # ONE scalar to the driver (control-plane, same pattern as
    # kmeans_fit's centroid collect): inlining 1/N as a literal keeps
    # the repeated n-count aggregate + nested-loop broadcast out of
    # every iteration's plan.
    n_nodes = deg.count()
    if n_nodes == 0:
        # Empty edge frame: 1/N below would raise ZeroDivisionError at
        # plan-build time; the in-engine contract is an empty result.
        return deg.select(
            F.col("src").alias("node"),
            "deg",
            F.lit(0.0).alias("pr"),
        )
    pr = deg.select(
        F.col("src").alias("node"),
        "deg",
        F.lit(1.0 / n_nodes).alias("pr"),
    )
    # Checkpoint the rank frame PERIODICALLY, not per iteration: each
    # eager checkpoint forces a separate job, and for a handful of
    # iterations Catalyst happily plans the whole chain as one job
    # (measured 3.5s -> 1.6s for 2 iterations at 2.4M edges). Every
    # 4th round the lineage is cut so long runs can't grow unbounded
    # plans.
    for i in range(iterations):
        contribs = (
            e.join(pr, e["src"] == pr["node"])
            .select(F.col("dst"), (F.col("pr") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        pr = pr.join(contribs, pr["node"] == contribs["dst"], "left").select(
            "node",
            "deg",
            (
                F.lit((1.0 - damping) / n_nodes)
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("pr"),
        )
        if (i + 1) % 4 == 0 and (i + 1) < iterations:
            pr = pr.localCheckpoint(eager=True)
    return pr.select("node", "deg", "pr")


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    materialize: bool = True,
) -> DataFrame:
    """Per-node triangle participation over an UNDIRECTED edge list →
    (node, n_triangles).

    ``edges`` must be distinct canonical pairs (src < dst, one row per
    undirected edge). The classic two-join enumeration: wedges
    (a<b, b<c) joined against the closing edge (a, c) finds each
    triangle exactly once with a < b < c, then each corner credits its
    three nodes. All three joins are equi-joins on node-id pairs —
    shuffle keys are ids, never adjacency lists, so skew follows node
    degree and the ordering predicate (a<b<c) already cuts the wedge
    space by 6× versus naive enumeration. At lake scale the standard
    refinement is degree-ordering (orient each edge from the
    lower-degree endpoint) which bounds wedge fan-out by O(sqrt(|E|));
    the canonical-id orientation here is the same plan shape.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # The edge list feeds all three join arms — left lazy, a derived
    # edge list (e.g. the order-keyed co-purchase self-join) would be
    # recomputed three times (measured 4.8s -> ~2s at sf0.1). Same
    # materialize-once contract as pagerank above.
    if materialize:
        e = e.localCheckpoint(eager=True)
    ab = e
    bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = e.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    tri = (
        ab.join(bc, "b")
        .join(
            ac,
            (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")),
        )
        .select("a", "b", "c")
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count("*").cast("long").alias("n_triangles")
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """The k-core of an undirected graph: iteratively peel nodes with
    degree < k until a fixpoint → (node, core_degree). The standard
    "dense-enough subgraph" filter before community detection or
    embedding training (nodes outside the 2-core contribute almost no
    structure).

    ``edges`` must contain BOTH directions of each undirected edge.
    Each round is one degree aggregate + one semi-join filter — both
    keyed on node ids; the edge frame is localCheckpoint'ed per round
    so the peeling loop doesn't stack plans. Converges in at most
    O(peeling depth) rounds (bounded by ``max_iter``).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = e.localCheckpoint(eager=True)
    for _ in range(max_iter):
        deg = e.groupBy("src").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        n_before = e.count()
        e2 = (
            e.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
        if e2.count() == n_before:
            e = e2
            break
        e = e2
    return (
        e.groupBy("src")
        .agg(F.count("*").cast("long").alias("core_degree"))
        .select(F.col("src").alias("node"), "core_degree")
    )
