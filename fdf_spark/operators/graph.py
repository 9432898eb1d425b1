"""Iterative graph operators: connected components over a pair relation.

The near-dup pair relation (fdf_spark.llm.dedup) is an undirected
graph; "which documents are the same?" is its transitive closure. The
keep-smallest-partner rule (near_dedup) is correct for removal, but
cluster analytics (size histograms, canonical representative picking)
need the actual components.

Algorithm: min-label propagation — every node repeatedly adopts the
smallest label among itself and its neighbors; converges in
O(graph diameter) rounds. Dup clusters are near-cliques (diameter ≤ ~3),
so this beats the O(log n)-round large-star/small-star contraction in
practice there while staying three joins of plain DataFrame code; for
long-chain graphs swap in star contraction with the same signature.

Scale notes (100 TB):
- each round is ONE shuffle of the (node, label) relation on `node`
  plus an edge join; edges are shuffled on the same key every round,
  so a pre-`repartition(node)` of both inputs keeps the exchange
  reused across iterations.
- `localCheckpoint(eager)` after every round truncates the lineage —
  without it the plan doubles per iteration and Catalyst analysis
  time, not the data, becomes the bottleneck.
- convergence is detected with a count of changed labels (one cheap
  action per round on the already-materialized checkpoint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    node_col: str | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Components of the undirected ``(id_a, id_b)`` edge graph → (node, component).

    ``component`` is the smallest node id reachable from ``node``
    (including itself). ``nodes`` (optional) adds isolated vertices,
    which come back as singleton components.
    """
    # materialize the DIRECTED edge relation ONCE, then derive both
    # directions and the vertex set from the blocks — the old shape
    # checkpointed the union (each branch re-ran the upstream pair
    # pipeline: 2 runs) and built labels from the raw plan (a 3rd run).
    # Profiled on q154, those duplicate runs were ~half the
    # operator's wall time; values identical either way.
    directed = edges.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).localCheckpoint(eager=True)
    und = directed.unionByName(
        directed.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    vertices = und.select(F.col("u").alias("node"))
    if nodes is not None:
        vertices = vertices.unionByName(
            nodes.select(F.col(node_col or "id_a").alias("node"))
        )
    labels = vertices.distinct().withColumn("component", F.col("node"))
    labels = labels.localCheckpoint(eager=True)

    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("component").alias("nmin"))
        )
        updated = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["u"], "left")
            .select(
                "node",
                F.least(F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))).alias("component"),
                (F.col("nmin") < F.col("component")).alias("__changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = updated.filter(F.col("__changed")).count()
        labels = updated.drop("__changed")
        if changed == 0:
            break
    else:
        # loop exhausted max_iter with labels still moving: returning now
        # would silently split components (diameter > max_iter chains)
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            f"({changed} labels still changing); raise max_iter"
        )
    return labels


def pagerank(
    edges: DataFrame,
    iters: int = 3,
) -> DataFrame:
    """Fixed-point PageRank of ``(src, dst)`` edges, damping 0.85 →
    (node, rank) after ``iters`` power iterations (simplified variant: dangling mass is dropped, the
    common formulation when ranking within a link graph whose dangling
    tail is cut).

    Determinism contract (what makes an unrolled SQL oracle replay it
    bit-for-bit): per-edge contributions round at 9 dp, the
    per-node sum accumulates in exact decimal, and the new rank rounds
    again — a fixed-point iteration, so the result is independent of
    partition count and join order on ANY engine.

    Scale shape: each iteration is one hash join of the rank relation
    to edges on ``src`` (both sides shuffled on the same key — a
    pre-``repartition`` on src keeps the edge exchange reused across
    iterations, same note as connected_components) plus one aggregate
    on ``dst``; the rank relation is |V| rows, edges |E|. A
    ``localCheckpoint`` per round would truncate lineage for large
    ``iters``; at the default 3 the plan stays shallow without it.
    """
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # base/init built from Column arithmetic (Spark HALF_UP round), not
    # Python round() (banker's) — the SQL oracle does the same division
    base = F.round((F.lit(1.0) - F.lit(0.85)) / F.lit(float(n)), 9)
    acc = "decimal(25,9)"
    ranks = nodes.withColumn("rank", F.round(F.lit(1.0) / F.lit(float(n)), 9))
    for _ in range(iters):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.round(F.col("rank") / F.col("deg"), 9).alias("c"),
            )
        )
        summed = contrib.groupBy("node").agg(
            F.sum(F.col("c").cast(acc)).cast("double").alias("s")
        )
        ranks = nodes.join(summed, "node", "left").select(
            "node",
            F.round(base + F.lit(0.85) * F.coalesce(F.col("s"), F.lit(0.0)), 9).alias(
                "rank"
            ),
        )
    return ranks
