"""Graph analytics over edge frames (companions to
operators/dedup.connected_components).

Edges live as (src, dst) DataFrames — here typically the LSH
candidate-pair graph, whose size is bounded by near-duplicate density
(edge-bounded, never corpus²). Both operators are join/aggregate
compositions with no driver-side iteration state beyond a fixed plan
depth, so they inherit Spark's shuffle/broadcast machinery and stay
oracle-checkable:

- ``pagerank_fixed``: K power-iteration steps UNROLLED into the plan —
  deterministic arithmetic (no convergence probe), which is exactly what
  makes it SQL-twin-checkable; K=O(10) covers ranking use-cases on
  short-diameter dedup graphs. Per step: one join edge⋈rank on src + one
  groupBy dst — the standard distributed PageRank shape.
- ``triangle_count``: ordered 3-clique join (a<b<c), the motif-counting
  baseline; candidate fan-out is bounded by per-node degree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["undirect", "pagerank_fixed", "triangle_count", "bfs_levels"]


def undirect(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) pairs → symmetric (src, dst) edge frame, self-loops
    and duplicates removed."""
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    return fwd.unionByName(rev).filter(F.col("src") != F.col("dst")).distinct()


def pagerank_fixed(
    edges: DataFrame, iters: int = 3, damping: float = 0.85
) -> DataFrame:
    """PageRank with a FIXED number of unrolled power iterations over a
    symmetric edge frame: rank_{k+1}(v) = (1-d)/N + d·Σ_{u→v} rank_k(u)/deg(u).
    Returns (node, rank). N and degrees come from the edge frame; isolated
    nodes are absent by construction (dedup graphs carry no singletons)."""
    # edges / nodes are consumed once PER ITERATION — pin them, or the
    # (possibly expensive: LSH banding) edge subtree re-executes K times
    # inside the unrolled plan. Degree is folded INTO the pinned edge
    # frame (r11, guide §2.4): it is loop-invariant, so joining it per
    # iteration repeated a node-sized equi-join K times for the same
    # result — (edges ⋈ deg) ⋈ rank produces the identical row set and
    # the identical per-row rank/deg operands as the former
    # (edges ⋈ rank) ⋈ deg, with one join per iteration instead of two.
    edges = edges.localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edeg = edges.join(deg, "src").localCheckpoint(eager=False)
    nodes = edges.select(F.col("src").alias("node")).distinct().localCheckpoint(
        eager=False
    )
    n_total = nodes.agg(F.count(F.lit(1)).alias("n"))
    rank = nodes.crossJoin(F.broadcast(n_total)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    d = float(damping)
    for _ in range(iters):
        contrib = (
            edeg.join(rank.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("__c"))
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        rank = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n_total))
            .select(
                "node",
                (
                    F.lit(1.0 - d) / F.col("n")
                    + F.lit(d) * F.coalesce(F.col("__in"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return rank


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over a symmetric edge frame: ordered
    3-clique join a<b<c (each triangle counted once). One row out."""
    ab = edges.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    bc = ab.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = ab.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    tri = (
        ab.join(bc, "b")
        .join(ac, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")))
        .filter(F.col("b") < F.col("c"))
    )
    return tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def bfs_levels(edges: DataFrame, seed: DataFrame, max_depth: int = 4) -> DataFrame:
    """Breadth-first levels from a ``seed`` node frame over a symmetric
    edge frame, UNROLLED to ``max_depth`` rounds (node, level) — the
    bounded-frontier sibling of ``dedup.connected_components``: fixing
    the depth makes the traversal pure deterministic relational algebra
    (recursive-CTE-checkable), and dedup/link graphs have tiny diameters
    so a small bound covers the reachable set.

    Per round: frontier⋈edges equi-join on src + anti-join against the
    visited set + distinct — all shuffles on node ids, never data-sized
    beyond the reachable frontier. Each frontier is lazily checkpointed:
    it feeds both the next expansion and the final union, and without the
    pin Catalyst would re-execute the whole k-round subtree per consumer
    (the same multi-consumer discipline as operators/scan)."""
    level = seed.select(
        F.col("node"), F.lit(0).cast("long").alias("level")
    ).localCheckpoint(eager=False)
    frontier = level
    for k in range(1, max_depth + 1):
        nxt = (
            edges.join(
                frontier.select(F.col("node").alias("src")), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(level.select("node"), "node", "left_anti")
            .select("node", F.lit(k).cast("long").alias("level"))
            .localCheckpoint(eager=False)
        )
        level = level.unionByName(nxt)
        frontier = nxt
    return level
