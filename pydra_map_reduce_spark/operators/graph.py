"""Generic iterative graph operators (schema-agnostic).

Same design rules as the dedup connected-components family: per-round
work is keyed joins/aggs on node ids only, every round is a
``checkpointed_rounds`` round (an eager localCheckpoint: lineage
truncation — Catalyst planning time otherwise grows
super-linearly with iteration count), and nothing but 1-row scalars
ever reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..iterate import checkpointed_rounds
from ..session_cache import CORPUS, materialize, release


def pagerank(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """(node, rank) after ``n_iter`` rounds of standard PageRank.

    ``edges`` is a directed (src, dst) DataFrame. Each round: every
    node splits rank/out_degree along its out-edges, destinations sum
    incoming contributions, rank = (1-d) + d·(in + dangling/N) where
    the dangling mass (nodes with no out-edges) is redistributed
    uniformly — the SUM-TO-N normalization (teleport term (1-d) per
    node, matching the code and the registered oracle), not the
    sum-to-1 form whose teleport is (1-d)/N.

    The MR-flagship iterative algorithm, Spark-shaped: the edge list
    (with out-degrees pre-joined) is persisted once and reused every
    round. Honest per-round exchange accounting: the edges-with-ranks
    join on src, the dst-keyed contribution sum, the rank-update join
    on node, and the dangling left-semi — several node/edge-scale
    exchanges per round, NOT one, plus the broadcast of the 1-row
    dangling total. At 100 TB, co-partitioning edges AND the
    rank/node frames on the node key (bucketed tables) removes the
    join-side exchanges and leaves the contribution sum as the one
    true shuffle — the one-shuffle-per-round figure holds only in
    that co-partitioned layout. Fixed iteration count keeps the plan
    deterministic; convergence-based stopping would add a 1-row
    driver check per round like dedup_clusters.
    """
    e = edges.select("src", "dst").distinct()
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # edges annotated with the source's out-degree: persisted once,
    # reused by all rounds (the loop-invariant side)
    ed = materialize(e.join(out_deg, "src"), CORPUS)
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct(),
        CORPUS,
    )
    # the dangling node SET (no out-edges) is loop-invariant: compute
    # and persist it once — deriving it from out_deg inside the loop
    # would replay the edge scan + distinct + degree agg every round
    dangling_nodes = materialize(
        nodes.join(out_deg, nodes.node == out_deg.src, "left_anti"), CORPUS
    )

    # the try must open BEFORE the first materializing action — the
    # count and the first round below are the jobs that populate the
    # three caches, and a failure there would otherwise pin them
    try:
        n_total = nodes.count()  # 1 scalar, fixed for the whole run

        def update(ranks: DataFrame, _r: int) -> DataFrame:
            contribs = (
                ed.join(ranks, ed.src == ranks.node)
                .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("in_sum"))
            )
            # dangling mass = total rank held by nodes with no out-edges
            dangling = (
                ranks.join(dangling_nodes, "node", "left_semi")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
            )
            return (
                nodes.join(contribs, nodes.node == contribs.dst, "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    (
                        F.lit(1.0 - damping)
                        + F.lit(damping)
                        * (F.coalesce(F.col("in_sum"), F.lit(0.0)) + F.col("dm") / n_total)
                    ).alias("rank"),
                )
            )

        ranks = nodes.withColumn("rank", F.lit(1.0))
        for ranks in checkpointed_rounds(ranks, update, n_iter):
            pass
    finally:
        # unpersist on EVERY exit: a mid-loop failure (task
        # error, interrupt) would otherwise pin three frames in
        # the long-lived shared session for its lifetime
        release((ed, nodes, dangling_nodes))
    return ranks
