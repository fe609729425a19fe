"""Iterative graph analytics: PageRank power iteration.

Link-analysis centrality is a standard corpus-quality signal in
training-data pipelines (page rank / harmonic centrality over the link
graph is how CommonCrawl-derived corpora rank candidate pages), and the
power iteration is the canonical iterative-join workload beyond the
connected-components contraction in ext/dedup.py.

Spark-first shape: each iteration is (edges ⋈ ranks on src) → groupBy dst
— both legs hash-cluster on the node key, so on a cluster the edge table
is partitioned ONCE by src and every iteration reuses that partitioning;
the rank vector (|V| rows, tiny next to |E|) is the only thing that moves.

Cross-engine determinism (the PQ-codebook recipe): per-edge contributions
are floor-rounded to 1e-15 (identical IEEE ops both engines), summed in a
DECIMAL(38,18) accumulator (order-insensitive — a raw double sum would
depend on partitioning), and each iteration's rank is floor-rounded to
1e-12 before feeding the next round, so every iteration sees bit-identical
inputs on Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkwrangle.session import eager_partitions

DAMPING = 0.85
RF_CONTRIB = 15
RF_RANK = 12


def _rf(c: Column, digits: int) -> Column:
    scale = float(10**digits)
    return F.floor(c * scale + F.lit(0.5)) / scale


def _dsum18(c: Column) -> Column:
    return F.sum(c.cast("decimal(38,18)")).cast("double")


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = DAMPING,
) -> DataFrame:
    """``iters`` power-iteration rounds of PageRank over a DIRECTED edge
    list (pass both directions for an undirected graph). Nodes with no
    outgoing edge are dangling: their mass redistributes uniformly each
    round (the standard correction — dropping it leaks rank mass).
    Returns (node, rank) after the final round; Σ rank ≈ 1.

    PRECONDITION: ``nodes`` must contain every id appearing in ``edges``
    (src AND dst). A dst absent from the node table silently drops the
    mass sent to it (the contribution row dies in the vertex join) and
    Σ rank drifts below 1 — build nodes from the edge list's endpoint
    union (as the catalog does) when in doubt; the function does not
    spend a join checking.

    The node count and per-round dangling mass stay IN-PLAN as broadcast
    1-row aggregates — no driver-side collect anywhere.

    The rank vector is localCheckpoint'ed each round: every round reads
    ranks TWICE (contributions and dangling mass), so an unbroken lineage
    doubles the replayed plan per iteration (~2^iters — measured 9.4 s
    for 3 rounds at sf0.1, 3.9 s with the checkpoint). The vector is
    |V| rows — vertex-sized, never edge-sized, exactly what a cluster
    materializes between Pregel supersteps.
    """
    deg = edges.groupBy(src).agg(F.count("*").alias("deg"))
    nn = F.broadcast(nodes.agg(F.count("*").alias("n_nodes")))
    # Static vertex table (node, deg, n_nodes), built ONCE: carrying deg
    # and the node count inside the checkpointed vector means each round
    # is a single edges⋈ranks join — no per-round deg join and no
    # per-round crossJoin(count) broadcast job.
    # The eager loop (~4 small shuffles + a checkpoint per round) runs at
    # a partition count sized to |E| (measured at sf0.1, |E|=285k: 5.9 s
    # warm at 32 partitions vs 2.5 s at 8 — identical ranks, the decimal
    # accumulators are partitioning-insensitive). |E| is a count over
    # ``edges``, which callers should pass materialized (the catalog
    # checkpoints it first — deg and every round consume it anyway).
    with eager_partitions(edges.sparkSession, rows=edges.count()):
        vtab = (
            nodes.join(deg, nodes[node_col] == deg[src], "left")
            .crossJoin(nn)
            .select(node_col, "deg", "n_nodes")
            .localCheckpoint()
        )
        ranks = _power_iterations(vtab, edges, node_col, src, dst, iters, damping)
    return ranks.select(node_col, "rank")


def _power_iterations(
    vtab: DataFrame,
    edges: DataFrame,
    node_col: str,
    src: str,
    dst: str,
    iters: int,
    damping: float,
) -> DataFrame:
    ranks = vtab.withColumn("rank", F.lit(1.0) / F.col("n_nodes"))
    for _ in range(iters):
        # NO forced broadcast: the rank vector is vertex-sized, which on a
        # real graph can be billions of rows — AQE broadcasts it when it
        # is actually small and shuffles it onto the src-partitioned edge
        # table otherwise (the Pregel message exchange).
        contrib = edges.join(
            ranks.filter(F.col("deg").isNotNull()).select(
                F.col(node_col).alias(src),
                _rf(F.col("rank") / F.col("deg"), RF_CONTRIB).alias("contrib"),
            ),
            src,
        ).select(F.col(dst), "contrib")
        summed = contrib.groupBy(dst).agg(_dsum18(F.col("contrib")).alias("s"))
        dangling = F.broadcast(
            ranks.filter(F.col("deg").isNull()).agg(
                F.coalesce(_dsum18(F.col("rank")), F.lit(0.0)).alias("dmass")
            )
        )
        ranks = (
            vtab.join(summed, vtab[node_col] == summed[dst], "left")
            .crossJoin(dangling)
            .select(
                node_col,
                "deg",
                "n_nodes",
                _rf(
                    (F.lit(1.0) - F.lit(damping)) / F.col("n_nodes")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("s"), F.lit(0.0))
                        + F.col("dmass") / F.col("n_nodes")
                    ),
                    RF_RANK,
                ).alias("rank"),
            )
        ).localCheckpoint()
    return ranks.select(node_col, "rank")
