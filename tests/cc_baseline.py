"""Independent connected-components baseline for the dedup tests."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components_propagation(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """One-hop min-label propagation baseline for property-testing
    ``ext.dedup.connected_components`` against an independent formulation:
    every node's label converges to the smallest id reachable from it,
    advancing one hop per round, so rounds = graph diameter. Fine for
    shallow near-dup clusters; ``connected_components`` (large-star/
    small-star, O(log n) rounds) is the scale path — a 100 TB corpus with
    one chain-shaped component makes diameter-bounded rounds a
    scale-killer.

    Returns (id_col, cluster_id), one row per node, deterministic.
    """
    # materialize the edge list once: every round joins against it, and
    # without the checkpoint each round would re-derive the whole upstream
    # candidate-generation pipeline (shingle → minhash → LSH) from scratch
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .localCheckpoint()
    )
    # round 0 fused into initialization: with labels starting at the node
    # ids, the first propagation is just min(self, neighbors) — one
    # aggregation, no join, saves a full round of jobs
    labels = (
        all_ids.select(F.col(id_col).alias("node"), F.col(id_col).alias("lbl"))
        .union(edges.select(F.col("src").alias("node"), F.col("dst").alias("lbl")))
        .groupBy("node")
        .agg(F.min("lbl").alias("lbl"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        prop = edges.join(labels, edges["dst"] == labels["node"]).select(
            F.col("src").alias("node"), F.col("lbl")
        )
        both = labels.withColumn("_old", F.col("lbl")).union(
            prop.withColumn("_old", F.lit(None).cast(dict(labels.dtypes)["lbl"]))
        )
        agg = both.groupBy("node").agg(
            F.min("lbl").alias("lbl"), F.min("_old").alias("_old")
        )
        # convergence count rides the SAME job that materializes the
        # checkpoint (observe metrics), instead of a second compare join
        obs = Observation()
        agg = agg.observe(
            obs, F.sum((F.col("lbl") < F.col("_old")).cast("long")).alias("changed")
        )
        labels = agg.drop("_old").localCheckpoint()
        if obs.get["changed"] == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_propagation: labels still changing "
            f"after max_iter={max_iter} rounds (propagation needs "
            f"diameter rounds; raise max_iter or use connected_components)"
        )
    return labels.select(F.col("node").alias(id_col), F.col("lbl").alias("cluster_id"))
