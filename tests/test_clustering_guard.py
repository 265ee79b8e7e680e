"""D9 HAC on a giant component (VERDICT r9 #1).

A chain of overlapping pairs can merge components far past any block cap.
``cluster_components`` runs the same HAC on such a component as on every
other: its state is sparse, so a 50k-member chain costs O(pairs) memory,
where a dense linkage matrix (2.5e9 doubles ≈ 20 GB) would OOM an executor.
This pins that the planted 50k chain completes and gets HAC's clusters.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pgdedupe_spark.operators.clustering import cluster_components


@pytest.mark.slow
def test_giant_chain_component_falls_back_and_completes(spark):
    """50,001-member chain = ONE component. The head pair (0, 1) scores 0.7
    (distance 0.3) and every other link 0.9 (distance 0.1). All 0.1 links
    tie, so HAC merges (1, 2), (3, 4), ... in id order; each merged pair
    then sits at an average linkage of 0.55 or more from its neighbours,
    past the 0.5 cutoff. Result: 25,000 two-member clusters scoring 0.9,
    and member 0 left unclustered, so it is absent from the entity map."""
    n_edges = 50_000
    edges = spark.range(n_edges).select(
        F.col("id").alias("id1"),
        (F.col("id") + 1).alias("id2"),
        F.when(F.col("id") == 0, F.lit(0.7)).otherwise(F.lit(0.9)).alias("score"),
    )
    out = cluster_components(edges, threshold=0.5)
    sizes = out.groupBy("canon_id").agg(
        F.count(F.lit(1)).alias("size"),
        F.min("_unique_id").alias("lo"),
        F.max("_unique_id").alias("hi"),
    )
    agg = sizes.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.min("size").alias("min_size"),
        F.max("size").alias("max_size"),
        F.sum((F.col("canon_id") % 2 == 1).cast("int")).alias("odd_canon"),
        F.sum((F.col("hi") == F.col("lo") + 1).cast("int")).alias("adjacent"),
    ).collect()[0]
    assert agg.n_clusters == 25_000
    assert agg.min_size == agg.max_size == 2
    assert agg.odd_canon == 25_000 and agg.adjacent == 25_000
    stats = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_unique_id").alias("lo"),
        F.min("cluster_score").alias("smin"),
        F.max("cluster_score").alias("smax"),
    ).collect()[0]
    assert stats.n == n_edges
    assert stats.lo == 1  # member 0 is unclustered
    assert stats.smin == pytest.approx(0.9) and stats.smax == pytest.approx(0.9)
