"""Exact-integer k-means contracts beyond the driver oracle: planted-
cluster recovery, empty-cluster handling, determinism of the integer
formulation, and the no-join assignment plan the 100 TB claim rests on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pgdedupe_spark.operators.kmeans import kmeans_exact


def _planted(spark, n_per=40, dim=8):
    """Three well-separated centers ± small deterministic offsets."""
    centers = [[10.0] * dim, [-10.0] * dim, [10.0] * (dim // 2) + [-10.0] * (dim // 2)]
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for j in range(n_per):
            off = [((vid * 31 + d * 17) % 7 - 3) * 0.1 for d in range(dim)]
            rows.append((vid, [c[d] + off[d] for d in range(dim)], ci))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, truth int"
    )


def test_kmeans_recovers_planted_clusters(spark):
    df = _planted(spark)
    out = kmeans_exact(df, "vec_id", "embedding", k=3, iterations=4, dim=8)
    j = out.join(df.select("vec_id", "truth"), "vec_id")
    # every truth cluster maps to exactly one k-means cluster and vice versa
    per = j.groupBy("truth", "cluster").count().collect()
    assert len(per) == 3, per
    assert {r["count"] for r in per} == {40}


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """Seeding with a far-away centroid that captures nothing: the empty
    cluster keeps its previous centroid instead of crashing or NaN-ing,
    and the populated clusters still converge."""
    df = _planted(spark, n_per=10)
    init = [
        [10_000_000] * 8,  # captures nothing
        [10 * 10**6] * 8,
        [-10 * 10**6] * 8,
    ]
    out = kmeans_exact(
        df, "vec_id", "embedding", k=3, iterations=2, dim=8, init=init
    )
    sizes = {r["cluster"]: r["count"] for r in out.groupBy("cluster").count().collect()}
    assert 0 not in sizes  # stays empty
    assert sum(sizes.values()) == 30


def test_kmeans_validation_and_empty_input(spark):
    df = _planted(spark, n_per=2)
    with pytest.raises(ValueError, match="exactly k"):
        kmeans_exact(df, "vec_id", "embedding", k=3, init=[[0] * 8])
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert kmeans_exact(empty, "vec_id", "embedding", k=2).count() == 0
    # a NULL or ragged vector would drop out of the divisor group silently
    schema = "vec_id long, embedding array<float>, truth int"
    for bad in ((999, None, 0), (999, [1.0] * 7, 0)):
        broken = df.unionByName(spark.createDataFrame([bad], schema))
        with pytest.raises(ValueError, match="exactly 8 dims"):
            kmeans_exact(broken, "vec_id", "embedding", k=3, dim=8)


def test_kmeans_empty_input_keeps_id_type(spark):
    """Empty-input schema matches the non-empty path for non-long ids
    (ADVICE r8: the empty branch hardcoded `long`)."""
    empty = spark.createDataFrame([], "doc string, embedding array<float>")
    out = kmeans_exact(empty, "doc", "embedding", k=2)
    assert out.schema["doc"].dataType.simpleString() == "string"
    assert out.schema["cluster"].dataType.simpleString() == "int"
    assert out.count() == 0


def test_kmeans_assignment_plan_has_no_join(spark, sf_dir):
    """Centroids are expression literals: the final assignment must be a
    pure scan-local projection — no join, no Exchange beyond the scan,
    no Python."""
    from pgdedupe_spark import registry

    plan = (
        registry.QUERIES["ml_kmeans_exact"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "PythonUDF" not in plan
