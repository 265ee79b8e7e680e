"""Exact-match cluster merge (SURVEY.md §2.3 J5, §2.8 G1-G3, §3.3).

Reference (``pgdedupe/exact_matches.py:53-101``): for a list of column
subsets, link any two clusters whose members share exact (non-NULL-matching)
values on that subset, then relabel every cluster to the min id of its
connected component.

Edge query parity (``exact_matches.py:70-83``):

    WITH subset AS (entries ⟕ mapping USING(key))
    SELECT t1.cluster id1, t.id2
    FROM subset t1
    JOIN (SELECT min(cluster) id2, cols FROM subset
          GROUP BY cols HAVING count(*) > 1) t USING (cols)
    WHERE t1.cluster > id2 GROUP BY 1, 2

Here the aggregate and the join back are one window over the same
partitioning: every row with non-NULL ``cols`` pairs its cluster with
``min(cluster) OVER (PARTITION BY cols)``, and ``id1 > id2`` keeps the
rows the join back keeps. The ``HAVING count(*) > 1`` needs no twin: in a
one-row group the only cluster is the minimum (or NULL), so it yields no
edge either way. One exchange on ``cols`` (then one for the distinct), where
the reference shape plans an aggregate and a join.

NULL semantics: SQL ``=``/USING never matches NULLs → rows with a NULL in
the subset never merge. Spark's ``=`` matches this; we must NOT use
``eqNullSafe`` (SURVEY J5). A window partition does group NULLs together,
so rows with a NULL merge value are dropped before the window. A NULL
cluster is ignored by ``min`` and fails ``id1 > id2``, as in the join.

The connected-components step replaces the reference's recursion-limited
pandas DFS with the distributed fixpoint CC (operators/clustering.py).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pgdedupe_spark.operators.clustering import connected_components


def exact_match_edges(subset: DataFrame, cols: list[str], cluster_col: str = "cluster") -> DataFrame:
    """J5: clusters sharing exact values on `cols` → (id1, id2) with id1 > id2."""
    nn = subset
    for c in cols:
        nn = nn.filter(F.col(c).isNotNull())
    return (
        nn.select(
            F.col(cluster_col).alias("id1"),
            F.min(cluster_col).over(Window.partitionBy(*cols)).alias("id2"),
        )
        .filter(F.col("id1") > F.col("id2"))
        .distinct()
    )


def merge_exact(
    mapping: DataFrame,
    entries: DataFrame,
    key: str,
    merge_cols: list[list[str]],
    cluster_col: str = "cluster",
) -> DataFrame:
    """Full merge pass: one edge extraction per column subset, union the
    edges, one CC, then relabel mapping.cluster → component min id (J6 as an
    immutable left-join + coalesce instead of UPDATE…FROM)."""
    subset = entries.join(mapping.select(key, cluster_col), key, "left")
    edge_frames = [exact_match_edges(subset, cols, cluster_col) for cols in merge_cols]
    if not edge_frames:
        return mapping
    # no distinct over the union: union-find ignores a repeated edge, and
    # connected_components' loop path builds its own distinct edge frame
    edges = reduce(DataFrame.union, edge_frames)
    comp = connected_components(edges)  # (id, component=min reachable id)
    relabel = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(cluster_col), F.col("component").alias("_new_cluster")
    )
    # no broadcast hint: the relabel map is usually dim-sized (only clusters
    # that changed label) and AQE broadcasts it from runtime stats, but on a
    # merge-heavy 100 TB pass it can be a large fraction of the vertex set —
    # forcing a broadcast there would OOM the driver. Let the planner decide.
    return (
        mapping.join(relabel, cluster_col, "left")
        .withColumn(cluster_col, F.coalesce("_new_cluster", cluster_col))
        .drop("_new_cluster")
    )
