"""Candidate-pair generation with redundant-free comparisons
(SURVEY.md §2.3 J7, §4 O4).

Reference semantics: within each plural block, every pair (a, b) with
``a._unique_id < b._unique_id``, *skipping* pairs that already co-occur in a
smaller-id shared block (Kolb et al.; ``pgdedupe/run.py:293-319`` prepares
``smaller_ids``, ``dedupe.matchBlocks`` applies the set-intersection test).

Spark-first design: a self-equi-join of ``smaller_coverage ⋈ entries`` on
``block_id`` with the ``id <`` theta condition, then
``size(array_intersect(a.smaller_ids, b.smaller_ids)) == 0``. Both sides
hash-partition on block_id, the self-join's only shuffle; AQE skew-join splits hot blocks at runtime. Blocks over the size cap never
reach this operator: ``blocking.plural_key`` drops them where it counts
block sizes (dedupe's guard against quadratic blowup in degenerate
blocks), so ``smaller_ids`` already lists only surviving blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def candidate_pairs(
    smaller: DataFrame,
    entries: DataFrame | None = None,
    field_cols: list[str] | None = None,
) -> DataFrame:
    """smaller_coverage → (block_id, id1, id2) candidate pairs, each pair
    exactly once globally (in its smallest shared block).

    If ``entries``/``field_cols`` given, attaches the two records' fields as
    ``{col}_1`` / ``{col}_2`` for downstream feature assembly."""
    a = smaller.alias("a")
    b = smaller.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a._unique_id") < F.col("b._unique_id")),
        )
        .filter(
            F.size(F.array_intersect(F.col("a.smaller_ids"), F.col("b.smaller_ids"))) == 0
        )
        .select(
            F.col("a.block_id").alias("block_id"),
            F.col("a._unique_id").alias("id1"),
            F.col("b._unique_id").alias("id2"),
        )
    )
    if entries is not None and field_cols:
        e1 = entries.select(
            F.col("_unique_id").alias("id1"),
            *[F.col(c).alias(f"{c}_1") for c in field_cols],
        )
        e2 = entries.select(
            F.col("_unique_id").alias("id2"),
            *[F.col(c).alias(f"{c}_2") for c in field_cols],
        )
        pairs = pairs.join(e1, "id1").join(e2, "id2")
    return pairs
