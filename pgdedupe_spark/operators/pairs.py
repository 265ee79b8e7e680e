"""Candidate-pair generation with redundant-free comparisons
(SURVEY.md §2.3 J7, §4 O4).

Reference semantics: within each plural block, every pair (a, b) with
``a._unique_id < b._unique_id``, *skipping* pairs that already co-occur in a
smaller-id shared block (Kolb et al.; ``pgdedupe/run.py:293-319`` prepares
``smaller_ids``, ``dedupe.matchBlocks`` applies the set-intersection test).

Spark-first design: a self-equi-join of ``smaller_coverage ⋈ entries`` on
``block_id`` with the ``id <`` theta condition, then
``size(array_intersect(a.smaller_ids, b.smaller_ids)) == 0``. The join
shuffles both sides on block_id once; AQE skew-join splits hot blocks
(frequent tokens) at runtime. ``cap_block_size`` mirrors dedupe's guard
against quadratic blowup in degenerate blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def candidate_pairs(
    smaller: DataFrame,
    entries: DataFrame | None = None,
    field_cols: list[str] | None = None,
    max_block_size: int | None = 10000,
) -> DataFrame:
    """smaller_coverage → (block_id, id1, id2) candidate pairs, each pair
    exactly once globally (in its smallest shared block).

    If ``entries``/``field_cols`` given, attaches the two records' fields as
    ``{col}_1`` / ``{col}_2`` for downstream feature assembly.

    ``max_block_size`` defaults to the pipeline's guard value (10000, the
    same default ``DedupeConfig.max_block_size`` carries) rather than
    uncapped — r9's adversarial skew probe measured that AQE's input-size
    skew detection does NOT split quadratic-OUTPUT blocks, so this cap is
    the load-bearing defense against a degenerate block going O(n²)
    (SCALE.md "AQE skew-join won't save a quadratic block"). Pass ``None``
    for the uncapped cross-product (probes/certification only). A pair
    whose smallest shared block is over the cap is kept in its smallest
    shared block that is under it: the cap removes over-cap block ids
    from ``smaller_ids`` as well as the blocks' own rows.

    No silent caps: when the cap is active, the returned frame carries a
    ``_block_audit`` attribute — a ``pyspark.sql.Observation`` whose
    ``.get`` (available after the first action) reports
    ``entries_dropped`` (coverage rows in over-cap blocks),
    ``blocks_seen_max`` (largest block size observed) and ``entries_seen``,
    so a run can tell exactly how much candidate mass the guard removed,
    in-band, without a second job."""
    cov = smaller
    audit = None
    if max_block_size is not None:
        # window count, not a groupBy+join: the size filter then shares the
        # block_id hash partitioning with the self-join below (one shuffle,
        # reused exchange), and there is no broadcast of a block-id set that
        # can be arbitrarily large at scale.
        from pyspark.sql import Observation, Window

        cov = cov.withColumn(
            "_bsz", F.count(F.lit(1)).over(Window.partitionBy("block_id"))
        )
        audit = Observation("candidate_pairs_block_audit")
        cov = cov.observe(
            audit,
            F.sum((F.col("_bsz") > max_block_size).cast("long")).alias(
                "entries_dropped"
            ),
            F.max("_bsz").alias("blocks_seen_max"),
            F.count(F.lit(1)).alias("entries_seen"),
        )
        # drop the over-cap blocks from the surviving rows' smaller_ids
        # too, so a pair whose smallest shared block is over the cap is
        # kept in its smallest under-cap one. try_cast types the ids like
        # the smaller_ids elements (a no-op when they already agree).
        elem = cov.schema["smaller_ids"].dataType.elementType
        over = F.collect_set(
            F.when(
                F.col("_bsz") > max_block_size, F.col("block_id").try_cast(elem)
            )
        ).over(Window.partitionBy("_unique_id"))
        cov = (
            cov.withColumn("smaller_ids", F.array_except("smaller_ids", over))
            .filter(F.col("_bsz") <= max_block_size)
            .drop("_bsz")
        )

    a = cov.alias("a")
    b = cov.alias("b")
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
    pairs._block_audit = audit
    return pairs
