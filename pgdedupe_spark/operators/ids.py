"""Deterministic id assignment (SURVEY.md §2.5 W1).

The reference uses Postgres ``SERIAL`` over a materialized ``SELECT``
(``pgdedupe/run.py:97-98``, ``269-275``); its reproducibility test
(``tests/test_reproducibility.py``) requires the same input to yield the same
ids across runs. ``monotonically_increasing_id`` is nondeterministic across
runs/partitionings, so we assign ``row_number`` by a total order instead.

Two physical strategies:

* :func:`add_row_number_id` — ``row_number().over(Window.orderBy(...))``, a
  single-partition sort for the window; fine for small frames (the ngram
  bitmap vocabulary, and :func:`add_rank_id` up to
  :data:`ROW_NUMBER_MAX_ROWS` rows).
* :func:`add_deterministic_id` — the 100 TB path: range-partition on the
  ordering key, sort within partitions, then offset per-partition sequences
  by the cumulative counts of earlier partitions. Two narrow passes, no
  global single-partition sort. Requires ``order_cols`` to be a unique key
  (otherwise ties may swap ids between physically-identical rows).

:func:`add_rank_id` picks between them by the row count it observes while
materializing its input (``collapse_exact_duplicates``, ``plural_key``).
Both give the same ids, the global rank by ``order_cols``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

# add_rank_id's switch: at most this many rows take the single-partition
# row_number path, more take the range-partitioned one. The row_number
# output is one partition, and every stage that streams from it inherits
# that. On 4 cores at 200k rows, one explode+groupBy over it took 0.50 s
# against 0.39 s over the range path's output, while the range path's own
# extra jobs cost about 0.4 s once; at 100k the two are about even.
ROW_NUMBER_MAX_ROWS = 100_000


def add_row_number_id(df: DataFrame, order_cols: list[str], id_col: str = "_unique_id") -> DataFrame:
    """Small-frame path: global row_number. Deterministic given a total order."""
    w = Window.orderBy(*[F.col(c).asc_nulls_first() for c in order_cols])
    return df.withColumn(id_col, F.row_number().over(w).cast("long"))


def add_deterministic_id(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "_unique_id",
    num_partitions: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Scale path: ids equal to the global rank by ``order_cols`` without a
    single-partition sort.

    1. ``repartitionByRange`` on the ordering key → non-overlapping ranges.
    2. Per-partition ``row_number`` (window partitioned by partition id — a
       within-partition sort only).
    3. Offset each partition by the total count of earlier partitions; the
       per-partition counts are tiny (one row per partition) and are joined
       back via broadcast.

    ``materialize`` (default on) localCheckpoints the input first:
    ``repartitionByRange`` runs a *sampling pass* over ``df`` to pick range
    bounds, so a non-trivial upstream (an aggregation, a join) otherwise
    executes twice — one executor-side materialization is cheaper (measured
    2× on the collapse query's grouped frame). Turn it off when the input
    is a bare scan that is cheaper to re-read than to cache; on clusters
    with lossy executors swap for ``checkpoint()`` with a checkpoint dir.

    The ranged frame is ALWAYS materialized before ``_pid`` is consumed:
    ``spark_partition_id()`` is a physical-placement function evaluated
    independently by the counts branch and the row_number branch, and AQE
    may coalesce each branch's shuffle read differently — the branches
    then disagree on ``_pid`` and the offsets silently misalign (observed
    on the packing prefix sum at 2M rows; same machinery). The checkpoint
    freezes one assignment that both branches read.
    """
    sort_exprs = [F.col(c).asc_nulls_first() for c in order_cols]
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    if materialize:
        df = df.localCheckpoint(eager=True)
    ranged = (
        df.repartitionByRange(num_partitions, *sort_exprs)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = ranged.groupBy("_pid").count()
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn("_offset", F.coalesce(F.sum("count").over(w_off), F.lit(0)))
    w_local = Window.partitionBy("_pid").orderBy(*sort_exprs)
    return (
        ranged.join(F.broadcast(offsets.select("_pid", "_offset")), "_pid")
        .withColumn(id_col, (F.col("_offset") + F.row_number().over(w_local)).cast("long"))
        .drop("_pid", "_offset")
    )


def add_rank_id(df: DataFrame, order_cols: list[str], id_col: str = "_unique_id") -> DataFrame:
    """Size-switched rank ids: ``df`` is materialized once with an eager
    ``localCheckpoint``, and that same pass counts its rows through an
    ``Observation`` (no separate ``count()`` job). Up to
    :data:`ROW_NUMBER_MAX_ROWS` rows take :func:`add_row_number_id`, more
    take :func:`add_deterministic_id` over the checkpoint. ``order_cols``
    must be a unique key, so both paths give the same ids."""
    rows = Observation()
    frame = df.observe(rows, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    if rows.get["n"] <= ROW_NUMBER_MAX_ROWS:
        return add_row_number_id(frame, order_cols, id_col)
    return add_deterministic_id(frame, order_cols, id_col, materialize=False)
