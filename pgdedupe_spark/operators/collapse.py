"""Exact-duplicate pre-collapse (SURVEY.md §2.4 A1, §4 O1).

Reference semantics (``pgdedupe/run.py:62-99``): filter the source table by
the user's SQL predicate, collapse rows that agree on every dedupe field into
one row per distinct field combination, collect the source primary keys into
an array (`src_ids`), and assign a fresh serial ``_unique_id``.

Spark-first notes:

* the filter is an arbitrary ANSI predicate string → ``F.expr`` so Catalyst
  pushes it into the parquet scan (P2).
* ``groupBy`` over all fields is a hash aggregate with map-side partial
  aggregation — one shuffle on the field tuple. NULLs group together, same
  as Postgres ``GROUP BY`` (SURVEY A1).
* ``collect_list`` order is nondeterministic under parallelism, so we
  ``sort_array`` for reproducibility (Postgres ``array_agg`` without ORDER BY
  is insertion-ordered — also unspecified; our contract is *sorted*).
* id assignment: the grouped field tuple is unique by construction, so the
  rank-based id (``ids.add_rank_id``) is deterministic. Its checkpoint of
  the grouped frame also counts it, and that count picks the path: a
  single-partition ``row_number`` up to ``ids.ROW_NUMBER_MAX_ROWS`` distinct
  rows, the range-partitioned scale path above. Both give the same ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgdedupe_spark.operators.ids import add_rank_id


def collapse_exact_duplicates(
    df: DataFrame,
    field_cols: list[str],
    key_col: str,
    filter_condition: str = "1=1",
    id_col: str = "_unique_id",
) -> DataFrame:
    """source table → ``entries_unique`` (one row per distinct field combo).

    Returns columns: ``*field_cols, src_ids ArrayType(Long), _unique_id``.
    """
    return add_rank_id(
        df.filter(F.expr(filter_condition or "1=1"))
        .groupBy(*field_cols)
        .agg(F.sort_array(F.collect_list(F.col(key_col))).alias("src_ids")),
        order_cols=field_cols,
        id_col=id_col,
    )
