"""The W1 id-assignment size switch (VERDICT r4 item 6b): ``plural_key``
must route dim-sized frames through the single-partition ``row_number``
window and big frames through the range-partitioned scale path — with
IDENTICAL ids either way (rank by block_key). The threshold is exercised
by overriding it downward instead of synthesizing >100k rows; what matters
is that the switch actually changes the physical plan and not the answer."""

from __future__ import annotations

from pyspark.sql import functions as F

from pgdedupe_spark.operators import ids
from pgdedupe_spark.operators.blocking import plural_key
from pgdedupe_spark.operators.collapse import collapse_exact_duplicates


def _bmap(spark, n_keys=40, rows_per_key=3):
    rows = [(f"k{i:04d}", i * rows_per_key + j) for i in range(n_keys)
            for j in range(rows_per_key)]
    return spark.createDataFrame(rows, "block_key string, _unique_id long")


def _ids(df):
    return sorted((r.block_key, r.block_id) for r in df.collect())


def test_switch_changes_plan_not_answer(spark, monkeypatch):
    bmap = _bmap(spark)
    small, _ = plural_key(bmap)  # default threshold: row_number path
    monkeypatch.setattr(ids, "ROW_NUMBER_MAX_ROWS", 3)
    big, _ = plural_key(bmap)  # force the scale path

    assert _ids(small) == _ids(big)

    # small path: a global (no-partition-spec) window is acceptable at dim
    # size; scale path: NO global window anywhere — ordering runs inside
    # range partitions with a _pid-partitioned window, so no single task
    # sorts the whole frame. The ranged+_pid frame is materialized (the
    # rangepartitioning exchange lives inside the checkpointed lineage —
    # ids.py docstring explains why _pid must be frozen), so the scale
    # plan reads an ExistingRDD scan the small path never has.
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    plan_big = big._jdf.queryExecution().executedPlan().toString()

    assert "existingrdd" in plan_big.lower(), plan_big
    for ln in plan_big.splitlines():
        if "Window" in ln and "row_number" in ln:
            # partitioned window: the spec carries a partition expression
            # (spark renders global windows with an empty partition list)
            assert "_pid" in ln, f"global window in scale path:\n{ln}"
    # (createDataFrame inputs scan an ExistingRDD too, so key the small
    # path's check on the _pid machinery being absent instead)
    assert "_pid" not in plan_small
    assert "rangepartitioning" not in plan_small.lower()


def test_scale_path_ids_are_global_rank(spark, monkeypatch):
    # ids must equal the global rank by block_key regardless of which
    # physical partition a key landed in
    bmap = _bmap(spark, n_keys=97, rows_per_key=2)
    monkeypatch.setattr(ids, "ROW_NUMBER_MAX_ROWS", 3)
    out, _ = plural_key(bmap)
    got = {r.block_key: r.block_id for r in out.collect()}
    want = {k: i + 1 for i, k in enumerate(sorted(got))}
    assert got == want


def test_collapse_switch_changes_plan_not_answer(spark, monkeypatch):
    """collapse_exact_duplicates takes the same size switch: row_number at
    dim size, the range-partitioned path above the threshold, with the
    same rows and _unique_ids either way. The range exchange of the scale
    path runs inside a checkpoint, so the plans compared are every plan
    the call checkpoints plus the returned frame's."""
    src = spark.createDataFrame(
        [(i, f"n{i % 7}", i % 3 if i % 5 else None) for i in range(60)],
        "id long, name string, g long",
    )

    def collapse():
        plans = []
        real = type(src).localCheckpoint

        def spy(self, *args, **kwargs):
            plans.append(self._jdf.queryExecution().executedPlan().toString())
            return real(self, *args, **kwargs)

        with monkeypatch.context() as m:
            m.setattr(type(src), "localCheckpoint", spy)
            out = collapse_exact_duplicates(src, ["name", "g"], "id")
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        rows = {r._unique_id: (r.name, r.g, tuple(r.src_ids)) for r in out.collect()}
        return rows, "\n".join(plans).lower()

    small_rows, small_plan = collapse()
    monkeypatch.setattr(ids, "ROW_NUMBER_MAX_ROWS", 3)
    big_rows, big_plan = collapse()

    assert small_rows == big_rows
    assert sorted(small_rows) == list(range(1, 29))
    assert "rangepartitioning" not in small_plan, small_plan
    assert "rangepartitioning" in big_plan, big_plan
