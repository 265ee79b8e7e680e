"""The W1 id-assignment size switch (VERDICT r4 item 6b): ``plural_key``
must route dim-sized frames through the single-partition ``row_number``
window and big frames through the range-partitioned scale path — with
IDENTICAL ids either way (rank by block_key). The threshold is exercised
by overriding it downward instead of synthesizing >5M rows; what matters
is that the switch actually changes the physical plan and not the answer."""

from __future__ import annotations

from pyspark.sql import functions as F

from pgdedupe_spark.operators import blocking
from pgdedupe_spark.operators.blocking import plural_key


def _bmap(spark, n_keys=40, rows_per_key=3):
    rows = [(f"k{i:04d}", i * rows_per_key + j) for i in range(n_keys)
            for j in range(rows_per_key)]
    return spark.createDataFrame(rows, "block_key string, _unique_id long")


def _ids(df):
    return sorted((r.block_key, r.block_id) for r in df.collect())


def test_switch_changes_plan_not_answer(spark, monkeypatch):
    bmap = _bmap(spark)
    small, _ = plural_key(bmap)  # default threshold: row_number path
    monkeypatch.setattr(blocking, "PLURAL_KEY_SMALL_THRESHOLD", 3)
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
    monkeypatch.setattr(blocking, "PLURAL_KEY_SMALL_THRESHOLD", 3)
    out, _ = plural_key(bmap)
    got = {r.block_key: r.block_id for r in out.collect()}
    want = {k: i + 1 for i, k in enumerate(sorted(got))}
    assert got == want
