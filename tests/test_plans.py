"""Physical-plan audits: the properties that matter at 100 TB, pinned so a
regression fails CI. These assert on `.explain("formatted")` of the actual
registry queries — not on toy frames — so they track the real plans the
driver benchmarks."""

from __future__ import annotations

import os

import pytest

from pgdedupe_spark import registry
from pgdedupe_spark.plans import plan_report

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _report(spark, name):
    return plan_report(registry.QUERIES[name](spark, SF_DIR))


def test_filter_pushdown_reaches_scan(spark):
    """q1's shipdate predicate must appear in the parquet PushedFilters —
    if it evaporates, every scan reads the full fact table."""
    r = _report(spark, "q1_pricing_summary")
    assert any("l_shipdate" in f for f in r["pushed_filters"]), r["pushed_filters"]


def test_column_pruning(spark):
    """q1 projects 6 of lineitem's 16 columns; the scan schema must shrink
    accordingly (columnar pruning is the single biggest 100 TB lever)."""
    r = _report(spark, "q1_pricing_summary")
    assert r["scan_columns"], "no parquet scan found"
    assert all(len(cols) <= 8 for cols in r["scan_columns"]), r["scan_columns"]


def test_plural_key_broadcasts(spark):
    """J1: plural_key is dim-sized → AQE must broadcast the join back onto
    blocking_map at runtime (no forced hint — a loose predicate can make
    pkey huge, so the decision belongs to runtime stats)."""
    df = registry.QUERIES["j1_plural_block"](spark, SF_DIR)
    r = plan_report(df, execute=True)
    assert r["broadcast_join"], "plural_key join did not broadcast under AQE"


def test_no_python_udf_in_relational_path(spark):
    """EVERY registered query must stay entirely JVM-side — a Python eval
    node in any of these plans means someone snuck a row-at-a-time UDF
    into a hot path. (Python legitimately appears only outside the
    registry: per-component HAC, multimodal decode batches, and the
    stateful streaming op — all mapInArrow, mapInPandas or
    applyInPandasWithState by design.)"""
    offenders = []
    for name in registry.QUERIES:
        r = _report(spark, name)
        if r["python_udf"]:
            offenders.append(name)
    assert not offenders, f"Python UDF nodes in: {offenders}"


def test_whole_stage_codegen_present(spark):
    """Headline aggregations should run inside whole-stage codegen spans
    (AQE only reveals them in the executed final plan)."""
    df = registry.QUERIES["q1_pricing_summary"](spark, SF_DIR)
    r = plan_report(df, execute=True)
    assert r["codegen_stages"] >= 1


def test_anti_semi_joins_are_dedicated_and_broadcast(spark):
    """J8/J9 must plan as dedicated LeftAnti/LeftSemi broadcast hash joins:
    only the build side materializes, the probe side streams — no payload
    shuffle, no full outer-join fallback."""
    from pgdedupe_spark.plans.inspect import explain_str

    for name, kind in (("j8_anti_join", "LeftAnti"), ("j9_semi_join", "LeftSemi")):
        plan = explain_str(registry.QUERIES[name](spark, SF_DIR))
        assert kind in plan, f"{name}: no {kind} join in plan"
        assert "BroadcastHashJoin" in plan, f"{name}: expected broadcast"


def test_rollup_is_single_expand_aggregate(spark):
    """A10: ROLLUP must evaluate as one Expand + aggregate (one shuffle for
    all grouping sets), not a union of per-set aggregations."""
    from pgdedupe_spark.plans.inspect import explain_str

    plan = explain_str(registry.QUERIES["a10_rollup"](spark, SF_DIR))
    assert "Expand" in plan
    assert plan.count("Exchange") <= 2, plan.count("Exchange")


def test_asof_join_is_single_shuffle_window(spark):
    """The as-of join must plan as hash-partition + in-partition sort
    (union → Window), never a nested loop or cartesian."""
    from pgdedupe_spark.plans.inspect import explain_str

    plan = explain_str(registry.QUERIES["events_asof_join"](spark, SF_DIR))
    assert "Window" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_range_join_is_equi_join(spark):
    """The bucketed range join must be a hash equi-join with the BETWEEN
    residual as its condition — not a nested loop."""
    from pgdedupe_spark.plans.inspect import explain_str

    plan = explain_str(registry.QUERIES["events_range_join"](spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def _n_exchanges(plan: str) -> int:
    """Count physical Exchange nodes once (the formatted plan names each
    node in both the tree and the details section; details lines are
    unique per node id)."""
    import re

    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_weighted_mix_is_scan_local(spark):
    """Corpus mixing must be a zero-shuffle scan filter: the hash-threshold
    decision is per-row, so the plan may contain no Exchange at all."""
    from pgdedupe_spark.plans.inspect import explain_str

    plan = explain_str(registry.QUERIES["corpus_mix_weighted"](spark, SF_DIR))
    assert _n_exchanges(plan) == 0, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_time_weighted_avg_single_shuffle(spark):
    """TWA must hash-partition ONCE: the lead window and the per-key
    aggregation share the same partitioning, so the aggregate adds no
    second exchange."""
    from pgdedupe_spark.plans.inspect import explain_str

    plan = explain_str(registry.QUERIES["events_time_weighted"](spark, SF_DIR))
    assert "Window" in plan
    assert _n_exchanges(plan) == 1, plan


def test_funnel_is_two_aggregations(spark):
    """The ordered funnel is one conditional-agg shuffle (per key) plus the
    single-row stage-count aggregation — two exchanges, no joins."""
    from pgdedupe_spark.plans.inspect import explain_str

    plan = explain_str(registry.QUERIES["events_funnel"](spark, SF_DIR))
    assert _n_exchanges(plan) <= 2, plan
    assert "Join" not in plan


def test_q3_topn_is_take_ordered(spark):
    """Q3's ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-
    partition top-N + driver merge of N rows), never a full global sort,
    and all three date/segment predicates must reach their scans."""
    from pgdedupe_spark.plans.inspect import explain_str

    df = registry.QUERIES["q3_shipping_priority"](spark, SF_DIR)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan
    r = plan_report(df)
    pushed = " ".join(r["pushed_filters"])
    for col in ("c_mktsegment", "o_orderdate", "l_shipdate"):
        assert col in pushed, (col, r["pushed_filters"])


def test_q10_filters_pushed_and_dim_broadcast(spark):
    """Q10: the quarter window and return-flag predicates must reach the
    scans and nation must broadcast."""
    r = _report(spark, "q10_returned_items")
    pushed = " ".join(r["pushed_filters"])
    assert "o_orderdate" in pushed and "l_returnflag" in pushed, r["pushed_filters"]
    assert r["broadcast_join"]


def test_q18_semi_join_is_broadcast(spark):
    """Q18's heavy-orders subquery must attach as a broadcast LEFT SEMI
    join (build side = the tiny HAVING survivors; probe side streams),
    and the final top-N is a TakeOrderedAndProject."""
    from pgdedupe_spark.plans.inspect import explain_str

    plan = explain_str(registry.QUERIES["q18_large_orders"](spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_events_user_state_single_shuffle(spark):
    """The streaming-state batch twin is ONE hash aggregate: exactly one
    exchange (partial agg map-side), no window, no join."""
    from pgdedupe_spark.plans.inspect import explain_str

    plan = explain_str(registry.QUERIES["events_user_state"](spark, SF_DIR))
    assert _n_exchanges(plan) == 1, plan
    assert "Join" not in plan and "Window" not in plan


def test_cube_is_single_expand_aggregate(spark):
    """A13: CUBE must evaluate as one Expand + aggregate, like ROLLUP —
    one shuffle carries all four grouping sets."""
    from pgdedupe_spark.plans.inspect import explain_str

    plan = explain_str(registry.QUERIES["a13_cube"](spark, SF_DIR))
    assert "Expand" in plan
    assert _n_exchanges(plan) <= 2, plan


def test_rolling_windows_share_one_partitioning(spark):
    """W3: the ROWS frames and the time-RANGE frame all partition by
    user_id — one hash exchange feeds every window, never one per
    frame."""
    from pgdedupe_spark.plans.inspect import explain_str

    plan = explain_str(registry.QUERIES["w3_rolling"](spark, SF_DIR))
    assert "Window" in plan
    assert _n_exchanges(plan) == 1, plan


def test_stats_analyze_single_scan(spark):
    """ANALYZE reads the table once (single parquet scan) regardless of
    column count — the oracle's UNION-of-scans shape is what the
    operator avoids."""
    import re

    from pgdedupe_spark.plans.inspect import explain_str

    plan = explain_str(registry.QUERIES["stats_analyze"](spark, SF_DIR))
    # formatted plans name each node in the tree AND a details section —
    # count unique node ids, not substring occurrences
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) == 1, plan


def test_attribution_is_equi_join(spark):
    """The attribution join must hash on user_id with the time range as a
    residual — never a cartesian/nested-loop."""
    from pgdedupe_spark.plans.inspect import explain_str

    plan = explain_str(registry.QUERIES["events_attribution"](spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_retention_and_gapfill_no_python_or_cartesian(spark):
    for name in ("events_retention", "events_gapfill"):
        r = _report(spark, name)
        assert not r["python_udf"], name
        from pgdedupe_spark.plans.inspect import explain_str

        plan = explain_str(registry.QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name


def test_q13_on_clause_filter_pushed_to_orders_scan(spark):
    """Q13: the ON-clause predicate on the null-producing side of a LEFT
    OUTER join is legally pushed below the join — it must reach the orders
    parquet scan as a pushed filter, and the preserved (customer) side
    must NOT acquire any filter."""
    r = _report(spark, "q13_customer_distribution")
    assert any("o_orderpriority" in f for f in r["pushed_filters"]), r["pushed_filters"]


def test_pack_prefix_sum_no_global_window(spark):
    """pack_sequences / corpus_token_budget: the distributed prefix sum
    must never plan a global (no-partition-spec) window over row data —
    ordering runs inside rangepartitioning exchanges. The only permissible
    global window is over the one-row-per-partition totals frame."""
    from pgdedupe_spark.plans.inspect import explain_str

    for name in ("pack_sequences", "corpus_token_budget"):
        plan = explain_str(registry.QUERIES[name](spark, SF_DIR))
        # the ranged+_pid frame is materialized (rangepartitioning lives
        # inside the checkpointed lineage; _pid must be frozen so both
        # consumers agree — packing.py docstring)
        assert "existingrdd" in plan.lower(), name
        for ln in plan.splitlines():
            if "Window" in ln and "n_tok" in ln:
                assert "_pid" in ln, f"{name}: global window over row data:\n{ln}"


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    """100 TB shuffle joins (too big to broadcast) should benefit from
    Spark's runtime bloom-filter semi-join reduction: a selective dim
    side injects a bloom_filter_agg that prunes fact rows BEFORE the
    shuffle. Our join shapes are plain equi-joins, so injection works
    out of the box — pinned here with the thresholds a real cluster
    would size (local test data is below the default 10 GB application
    threshold, hence the overrides)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100GB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = registry._t(spark, SF_DIR, "orders").filter(
            "o_orderpriority = '1-URGENT'"
        )
        l = registry._t(spark, SF_DIR, "lineitem")
        j = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_candidate_pairs_is_plain_block_id_self_join(spark):
    """J7 after blocking has dropped the over-cap blocks: over a
    materialized coverage frame, candidate_pairs is the Kolb self-join
    alone — no Window, and the only hash partitioning is the self-join's
    on block_id (broadcast disabled, the 100 TB regime)."""
    import re

    from pgdedupe_spark.operators.pairs import candidate_pairs
    from pgdedupe_spark.plans.inspect import explain_str

    chain = registry._customer_block_chain(spark, SF_DIR)
    smaller = chain[4].localCheckpoint(eager=True)
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = explain_str(candidate_pairs(smaller))
    finally:
        spark.conf.set(key, saved)
    assert not re.search(r"\bWindow\b", plan), plan
    parts = re.findall(r"hashpartitioning\((\w+)#", plan)
    assert parts and set(parts) == {"block_id"}, plan


def test_cluster_components_is_one_arrow_pass(spark):
    """HAC runs as one mapInArrow call per partition over the
    component-sorted pairs, not as a grouped pandas UDF with one Python
    call per component."""
    from pgdedupe_spark.operators.clustering import cluster_components

    scored = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8), (10, 11, 0.7)], "id1 long, id2 long, score double"
    )
    plan = cluster_components(scored)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_exact_match_edges_is_one_window(spark):
    """J5: the exact-merge edge query is one window, min(cluster) over the
    merge columns, with no aggregate-then-join-back."""
    import re

    from pgdedupe_spark.plans.inspect import explain_str

    plan = explain_str(registry.QUERIES["j5_exact_edges"](spark, SF_DIR), "simple")
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
