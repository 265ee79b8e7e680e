"""Skew utilities: salted two-phase aggregation and salted join must be
result-transparent (identical to the unsalted plan)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pgdedupe_spark.operators.skew import (
    add_salt,
    replicate_small_side,
    salted_aggregate,
)


def _skewed(spark):
    # one hot key (0) holding 80% of rows + a long tail
    rows = [(i, i % 5 if i % 5 else 0, float(i % 97)) for i in range(5000)]
    return spark.createDataFrame(rows, "row_id long, key long, v double")


def test_salted_aggregate_equals_direct(spark):
    df = _skewed(spark)
    got = salted_aggregate(
        df,
        keys=["key"],
        aggs={
            "n": ("count", F.lit(1)),
            "total": ("sum", F.col("v")),
            "lo": ("min", F.col("v")),
            "hi": ("max", F.col("v")),
        },
        unique_col="row_id",
        salt_n=7,
    )
    want = df.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("total"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_salted_join_equals_direct(spark):
    big = _skewed(spark)
    small = spark.createDataFrame([(k, f"dim{k}") for k in range(5)], "key long, name string")
    n = 7
    salted_big = add_salt(big, "row_id", n)
    salted_small = replicate_small_side(small, n)
    got = salted_big.join(salted_small, ["key", "_salt"]).select("row_id", "key", "name")
    want = big.join(small, "key").select("row_id", "key", "name")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_salt_is_deterministic(spark):
    df = _skewed(spark)
    a = sorted(map(tuple, add_salt(df, "row_id", 16).collect()))
    b = sorted(map(tuple, add_salt(df, "row_id", 16).collect()))
    assert a == b


def test_candidate_pairs_hot_block_skew_split_and_cap(spark):
    """VERDICT r8 #4: the J7 self-join under one pathological block. With
    broadcast disabled (the 100 TB regime) and skew thresholds scoped to
    the data size, AQE must actually SPLIT the hot block's partition
    (SortMergeJoin(skew=true) in the executed plan) and the pair count
    must stay exact; max_block_size must drop the pathological block
    entirely (the reference's guard, run.py:293-319). Also documents the
    scale finding: detection is shuffle-INPUT-size-based, so at default
    thresholds a quadratic-OUTPUT block under 256 MB of input never
    splits — the cap is the load-bearing defense, not AQE."""
    from pyspark.sql import functions as F

    from pgdedupe_spark.operators.pairs import candidate_pairs

    H, T = 1500, 60
    hot = spark.range(H).select(
        F.lit("blk_smith").alias("block_id"),
        F.col("id").alias("_unique_id"),
        F.array().cast("array<long>").alias("smaller_ids"),
    )
    tail = spark.range(T * 10).select(
        F.concat(F.lit("t"), (F.col("id") % T).cast("string")).alias("block_id"),
        (F.col("id") + H).alias("_unique_id"),
        F.array().cast("array<long>").alias("smaller_ids"),
    )
    cov = hot.unionByName(tail)
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4096",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4096",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
    }
    saved = {}
    for k, v in conf.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        cnt = candidate_pairs(cov, max_block_size=None).agg(
            F.count(F.lit(1)).alias("n")
        )
        assert cnt.collect()[0]["n"] == H * (H - 1) // 2 + T * 45
        plan = cnt._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan or "AQEShuffleRead skewed" in plan, plan[:2000]
        # the reference's guard: cap drops the hot block, keeps the tail
        assert candidate_pairs(cov, max_block_size=100).count() == T * 45
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_candidate_pairs_cap_audit_no_silent_drops(spark):
    """r10 (VERDICT r9 #8): the cap defaults ON (10000 — the DedupeConfig
    guard value) and drops are never silent: the returned frame carries a
    ``_block_audit`` Observation reporting entries dropped / max block
    size / entries seen, in-band with the first action (no second job)."""
    from pyspark.sql import functions as F

    from pgdedupe_spark.operators.pairs import candidate_pairs

    hot = spark.range(12).select(
        F.lit("hot").alias("block_id"),
        F.col("id").alias("_unique_id"),
        F.array().cast("array<long>").alias("smaller_ids"),
    )
    tail = spark.range(8).select(
        F.concat(F.lit("t"), (F.col("id") % 2).cast("string")).alias("block_id"),
        (F.col("id") + 100).alias("_unique_id"),
        F.array().cast("array<long>").alias("smaller_ids"),
    )
    cov = hot.unionByName(tail)

    # capped at 10: the 12-member hot block drops, the two 4-member tail
    # blocks survive (4·3/2 pairs each)
    pairs = candidate_pairs(cov, max_block_size=10)
    assert pairs.count() == 2 * 6
    audit = pairs._block_audit.get
    assert audit == {
        "entries_dropped": 12,
        "blocks_seen_max": 12,
        "entries_seen": 20,
    }

    # the DEFAULT is capped (10000) and carries the audit; nothing under
    # the cap is dropped here
    dflt = candidate_pairs(cov)
    assert dflt.count() == 12 * 11 // 2 + 2 * 6
    assert dflt._block_audit.get["entries_dropped"] == 0

    # explicit opt-out: no cap, no audit attached
    uncapped = candidate_pairs(cov, max_block_size=None)
    assert uncapped._block_audit is None
    assert uncapped.count() == 12 * 11 // 2 + 2 * 6


def test_candidate_pairs_cap_keeps_pair_of_under_cap_block(spark):
    """A pair whose smallest shared block is over the cap still comes out
    of the smallest shared block under the cap. Four records share key
    ``f``; records 1 and 2 also share ``g``. Capped at 3 the ``f`` block
    drops, and (1, 2) must come out of ``g`` exactly once — the dropped
    ``f`` id may not stay in their ``smaller_ids`` and filter it out."""
    from pgdedupe_spark.operators.blocking import blocking_chain
    from pgdedupe_spark.operators.pairs import candidate_pairs

    entries = spark.createDataFrame(
        [(1, ["f", "g"]), (2, ["f", "g"]), (3, ["f"]), (4, ["f"])],
        "_unique_id long, keys array<string>",
    )
    smaller = blocking_chain(entries, F.col("keys"))[4]
    assert candidate_pairs(smaller, max_block_size=None).count() == 6

    pairs = candidate_pairs(smaller, max_block_size=3)
    assert [(r.id1, r.id2) for r in pairs.collect()] == [(1, 2)]
    assert pairs._block_audit.get == {
        "entries_dropped": 4,
        "blocks_seen_max": 4,
        "entries_seen": 6,
    }
