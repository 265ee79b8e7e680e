"""Stream/batch parity tests: every streaming op, driven over the finite
file source with availableNow, must equal the same computation done in
batch over the same parquet. That parity is the Structured Streaming
correctness contract (same logical plan, incremental execution)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pgdedupe_spark.streaming import (
    dedup_stream,
    hourly_rollup_stream,
    read_events_stream,
    run_to_memory_table,
    sessionize_stream,
    stateful_user_counts,
)
from pgdedupe_spark.streaming.ops import event_time_col

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def batch_events(spark):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    dtype = dict(df.dtypes)["ts"]
    return df.select(
        "event_id",
        event_time_col(dtype).alias("event_time"),
        "user_id",
        "event_type",
        "value",
    )


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def batch_events_for(spark):
    """Non-fixture twin of batch_events for tests that need it outside the
    fixture cache (same derivation, same SF_DIR)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    dtype = dict(df.dtypes)["ts"]
    return df.select(
        "event_id",
        event_time_col(dtype).alias("event_time"),
        "user_id",
        "event_type",
        "value",
    )


def test_dedup_stream_parity(spark, batch_events):
    sdf = dedup_stream(read_events_stream(spark, SF_DIR), ["event_id"])
    got = run_to_memory_table(sdf, "t_dedup")
    # event_ids are unique in the source, so dedup must be the identity
    cols = ["event_id", "event_time", "user_id", "event_type", "value"]
    assert _rows(got, cols) == _rows(batch_events, cols)


def test_hourly_rollup_parity(spark, batch_events):
    sdf = hourly_rollup_stream(read_events_stream(spark, SF_DIR))
    # complete mode: append would hold back windows not yet past the
    # watermark at end-of-stream (correct streaming semantics, but the
    # parity check wants every window)
    got = run_to_memory_table(sdf, "t_rollup", output_mode="complete")
    want = (
        batch_events.groupBy(
            F.date_trunc("hour", "event_time").alias("hour_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )
    cols = ["hour_start", "event_type", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_sessionize_parity(spark, batch_events):
    gap_us = 30 * 60 * 1_000_000
    sdf = sessionize_stream(read_events_stream(spark, SF_DIR), gap="30 minutes")
    got = run_to_memory_table(sdf, "t_sessions", output_mode="complete")

    # batch oracle: classic gaps-and-islands via lag + cumulative sum
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("event_time")
    ev = batch_events.withColumn("ts_us", F.unix_micros("event_time"))
    islands = (
        ev.withColumn("prev_us", F.lag("ts_us").over(w))
        .withColumn(
            "new_session",
            (F.col("prev_us").isNull() | (F.col("ts_us") - F.col("prev_us") >= gap_us)).cast("int"),
        )
        .withColumn("session_no", F.sum("new_session").over(w))
    )
    want = islands.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )
    got_k = ["user_id", "n_events", "sum_value"]
    assert _rows(got, got_k) == _rows(want, got_k)
    # session boundaries: session_window end = last event + gap
    n_sessions = want.count()
    assert got.count() == n_sessions


def test_stateful_user_counts(spark, batch_events):
    sdf = stateful_user_counts(read_events_stream(spark, SF_DIR))
    got = run_to_memory_table(sdf, "t_state", output_mode="update")
    # final state per user (single availableNow batch ⇒ one output row per user)
    final = (
        got.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("last_seen").alias("last_seen"))
    )
    want = batch_events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.max("event_time").alias("last_seen")
    )
    cols = ["user_id", "n_events", "last_seen"]
    assert _rows(final, cols) == _rows(want, cols)


def test_kafka_payload_roundtrip(spark, batch_events):
    """The Kafka codec is pure DataFrame logic: encoding the canonical
    events to wire rows and parsing them back must be the identity, so any
    op downstream of read_events_kafka sees exactly what the file source
    yields (broker-less test of the source wiring)."""
    from pgdedupe_spark.streaming import event_payload, parse_event_payload

    wire = event_payload(batch_events)
    assert wire.columns == ["key", "value"]
    back = parse_event_payload(wire)
    cols = ["event_id", "event_time", "user_id", "event_type", "value"]
    assert _rows(back, cols) == _rows(batch_events, cols)


def test_kafka_parse_drops_poison(spark):
    """Malformed payloads must be dropped, not fail the query."""
    from pgdedupe_spark.streaming import parse_event_payload

    raw = spark.createDataFrame(
        [(None, b"{not json"), (None, b'{"event_id": 7, "ts": 1000000, '
          b'"user_id": 1, "event_type": "click", "value": 2.5}')],
        "key binary, value binary",
    )
    rows = parse_event_payload(raw).collect()
    assert len(rows) == 1 and rows[0].event_id == 7


def test_stateful_final_state_matches_registry(spark):
    """The custom-state op's terminal state must equal the registry's
    `events_user_state` batch query (the driver-visible, oracle-checked
    twin) — closing the loop: stream ⇒ batch op ⇒ DuckDB oracle are all
    the same function (VERDICT r4 #8)."""
    from pgdedupe_spark import registry

    sdf = stateful_user_counts(read_events_stream(spark, SF_DIR))
    got = run_to_memory_table(sdf, "t_state_reg", output_mode="update")
    final = got.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.unix_micros(F.max("last_seen")).alias("last_seen_us"),
    )
    want = registry.QUERIES["events_user_state"](spark, SF_DIR)
    cols = ["user_id", "n_events", "last_seen_us"]
    assert _rows(final, cols) == _rows(want, cols)


def test_stream_stream_join_parity(spark):
    """The stream-STREAM attribution join (two unbounded sides, state
    bounded by watermark + time-range condition) must equal the batch
    twin `events_attribution` — the parity contract extended to the last
    uncovered streaming shape."""
    from pgdedupe_spark import registry
    from pgdedupe_spark.streaming.ops import click_purchase_join_stream

    sdf = click_purchase_join_stream(read_events_stream(spark, SF_DIR))
    got = run_to_memory_table(sdf, "t_attr").select(
        "user_id",
        "purchase_id",
        "click_id",
        F.unix_micros("purchase_time").alias("purchase_us"),
        F.unix_micros("click_time").alias("click_us"),
        "amount",
    )
    want = registry.QUERIES["events_attribution"](spark, SF_DIR)
    cols = ["user_id", "purchase_id", "click_id", "purchase_us", "click_us", "amount"]
    assert _rows(got, cols) == _rows(want, cols)


def test_file_sink_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Operational contract: a restarted query resumes from its checkpoint
    and the parquet sink stays exactly-once — files processed before the
    stop are not re-emitted, files landed while the query was down are
    picked up. This is the property that makes the streaming ingest +
    compact_table maintenance loop safe to run unattended."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def write_batch(lo, hi, name):
        spark.range(lo, hi).select(
            F.col("id").alias("event_id"),
            (F.col("id") * 1000).alias("ts_us"),
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/{name}")

    write_batch(0, 100, "b1")
    schema = "event_id bigint, ts_us bigint"

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = spark.read.parquet(out).count()
    assert first == 100

    # query is DOWN; new data lands; restart resumes from the checkpoint
    write_batch(100, 250, "b2")
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 250                      # no reprocessing of b1
    ids = sorted(r.event_id for r in got.collect())
    assert ids == list(range(250))                 # every event exactly once


def test_stateful_restart_recovers_from_checkpoint(spark, tmp_path, batch_events):
    """Fault injection for the custom stateful operator (VERDICT r5 #4):
    kill the applyInPandasWithState query mid-stream (stop after the first
    committed microbatch, with most input files still unprocessed), restart
    from the same checkpoint, and assert the final per-user state equals
    the batch twin — the state store must replay, not re-add (no duplicate
    counting), and nothing may be lost.

    The max-aggregation over the union of both phases' update outputs is
    kill-point-independent: n_events is monotone per user, and any batch
    emitted-but-uncommitted at the kill is replayed identically after the
    restart, so duplicates collapse."""
    import time

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    # many small files + maxFilesPerTrigger=1 → the stop lands mid-stream
    batch_events.repartition(32).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def stateful(trigger_kwargs):
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

        # the memory sink refuses checkpoint recovery ("this query does not
        # support recovering from checkpoint location"), so updates append
        # to parquet via foreachBatch — an at-least-once sink whose replayed
        # batches the max-aggregation below absorbs by construction
        def append(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        return (
            stateful_user_counts(sdf)
            .writeStream.foreachBatch(append)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(**trigger_kwargs)
            .start()
        )

    # phase 1: free-running trigger; kill after >=1 committed batch
    q1 = stateful({"processingTime": "50 milliseconds"})
    deadline = time.time() + 120
    while time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in q1.recentProgress):
            break
        time.sleep(0.1)
    q1.stop()
    q1.awaitTermination(60)
    done_batches = len([p for p in q1.recentProgress if p["numInputRows"] > 0])
    assert done_batches >= 1, "phase 1 never committed a batch"

    # phase 2: restart from the SAME checkpoint, drain the rest
    q2 = stateful({"availableNow": True})
    q2.awaitTermination(180)

    updates = spark.read.parquet(out)
    final = updates.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.unix_micros(F.max("last_seen")).alias("last_seen_us"),
    )
    want = batch_events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_micros(F.max("event_time")).alias("last_seen_us"),
    )
    cols = ["user_id", "n_events", "last_seen_us"]
    assert _rows(final, cols) == _rows(want, cols)


def test_stream_stream_left_outer_join_parity(spark):
    """Stream-stream LEFT OUTER attribution vs the batch twin
    `events_attribution_outer`. Matched rows must agree exactly. For
    NULL-extended rows the stream carries a documented end-of-stream
    caveat: "no click existed" only becomes provable when the click-side
    watermark passes the purchase time, and with a finite availableNow
    source the final watermark stops at max(event_time) - delay — so
    unmatched purchases NEWER than that stay in state, unemitted. The
    assertion therefore requires stream-null-rows == batch-null-rows
    restricted to provable purchases, and that the stream emitted no row
    the batch doesn't have."""
    from pgdedupe_spark import registry
    from pgdedupe_spark.streaming.ops import purchase_attribution_outer_stream

    sdf = purchase_attribution_outer_stream(read_events_stream(spark, SF_DIR))
    got_df = run_to_memory_table(sdf, "t_attr_outer").select(
        "user_id",
        "purchase_id",
        "click_id",
        F.unix_micros("purchase_time").alias("purchase_us"),
        F.unix_micros("click_time").alias("click_us"),
        "amount",
    )
    cols = ["user_id", "purchase_id", "click_id", "purchase_us", "click_us", "amount"]
    got = set(_rows(got_df, cols))
    want_df = registry.QUERIES["events_attribution_outer"](spark, SF_DIR)
    want = set(_rows(want_df, cols))

    assert got <= want, "stream emitted rows the batch twin does not have"
    matched_want = {r for r in want if r[2] is not None}
    assert {r for r in got if r[2] is not None} == matched_want

    # the GLOBAL watermark is the min across both input sides (each side
    # contributes max(event_time) - delay), so provability must use the
    # min-of-sides basis, not the purchase side alone
    delay_us = 3_600_000_000
    ev = batch_events_for(spark)
    side_max = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.unix_micros(F.max("event_time")).alias("mx"))
        .collect()
    )
    wm_us = min(r.mx for r in side_max) - delay_us
    provable_nulls = {r for r in want if r[2] is None and r[3] < wm_us}
    stream_nulls = {r for r in got if r[2] is None}
    assert provable_nulls <= stream_nulls, (
        len(provable_nulls - stream_nulls), "provably-unmatched purchases missing"
    )


def _hourly_stream_src(tmp_path):
    """24 hourly single-file batches, 100 events each, deliberately
    out-of-order: 10 of every batch's events carry the PREVIOUS hour's
    timestamps (late within the 1h watermark). File mtimes increase so
    maxFilesPerTrigger=1 replays them in order — a 24-hour stream in 24
    microbatches, 2400 rows total."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "state_src")
    os.makedirs(src)
    HOUR = 3_600_000_000
    base = 1_600_000_000_000_000  # epoch µs
    for i in range(24):
        ids, us, users, etypes, values = [], [], [], [], []
        for j in range(100):
            ids.append(i * 100 + j)
            if j >= 90 and i > 0:  # late arrivals from the previous hour
                us.append(base + (i - 1) * HOUR + (40 * 60 + j) * 1_000_000)
            else:
                us.append(base + i * HOUR + j * 30_000_000)  # 30s spacing
            users.append(j % 10)
            etypes.append(("click", "purchase", "view")[j % 3])
            values.append(float(j))
        t = pa.table(
            {"event_id": ids, "us": us, "user_id": users,
             "event_type": etypes, "value": values}
        )
        f = f"{src}/b{i:02d}.parquet"
        pq.write_table(t, f)
        os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    return src


def _drain_with_progress(spark, src, op, name):
    schema = (
        "event_id bigint, us bigint, user_id bigint, event_type string, value double"
    )
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .select(
            "event_id",
            F.timestamp_micros(F.col("us")).alias("event_time"),
            "user_id",
            "event_type",
            "value",
        )
    )
    q = (
        op(sdf)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    series = []
    n_in = 0
    for p in q.recentProgress:
        n_in += p["numInputRows"]
        ops = p.get("stateOperators") or []
        if ops:
            series.append(sum(o["numRowsTotal"] for o in ops))
    return n_in, series


def _assert_plateau(series, peak_bound, label):
    """State must stop growing once the watermark advances: the tail peak
    may not exceed the mid-stream peak (input keeps arriving at the same
    rate, so O(history) state shows up as tail > mid), and the absolute
    peak must stay at the O(rate×delay) bound, far under the 2400 total."""
    assert len(series) >= 20, (label, len(series))
    mid = max(series[6:14])
    tail = max(series[-6:])
    assert tail <= mid * 1.5 + 5, (label, "state still growing", series)
    assert max(series) <= peak_bound, (label, "state over bound", max(series), series)


@pytest.mark.parametrize(
    "opname,peak_bound",
    [
        ("dedup", 500),       # keys within ~2h of watermark ≈ 200 « 2400
        ("sessionize", 150),  # ≤ 10 users × ~3h of open/unfinalized sessions
        ("outer_join", 900),  # both sides' rows within watermark+range ≈ 2×~220
    ],
)
def test_streaming_state_plateaus_after_watermark(spark, tmp_path, opname, peak_bound):
    """O(rate×delay) state, MEASURED from lastProgress rather than
    asserted in docstrings (VERDICT r6 #6): drive a 24-hour out-of-order
    stream (hourly microbatches, 10% late rows) through each stateful op
    and read stateOperators[].numRowsTotal per batch. With a 1h
    watermark, state must plateau after the first ~2 hours and never
    approach the 2400-row history."""
    from pgdedupe_spark.streaming.ops import purchase_attribution_outer_stream

    ops = {
        "dedup": lambda s: dedup_stream(s),
        "sessionize": lambda s: sessionize_stream(s),
        "outer_join": lambda s: purchase_attribution_outer_stream(s),
    }
    src = _hourly_stream_src(tmp_path)
    n_in, series = _drain_with_progress(
        spark, src, ops[opname], f"t_state_{opname}"
    )
    # a stream-stream self-join scans the source once per side, so its
    # progress counts every input row twice
    assert n_in == (4800 if opname == "outer_join" else 2400), n_in
    _assert_plateau(series, peak_bound, opname)


def test_incremental_dedup_stream_matches_batch_reference(spark, tmp_path):
    """Streaming Bloom-screened exact dedup (incremental_dedup_stream,
    new r7): run a 3-microbatch document stream, then assert the flags
    layer equals the batch reference "dup iff an earlier-arriving doc
    shares the normalized text, corpus_id = the introducing id" — across
    epochs AND within an epoch (first-wins by id)."""
    from pgdedupe_spark.streaming.ops import incremental_dedup_stream

    store = str(tmp_path / "store")
    batches = [
        [(0, "alpha text"), (1, "beta text"), (2, "ALPHA  text")],       # 2 dups 0
        [(10, "beta text"), (11, "gamma text"), (12, "gamma text")],     # 10→1, 12→11
        [(20, "Alpha Text"), (21, "delta"), (22, "beta  TEXT")],         # 20→0, 22→1
    ]
    # the expected assignment depends on BATCH ORDER, which a file source
    # does not guarantee across files — so drive the foreachBatch fn
    # directly per batch (the unit under test is the state machine; the
    # real-stream path is covered by the through_real_stream test below)
    fn = incremental_dedup_stream(None, store, "doc_id", "text", 1 << 14, 4)
    for i, rows in enumerate(batches):
        fn(spark.createDataFrame(rows, "doc_id long, text string"), i)

    flags = {
        r.doc_id: (r.is_dup, r.corpus_id)
        for r in spark.read.parquet(f"{store}/flags").collect()
    }
    assert flags == {
        0: (False, None), 1: (False, None), 2: (True, 0),
        10: (True, 1), 11: (False, None), 12: (True, 11),
        20: (True, 0), 21: (False, None), 22: (True, 1),
    }
    # the standing key store holds exactly the introducing ids
    keys = {
        (r.norm, r.first_id)
        for r in spark.read.parquet(f"{store}/keys").collect()
    }
    assert keys == {("alpha text", 0), ("beta text", 1),
                    ("gamma text", 11), ("delta", 21)}


def test_incremental_dedup_stream_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running an epoch (same batch id,
    same data) must leave flags/keys/bloom byte-identical — the epoch-
    partition overwrite + epoch<current replay guard working together."""
    from pgdedupe_spark.streaming.ops import incremental_dedup_stream

    store = str(tmp_path / "store")
    fn = incremental_dedup_stream(None, store, "doc_id", "text", 1 << 14, 4)
    b0 = spark.createDataFrame([(0, "aa"), (1, "bb")], "doc_id long, text string")
    b1 = spark.createDataFrame([(10, "aa"), (11, "cc")], "doc_id long, text string")
    fn(b0, 0)
    fn(b1, 1)

    def snapshot():
        return {
            layer: sorted(
                tuple(r) for r in spark.read.parquet(f"{store}/{layer}").collect()
            )
            for layer in ("flags", "keys", "bloom")
        }

    before = snapshot()
    fn(b1, 1)  # replayed epoch
    assert snapshot() == before
    # and the replay did not corrupt semantics for a subsequent batch
    fn(spark.createDataFrame([(20, "cc")], "doc_id long, text string"), 2)
    flags = {
        r.doc_id: (r.is_dup, r.corpus_id)
        for r in spark.read.parquet(f"{store}/flags").collect()
    }
    assert flags[20] == (True, 11)


def test_epoch_layer_unreadable_file_raises_not_empty_state(spark, tmp_path):
    """Only a MISSING state layer reads as empty. A layer that exists but
    cannot be read (here a non-parquet ``part-*.parquet`` file in the
    standing Bloom layer) must make the batch raise: reading it as empty
    state would flag every previously-seen doc as novel."""
    import os

    import pytest

    from pgdedupe_spark.streaming.ops import incremental_dedup_stream

    store = str(tmp_path / "store")
    fn = incremental_dedup_stream(None, store, "doc_id", "text", 1 << 14, 4)
    fn(spark.createDataFrame([(0, "aa"), (1, "bb")], "doc_id long, text string"), 0)
    junk = os.path.join(store, "bloom", "epoch=0", "part-99999-junk.parquet")
    with open(junk, "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="part-99999-junk.parquet"):
        fn(spark.createDataFrame([(10, "aa")], "doc_id long, text string"), 1)
    assert not os.path.exists(os.path.join(store, "flags", "epoch=1"))


def test_incremental_dedup_stream_through_real_stream(spark, tmp_path):
    """End-to-end through a real Structured Streaming query (file source,
    availableNow, checkpointed foreachBatch): every doc flagged exactly
    once, exactly one introducing doc per distinct normalized text, and
    every dup's corpus_id is an arrival-consistent introducer (file
    order is source-internal, so the pin is consistency, not a fixed
    assignment)."""
    from pgdedupe_spark.streaming.ops import incremental_dedup_stream

    src = str(tmp_path / "in")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    rows = [(i, f"doc {i % 7}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.repartition(8).write.parquet(src)
    schema = spark.read.parquet(src).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        sdf.writeStream.foreachBatch(
            incremental_dedup_stream(None, store, "doc_id", "text", 1 << 14, 4)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(f"{store}/flags").collect()
    assert sorted(r.doc_id for r in out) == list(range(40))  # exactly once
    introducers = [r.doc_id for r in out if not r.is_dup]
    assert len(introducers) == 7  # one per distinct norm
    by_id = {r.doc_id: r for r in out}
    for r in out:
        if r.is_dup:
            intro = by_id[r.corpus_id]
            assert not intro.is_dup and intro.doc_id % 7 == r.doc_id % 7


def test_sliding_rollup_parity_and_topk(spark, batch_events):
    """Sliding-window counts from the stream equal the batch twin's
    window expansion exactly, and trending_topk ranks them to the same
    top-3 the events_trending oracle pins."""
    from pgdedupe_spark.streaming.ops import sliding_rollup_stream, trending_topk

    sdf = sliding_rollup_stream(read_events_stream(spark, SF_DIR))
    got = run_to_memory_table(sdf, "t_sliding", output_mode="complete")
    want = (
        batch_events.groupBy(
            F.window("event_time", "2 hours", "1 hour"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("win_start"), "event_type", "n_events")
    )
    cols = ["win_start", "event_type", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)

    # every event lands in exactly width/slide = 2 windows
    assert got.agg(F.sum("n_events")).collect()[0][0] == 2 * batch_events.count()

    top = trending_topk(want, k=3)
    per_win = {r["win_start"]: r["rk"] for r in top.collect() if r["rk"] == 3}
    assert per_win, "expected at least one full top-3 window"
    assert top.filter(F.col("rk") > 3).count() == 0


def test_near_dup_stream_matches_batch_minhash(spark, tmp_path):
    """Streaming MinHash-LSH near-dup (near_dup_stream, r9): the union of
    the per-epoch pairs layers over a 3-batch stream must equal the batch
    operator over the full corpus bit-for-bit (stateless hashes — the
    same append == rebuild property the persisted index pins), with every
    pair emitted in exactly one epoch (its later member's)."""
    from pgdedupe_spark.operators.dedup import minhash_lsh_pairs
    from pgdedupe_spark.streaming.ops import near_dup_stream

    def body(seed: int) -> str:
        return " ".join(f"w{(seed * 31 + k * 7) % 1009}" for k in range(30))

    batches = [
        [(0, body(0)), (1, body(1)), (2, body(0) + " xtra")],      # (0,2) in-batch
        [(10, body(1) + " xtra"), (11, body(11))],                  # (1,10) cross
        [(20, body(0) + " yy"), (21, body(11) + " xtra")],          # (0,20),(2,20),(11,21)
    ]
    store = str(tmp_path / "neardup")
    fn = near_dup_stream(None, store, "doc_id", "text", num_hashes=32, bands=8)
    for i, rows in enumerate(batches):
        fn(spark.createDataFrame(rows, "doc_id long, text string"), i)

    streamed = {
        (r.id1, r.id2, r.jaccard)
        for r in spark.read.parquet(f"{store}/pairs").collect()
    }
    corpus = spark.createDataFrame(
        [r for b in batches for r in b], "doc_id long, text string"
    )
    batch = {
        (r.id1, r.id2, r.jaccard)
        for r in minhash_lsh_pairs(
            corpus, "doc_id", "text", num_hashes=32, bands=8
        ).collect()
    }
    assert streamed == batch and streamed
    # every pair lands in exactly one epoch — no cross-epoch duplicates
    rows = spark.read.parquet(f"{store}/pairs").collect()
    assert len(rows) == len({(r.id1, r.id2) for r in rows})
    # cross-batch pair surfaced in the later member's epoch
    by_pair = {(r.id1, r.id2): r.epoch for r in rows}
    assert by_pair[(1, 10)] == 1
    assert by_pair[(0, 2)] == 0


def test_near_dup_stream_replay_is_idempotent(spark, tmp_path):
    from pgdedupe_spark.streaming.ops import near_dup_stream

    def body(seed: int) -> str:
        return " ".join(f"w{(seed * 31 + k * 7) % 1009}" for k in range(30))

    store = str(tmp_path / "neardup")
    fn = near_dup_stream(None, store, "doc_id", "text", num_hashes=32, bands=8)
    b0 = spark.createDataFrame([(0, body(0)), (1, body(1))], "doc_id long, text string")
    b1 = spark.createDataFrame([(10, body(0) + " xtra")], "doc_id long, text string")
    fn(b0, 0)
    fn(b1, 1)

    def snapshot():
        return {
            layer: sorted(
                tuple(r) for r in spark.read.parquet(f"{store}/{layer}").collect()
            )
            for layer in ("pairs", "buckets", "shingles")
        }

    before = snapshot()
    fn(b1, 1)  # at-least-once replay
    assert snapshot() == before
    # replay did not corrupt a subsequent batch's view of the state
    fn(spark.createDataFrame([(20, body(0) + " zz")], "doc_id long, text string"), 2)
    pairs = {
        (r.id1, r.id2)
        for r in spark.read.parquet(f"{store}/pairs").collect()
    }
    assert (0, 10) in pairs and (0, 20) in pairs and (10, 20) in pairs


def test_curation_prep_stream_matches_batch_reference(spark, tmp_path):
    """Streaming curation composition (curation_prep_stream, new r11 —
    VERDICT r10 #10): gate + incremental exact dedup over 3 microbatches
    must keep exactly the batch pipeline's gate ∩ first-wins-dedup
    survivors under arrival order (epoch, id); gate rejects must never
    enter the dedup state (a gated-out early copy cannot canonicalize a
    later clean one)."""
    from pgdedupe_spark.operators.dedup import normalize_text
    from pgdedupe_spark.operators.text import gopher_quality
    from pgdedupe_spark.operators.text import llm_gate_filter
    from pgdedupe_spark.streaming.ops import curation_prep_stream

    passing = " ".join(
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet".split()
        * 6
    )  # 60 words, clean stats -> passes the gate
    other = " ".join(
        "kilo lima mike november oscar papa quebec romeo sierra tango".split() * 6
    )
    short = "too short"  # fails n_words >= 50
    batches = [
        [(0, passing), (1, short), (2, other)],
        # 10 duplicates 0 (kept docs dedup against the standing corpus);
        # 11 re-sends the gated-out SHORT text at gate-passing length? no:
        # 11 is a fresh passing doc; 12 duplicates 2 within-stream
        [(10, passing.upper()), (11, passing + " extra unique suffix words here"), (12, other)],
        # 20 duplicates the batch-1 doc 11; 21 passes fresh
        [(20, passing + " extra unique suffix words here"), (21, other + " more fresh ideas")],
    ]
    store = str(tmp_path / "store")
    fn = curation_prep_stream(None, store, "doc_id", "text", 1 << 14, 4)
    for i, rows in enumerate(batches):
        fn(spark.createDataFrame(rows, "doc_id long, text string"), i)

    kept = {r.doc_id for r in spark.read.parquet(f"{store}/kept").collect()}

    # batch reference: gate over the full corpus, then first-wins dedup
    # in arrival order (epoch, id) on the normalized text
    all_rows = [
        (doc_id, text, epoch)
        for epoch, rows in enumerate(batches)
        for doc_id, text in rows
    ]
    corpus = spark.createDataFrame(all_rows, "doc_id long, text string, epoch long")
    gate_ids = {
        r.doc_id
        for r in llm_gate_filter(gopher_quality(corpus, "doc_id", "text")).collect()
    }
    seen: dict[str, int] = {}
    expect = set()
    for doc_id, text, epoch in sorted(all_rows, key=lambda r: (r[2], r[0])):
        if doc_id not in gate_ids:
            continue
        norm = (
            corpus.filter(F.col("doc_id") == doc_id)
            .select(normalize_text(F.col("text")).alias("n"))
            .collect()[0].n
        )
        if norm not in seen:
            seen[norm] = doc_id
            expect.add(doc_id)
    assert kept == expect, (kept, expect)
    assert 1 not in kept  # gate reject
    assert 10 not in kept and 12 not in kept and 20 not in kept  # dups

    # kept rows carry the full document payload for the downstream stage
    cols = set(spark.read.parquet(f"{store}/kept").columns)
    assert {"doc_id", "text", "epoch"} <= cols


def test_curation_prep_stream_replay_idempotent_and_gate_isolation(spark, tmp_path):
    """A replayed epoch rewrites identical kept/flags/keys data; and a
    text that FAILED the gate earlier does not own its dedup key — a
    later clean arrival of equivalent text is kept."""
    from pgdedupe_spark.streaming.ops import curation_prep_stream

    clean = " ".join(
        "uniform victor whiskey xray yankee zulu amber bronze copper dusk".split() * 6
    )
    store = str(tmp_path / "store")
    fn = curation_prep_stream(None, store, "doc_id", "text", 1 << 14, 4)
    # epoch 0: a SHORT (gated-out) fragment of nothing in particular
    fn(spark.createDataFrame([(0, "tiny fragment")], "doc_id long, text string"), 0)
    # epoch 1: a clean doc
    b1 = spark.createDataFrame([(10, clean)], "doc_id long, text string")
    fn(b1, 1)

    def snapshot():
        return {
            layer: sorted(
                tuple(r) for r in spark.read.parquet(f"{store}/{layer}").collect()
            )
            for layer in ("kept", "flags", "keys")
        }

    before = snapshot()
    fn(b1, 1)  # at-least-once replay
    assert snapshot() == before
    kept = {r.doc_id for r in spark.read.parquet(f"{store}/kept").collect()}
    assert kept == {10}
    # the gated-out doc 0 never entered the dedup state
    keys = {r.first_id for r in spark.read.parquet(f"{store}/keys").collect()}
    assert keys == {10}


# ---------------------------------------------------------------------------
# Streaming gazetteer serve with canonical-set growth (r12)


def _gaz_score():
    a, b = F.col("name"), F.col("gaz_name")
    return F.lit(1.0) - F.levenshtein(a, b).cast("double") / F.greatest(
        F.length(a), F.length(b), F.lit(1)
    ).cast("double")


def _gaz_setup(spark, tmp_path):
    from pgdedupe_spark.operators.linkage import write_gazetteer

    canon = spark.createDataFrame(
        [(100, "nyc", "acme corporation"), (101, "sfo", "initech llc")],
        "ent_id long, city string, name string",
    )
    gaz = str(tmp_path / "gaz")
    write_gazetteer(canon, "ent_id", ["city"], ["name"], gaz, n_buckets=8)
    return gaz


def test_gazetteer_stream_growth_loop_and_replay(spark, tmp_path):
    """Batch 1's unmatched record becomes a canonical entity (growth
    overlay); batch 2 matches against it — the update-then-search loop.
    Replaying an epoch is byte-identical (the replay guard keeps a
    retried epoch from matching its own growth), and a gazetteer rebuild
    drops the overlay."""
    from pgdedupe_spark.operators.linkage import gazetteer_match, write_gazetteer
    from pgdedupe_spark.streaming.ops import gazetteer_stream

    gaz = _gaz_setup(spark, tmp_path)
    store = str(tmp_path / "out")
    fn = gazetteer_stream(gaz, store, "ent_id", _gaz_score(), threshold=0.7)

    b1 = spark.createDataFrame(
        [(200, "nyc", "acme corpration"),   # typo → matches 100
         (201, "chi", "hooli inc")],        # no block → grows
        "ent_id long, city string, name string",
    )
    fn(b1, 0)
    m0 = {r.ent_id: r for r in spark.read.parquet(f"{store}/matches")
          .filter("epoch = 0").collect()}
    assert m0[200].gaz_id == 100 and 201 not in m0

    # batch 2: matches the entity batch 1 grew
    b2 = spark.createDataFrame(
        [(300, "chi", "hooli inc")], "ent_id long, city string, name string"
    )
    fn(b2, 1)
    m1 = spark.read.parquet(f"{store}/matches").filter("epoch = 1").collect()
    assert len(m1) == 1 and m1[0].gaz_id == 201

    # stream ≡ batch: epoch-1 matches equal a batch gazetteer_match
    # against base ∪ epoch-0 growth (the overlay reader path)
    batch_twin = gazetteer_match(
        spark, gaz, b2, "ent_id", _gaz_score(), threshold=0.7
    ).collect()
    key = lambda r: (r.ent_id, r.gaz_id, r.score, r.rank)  # noqa: E731
    assert sorted(map(key, m1)) == sorted(map(key, batch_twin))

    # replay epoch 0: byte-identical matches and overlay; the retried
    # epoch must NOT match its own earlier growth (201 stays unmatched)
    before_matches = sorted(map(tuple, spark.read.parquet(f"{store}/matches").collect()))
    before_overlay = sorted(
        map(tuple, spark.read.parquet(f"{gaz}/records_stream").collect())
    )
    fn(b1, 0)
    assert sorted(
        map(tuple, spark.read.parquet(f"{store}/matches").collect())
    ) == before_matches
    assert sorted(
        map(tuple, spark.read.parquet(f"{gaz}/records_stream").collect())
    ) == before_overlay

    # rebuild supersedes growth: the overlay directory is dropped
    canon2 = spark.createDataFrame(
        [(100, "nyc", "acme corporation")], "ent_id long, city string, name string"
    )
    write_gazetteer(canon2, "ent_id", ["city"], ["name"], gaz, n_buckets=8)
    import os as _os

    assert not _os.path.exists(f"{gaz}/records_stream")


def test_gazetteer_stream_within_batch_both_canonicalize(spark, tmp_path):
    """Two same-entity records arriving in ONE batch both grow (records
    match only the pre-batch canonical set — the dedupe Gazetteer's
    update-then-search semantics), and the next batch matches the
    earlier-grown one deterministically by the rank tie-break."""
    from pgdedupe_spark.streaming.ops import gazetteer_stream

    gaz = _gaz_setup(spark, tmp_path)
    store = str(tmp_path / "out")
    fn = gazetteer_stream(gaz, store, "ent_id", _gaz_score(), threshold=0.7)
    b1 = spark.createDataFrame(
        [(400, "lax", "pied piper"), (401, "lax", "pied piper")],
        "ent_id long, city string, name string",
    )
    fn(b1, 0)
    # an all-unmatched epoch leaves the matches layer file-less: read
    # with the explicit schema, per the layer contract in the docstring
    mschema = "ent_id long, gaz_id long, score double, rank int, epoch long"
    assert (
        spark.read.schema(mschema).parquet(f"{store}/matches")
        .filter("epoch = 0").count() == 0
    )
    grown = {r.ent_id for r in spark.read.parquet(f"{gaz}/records_stream").collect()}
    assert grown == {400, 401}

    b2 = spark.createDataFrame(
        [(500, "lax", "pied piper")], "ent_id long, city string, name string"
    )
    fn(b2, 1)
    m = spark.read.parquet(f"{store}/matches").filter("epoch = 1").collect()
    assert len(m) == 1 and m[0].gaz_id == 400  # exact tie → ascending gaz_id


def test_streaming_dedup_probe_self_checks(spark):
    """The r13 bench probe's in-band self-checks must all be clean:
    stream ≡ batch for the rollup (both exceptAll counts 0) and the
    foreachBatch incremental dedup must match the batch first-wins
    reference for every doc."""
    from pgdedupe_spark import registry

    row = registry.QUERIES["streaming_dedup_probe"](spark, SF_DIR).collect()[0]
    assert row.rollup_only_stream == 0
    assert row.rollup_only_batch == 0
    assert row.dedup_mismatches == 0
    assert row.n_docs > 0
    assert row.rollup_rows > 0
