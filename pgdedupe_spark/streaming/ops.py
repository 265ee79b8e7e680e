"""Structured Streaming operators over the `events` table.

The reference is pure batch (SURVEY.md §2.9) — these are north-star
extensions for a continuously-ingesting training-data pipeline. Each op is a
*transformation on an unbounded DataFrame*, so the identical logical plan
runs over Kafka/file/rate sources in production; tests drive them with the
file source + `trigger(availableNow=True)` and assert equality against the
batch computation on the same parquet (stream/batch parity is the
correctness contract Structured Streaming gives us).

Scale design:
* Watermarks bound state: dedup and window state are dropped once the event
  time passes `watermark delay`, so state size is O(arrival rate × delay),
  not O(history). At 100 TB/day the delay is the knob that trades
  late-duplicate detection for executor memory.
* `dropDuplicatesWithinWatermark` keys state by the dedup columns only —
  unlike `dropDuplicates`, it does not keep every historical key forever.
* Session windows use the native `session_window` aggregation (state-store
  backed, merge-on-update) rather than a custom stateful UDF, so state is
  RocksDB-spillable on a real cluster.
* The one custom stateful op (`stateful_user_counts`) uses
  `applyInPandasWithState` with GroupStateTimeout — the pattern for
  operators Spark lacks natively.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def event_time_col(dtype: str):
    """Column expression turning the events `ts` column (whatever encoding
    this testdata generation uses — nanos-as-long BIGINT, timestamp_ntz, or
    timestamp) into a watermarkable TIMESTAMP named for the µs instant.
    Shared by the stream reader and the batch-parity fixtures so both sides
    of the stream/batch contract use one derivation. tz note: the NTZ
    branch goes through an epoch-µs integer (tz-independent) and
    `timestamp_micros` (UTC-instant), never a session-tz cast."""
    if dtype == "bigint":
        return F.timestamp_micros(F.expr("ts DIV 1000"))
    if dtype == "timestamp_ntz":
        return F.timestamp_micros(
            F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
        )
    return F.col("ts").cast("timestamp")


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the driver's events parquet. Schema must be
    declared up front (streaming reads can't infer); we take it from a batch
    read so stream and batch stay in lockstep."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    if os.path.isfile(path):
        # the file streaming source requires a directory (it monitors for
        # new files); stage a symlink dir for single-file test data
        import hashlib

        d = os.path.join(
            "/tmp", "pgdedupe_spark_stream", hashlib.md5(path.encode()).hexdigest()[:12]
        )
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, "events.parquet")
        if not os.path.exists(link):
            os.symlink(path, link)
        path = d
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    sdf = reader.parquet(path)
    dtype = {f.name: f.dataType.simpleString() for f in schema.fields}["ts"]
    return sdf.select(
        "event_id",
        event_time_col(dtype).alias("event_time"),
        "user_id",
        "event_type",
        "value",
    )


def dedup_stream(
    events: DataFrame, keys: list[str] | None = None, delay: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, with state
    bounded by the watermark (duplicates arriving later than `delay` after
    the original pass through — the documented at-least-once trade-off)."""
    return events.withWatermark("event_time", delay).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def hourly_rollup_stream(events: DataFrame, delay: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window rollup — the streaming twin of the batch
    `events_hourly_rollup` query (same grouping, same aggregates), emitting
    finalized windows once the watermark passes."""
    return (
        events.withWatermark("event_time", delay)
        .groupBy(F.window("event_time", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", delay: str = "1 hour"
) -> DataFrame:
    """Per-user session windows: events within `gap` of each other merge
    into one session. Native `session_window` keeps merge state in the state
    store (no custom UDF state to manage)."""
    return (
        events.withWatermark("event_time", delay)
        .groupBy(F.session_window("event_time", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stateful_user_counts(events: DataFrame, delay: str = "1 hour") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user event count + last-seen time. The template for operators the
    built-ins can't express (per-key model state, CEP, custom eviction)."""
    import pandas as pd  # noqa: F401 — worker-side import

    out_schema = "user_id long, n_events long, last_seen timestamp"
    state_schema = "n long"

    def update(key, pdf_iter, state):
        n = state.get[0] if state.exists else 0
        last = None
        for pdf in pdf_iter:
            n += len(pdf)
            m = pdf["event_time"].max()
            last = m if last is None else max(last, m)
        state.update((n,))
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "last_seen": [last]}
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("event_time", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_memory_table(sdf: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Drive a streaming DataFrame to completion over the finite file source
    (`availableNow`) and return the materialized result as a batch DF —
    the test harness for every op above."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


def click_purchase_join_stream(
    events: DataFrame, window: str = "1 hour", delay: str = "1 hour"
) -> DataFrame:
    """Stream-STREAM inner join: each purchase joined to the same user's
    clicks in the preceding ``window`` — the attribution join, and the one
    streaming shape the other ops here don't cover (two unbounded sides).

    State on BOTH sides is bounded by the watermark + the time-range
    condition: a click can only match purchases within ``window`` after
    it, so once the watermark passes click_time + window the click's
    state row drops. Without the range condition the join would be
    rejected (unbounded state) — Structured Streaming enforces exactly
    the discipline a 100 TB deployment needs anyway. The batch twin
    (registry `events_attribution`) is the same logical join; parity is
    pinned in tests/test_streaming.py."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("event_time").alias("click_time"),
        )
        .withWatermark("click_time", delay)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("event_time").alias("purchase_time"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_time", delay)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"""
            c_user = p_user AND
            click_time < purchase_time AND
            click_time >= purchase_time - INTERVAL {window}
            """
        ),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        "purchase_time",
        "click_time",
        "amount",
    )


def purchase_attribution_outer_stream(
    events: DataFrame, window: str = "1 hour", delay: str = "1 hour"
) -> DataFrame:
    """Stream-STREAM **left-outer** join: every purchase, attributed to the
    same user's clicks in the preceding ``window`` — or emitted with NULL
    click columns once the watermark proves no matching click can still
    arrive. The outer variant is the shape
    :func:`click_purchase_join_stream` (inner) cannot answer: "which
    purchases had NO preceding click?" — the question conversion analysis
    actually asks.

    Mechanics the inner join doesn't exercise: the unmatched purchase row
    is NOT emitted when first seen — the engine must hold it in state
    until the click-side watermark passes purchase_time (only then is
    "no click existed" provable), so outer results arrive late by up to
    the watermark delay. Both sides' state stays watermark+range bounded
    exactly as in the inner case. Batch twin: registry
    `events_attribution_outer` (same logical join, NULL-extending);
    parity pinned in tests/test_streaming.py."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("event_time").alias("click_time"),
        )
        .withWatermark("click_time", delay)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("event_time").alias("purchase_time"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_time", delay)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"""
            c_user = p_user AND
            click_time < purchase_time AND
            click_time >= purchase_time - INTERVAL {window}
            """
        ),
        "leftOuter",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        "purchase_time",
        "click_time",
        "amount",
    )


def _read_epoch_layer(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """An epoch-partitioned state layer read with an explicit ``schema``
    — empty when ``path`` does not exist yet (the first epoch, or a
    layer no epoch has written). Only a MISSING path reads as empty: any
    other failure (corrupt footer, permissions, transient FS) raises and
    aborts the batch, because an empty fallback would, say, flag every
    previously-seen doc as novel and permanently corrupt the state.
    Existence goes through the Hadoop FS API, not a try/except read: a
    thrown AnalysisException also reaches Spark's ExecutionListenerBus
    and logs an ERROR line per batch (the similarity._read_index_layer
    rule)."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).exists(p):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)


def incremental_dedup_stream(
    docs: DataFrame,
    store_dir: str,
    id_col: str,
    text_col: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
):
    """Streaming twin of ``dedup.incremental_exact_flags``: flag every
    arriving document as duplicate-of-the-corpus-so-far (exact, on the
    normalized text) while MAINTAINING the standing corpus state across
    microbatches. Returns a ``foreachBatch`` function to attach to
    ``docs.writeStream.foreachBatch(...)``.

    State layout under ``store_dir`` — three epoch-partitioned parquet
    layers, every write an overwrite of THIS epoch's partition so a
    replayed batch (at-least-once foreachBatch) rewrites identical data
    instead of duplicating it (idempotence pinned in
    tests/test_streaming.py):

    * ``keys/epoch=N``  — (norm, first_id) the batch introduced;
    * ``bloom/epoch=N`` — the Bloom DELTA (sketches.bloom_build) of
      exactly those novel keys: reading the standing filter is a union +
      bit_or over bounded rows (sketches.bloom_merge semantics), and no
      batch ever rebuilds another batch's bits — the mergeable-layer
      story, applied to streaming state;
    * ``flags/epoch=N`` — the output (id, is_dup, corpus_id, epoch).

    Per batch the plan is the batch operator's: screen against the
    standing filter scan-locally, exact-confirm only maybe-dup rows
    against the key store, resolve within-batch first-wins (min id per
    norm) in one window, append the novel keys + their Bloom delta.
    Duplicate semantics match the batch reference exactly: a doc is a
    dup iff some earlier-arriving doc (prior epoch, or same epoch with
    a smaller id) shares its normalized text; corpus_id is the id that
    introduced the key."""
    from pyspark.sql import Window

    from pgdedupe_spark.operators.dedup import normalize_text
    from pgdedupe_spark.operators.sketches import bloom_build, bloom_might_contain

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        normed = batch_df.select(
            F.col(id_col), normalize_text(F.col(text_col)).alias("_norm")
        ).localCheckpoint()  # freeze: the source frame is only valid in-batch

        # replay guard: a retried epoch must not see its own failed writes
        prior = F.col("epoch") < F.lit(epoch_id)
        keys = _read_epoch_layer(
            spark, f"{store_dir}/keys", "norm string, first_id long, epoch long"
        ).filter(prior)
        bloom = (
            _read_epoch_layer(
                spark, f"{store_dir}/bloom", "word_idx long, bits long, epoch long"
            )
            .filter(prior)
            .groupBy("word_idx")
            .agg(F.bit_or("bits").alias("bits"))
        )

        screened = bloom_might_contain(
            normed, "_norm", bloom, num_bits, num_hashes, id_col, "_maybe"
        )
        confirmed = (
            screened.filter(F.col("_maybe"))
            .join(
                keys.groupBy("norm").agg(F.min("first_id").alias("_prior_id")),
                F.col("_norm") == F.col("norm"),
            )
            .select(id_col, "_prior_id")
        )
        w = Window.partitionBy("_norm").orderBy(F.col(id_col))
        resolved = (
            screened.join(confirmed, id_col, "left")
            .withColumn("_batch_first", F.min(id_col).over(w))
            .select(
                F.col(id_col),
                F.coalesce(
                    "_prior_id",
                    F.when(F.col("_batch_first") < F.col(id_col), F.col("_batch_first")),
                ).alias("corpus_id"),
                "_norm",
            )
            .withColumn("is_dup", F.col("corpus_id").isNotNull())
            .localCheckpoint()  # one computation feeds three writes
        )
        resolved.select(
            id_col, "is_dup", "corpus_id", F.lit(epoch_id).alias("epoch")
        ).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("epoch").parquet(f"{store_dir}/flags")
        novel = resolved.filter(~F.col("is_dup")).select(
            F.col("_norm").alias("norm"), F.col(id_col).alias("first_id")
        )
        novel.withColumn("epoch", F.lit(epoch_id)).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("epoch").parquet(f"{store_dir}/keys")
        bloom_build(novel, "norm", num_bits, num_hashes).withColumn(
            "epoch", F.lit(epoch_id)
        ).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("epoch").parquet(f"{store_dir}/bloom")
        # SCALE.md rule 7: checkpoint blocks outlive unpersist(); a
        # long-running stream would accumulate one pair per microbatch
        from pgdedupe_spark.operators.clustering import _free_local_checkpoint

        _free_local_checkpoint(normed)
        _free_local_checkpoint(resolved)

    return process_batch


def sliding_rollup_stream(
    events: DataFrame,
    width: str = "2 hours",
    slide: str = "1 hour",
    delay: str = "1 hour",
) -> DataFrame:
    """Sliding-window per-type counts — the 'trending now' primitive
    (each event lands in width/slide overlapping windows; finalized
    windows emit once the watermark passes their end). Ranking to top-k
    is deliberately NOT in the stream: append-mode streams can't run
    window functions, so rank finalized windows downstream with
    :func:`trending_topk` (foreachBatch or a batch job over the sink) —
    the same split the batch twin `events_trending` pins with a full
    oracle. State is one count row per (window, type): O(width/slide ×
    types × windows-in-flight), watermark-bounded."""
    return (
        events.withWatermark("event_time", delay)
        .groupBy(F.window("event_time", width, slide), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
        )
    )


def trending_topk(windows: DataFrame, k: int = 3) -> DataFrame:
    """Rank finalized sliding windows to the top-k types per window
    (deterministic: count desc, then type). Batch side of
    :func:`sliding_rollup_stream`."""
    from pyspark.sql import Window as W

    w = W.partitionBy("win_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        windows.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def near_dup_stream(
    docs: DataFrame,
    store_dir: str,
    id_col: str,
    text_col: str,
    n: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.6,
):
    """Streaming NEAR-duplicate detection — the MinHash-LSH sibling of
    :func:`incremental_dedup_stream` (r9; completes the incremental
    story the persisted minhash index opened in
    ``dedup.minhash_index_append``): every arriving document is checked
    against the corpus-so-far for Jaccard ≥ ``threshold`` near-dups,
    while the standing signature state grows by exactly one batch scan
    per microbatch. Returns a ``foreachBatch`` function.

    State under ``store_dir`` — epoch-partitioned parquet layers, every
    write a dynamic overwrite of THIS epoch's partition so at-least-once
    replays rewrite identical data (idempotence pinned):

    * ``buckets/epoch=N``  — the batch's (id, _band, _bkey) rows, the
      banded-bucket projection of its minhash signatures;
    * ``shingles/epoch=N`` — the batch's (id, _sh) arrays (verify side);
    * ``pairs/epoch=N``    — output: verified near-dup pairs with at
      least one side in this batch, (id1 < id2)-normalized.

    Because ids arrive once and each batch probes {standing ∪ itself},
    every near-dup pair is emitted in EXACTLY one epoch (the later
    member's) — the union of the pairs layers over a whole stream equals
    the batch operator ``dedup.minhash_lsh_pairs`` over the full corpus,
    bit-for-bit (pinned in tests/test_streaming.py). MinHash's hashes
    are stateless, so the standing buckets never need recomputation or
    retraining — the same append ≡ rebuild property the persisted index
    pins. The candidate join and the verify are the batch operator's own
    (``dedup._lsh_candidates`` with the batch's ids as the probe over
    standing ∪ batch buckets, then ``dedup._jaccard_verify``), the
    standing-state-reuse case of the index probe. At 100 TB: per batch
    one scan of the batch (signatures), one bucket equi-join against
    standing state keyed by (_band, _bkey), and a candidates-only verify
    join — never a corpus rescan."""
    from pgdedupe_spark.operators.clustering import _free_local_checkpoint
    from pgdedupe_spark.operators.dedup import (
        _jaccard_verify,
        _lsh_candidates,
        _minhash_shingles_and_buckets,
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        id_type = batch_df.schema[id_col].dataType.simpleString()
        sh, buckets = _minhash_shingles_and_buckets(
            batch_df, id_col, text_col, n, num_hashes, bands, persist=False,
        )
        # freeze: the streaming source frame is only valid in-batch, and
        # one signature computation feeds the probe join AND two writes
        sh = sh.localCheckpoint()
        buckets = buckets.localCheckpoint()

        prior = F.col("epoch") < F.lit(epoch_id)  # replay guard
        standing_b = _read_epoch_layer(
            spark,
            f"{store_dir}/buckets",
            f"{id_col} {id_type}, _band int, _bkey long, epoch long",
        ).filter(prior)
        standing_sh = _read_epoch_layer(
            spark,
            f"{store_dir}/shingles",
            f"{id_col} {id_type}, _sh array<string>, epoch long",
        ).filter(prior)
        # the batch probes {standing ∪ itself}: the probe side is the
        # batch's ids, so batch-internal pairs are found too
        all_b = standing_b.select(
            F.col(id_col).alias("_id"), "_band", "_bkey"
        ).unionByName(buckets)
        all_sh = standing_sh.select(F.col(id_col).alias("_id"), "_sh").unionByName(
            sh.select("_id", "_sh")
        )
        pairs = _jaccard_verify(
            _lsh_candidates(all_b, probe=sh), all_sh, all_sh, threshold
        )
        pairs.withColumn("epoch", F.lit(epoch_id)).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("epoch").parquet(f"{store_dir}/pairs")
        buckets.withColumnRenamed("_id", id_col).withColumn(
            "epoch", F.lit(epoch_id)
        ).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("epoch").parquet(f"{store_dir}/buckets")
        sh.withColumnRenamed("_id", id_col).withColumn(
            "epoch", F.lit(epoch_id)
        ).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("epoch").parquet(f"{store_dir}/shingles")
        _free_local_checkpoint(sh)
        _free_local_checkpoint(buckets)

    return process_batch


def ann_index_maintenance_stream(index_path: str):
    """Streaming ANN index maintenance (r10; VERDICT r9 #9) — the
    embedding-tier sibling of :func:`near_dup_stream`: each microbatch of
    new embeddings is pushed through EXACTLY the persisted layout's
    expressions (LSH planes regenerated from ``/meta``, IVF/PQ using the
    persisted centroids/codebooks — ``similarity._index_batch_rows``, the
    same transform :func:`similarity.index_append` runs) and lands in the
    index's ``{layer}_stream`` overlay, epoch-partitioned with a dynamic
    partition overwrite, so an at-least-once replay of an epoch rewrites
    identical data instead of double-appending. Serving
    (``lsh/ivf/pq_topk_from_index``) reads base ∪ overlay with probe
    pruning intact on both sides — queries see every streamed vector the
    moment its epoch commits, with zero index rebuild.

    Returns a ``foreachBatch`` function for
    ``writeStream.foreachBatch(...)``. Consistency contract matches
    ``index_append``: LSH appends ≡ rebuild bit-for-bit (stateless
    hashes); IVF/PQ stay internally consistent against the persisted
    layout but are NOT retrained (the standard drift trade-off — monitor
    cell skew and rebuild when it grows; the rebuild writers drop the
    overlay so superseded epochs can't leak into a fresh layout)."""
    from pgdedupe_spark.operators.similarity import index_append_epoch

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        index_append_epoch(batch_df.sparkSession, index_path, batch_df, epoch_id)

    return process_batch


def curation_prep_stream(
    docs: DataFrame,
    store_dir: str,
    id_col: str,
    text_col: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
):
    """Streaming twin of pipeline_llm_prep's GATE + DEDUP stages
    (VERDICT r10 #10): every arriving document passes the Gopher
    heuristic gate, then the Bloom-screened exact dedup against the
    corpus-so-far (:func:`incremental_dedup_stream`'s three-layer state,
    reused verbatim — gate rejects never enter the dedup state, so a
    gated-out early copy cannot canonicalize a later clean one). Kept
    documents (gated AND novel) land in ``kept/epoch=N`` — the curated
    sink a downstream selection stage (DSIR) consumes in batch; the
    draw itself is a global top-k and stays a batch job by design.

    ``docs`` follows the other ``*_stream`` constructors' signature (the
    stream frame the caller will attach the returned function to); the
    function body only ever sees the per-microbatch frame foreachBatch
    hands it, so ``None`` is fine when driving batches by hand (the
    tests do).

    Returns a ``foreachBatch`` function. Semantics contract (pinned
    stream≡batch in tests/test_streaming.py): kept = exactly the batch
    pipeline's gate ∩ first-wins-dedup survivors when canonical order is
    arrival order (epoch, then id) — the streaming-canonicality analog
    of the batch composite's longest-text-wins, same dedup key
    (normalized text). Replay-idempotent like every layer it builds on:
    the inner dedup state is epoch-partition-overwritten, and ``kept``
    uses the same dynamic-overwrite discipline."""
    from pgdedupe_spark.operators.text import gopher_quality, llm_gate_filter

    dedup_fn = incremental_dedup_stream(
        None, store_dir, id_col, text_col, num_bits, num_hashes
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        g = gopher_quality(batch_df, id_col, text_col)
        gated = batch_df.join(
            llm_gate_filter(g, id_col), id_col
        ).localCheckpoint()  # the source frame is only valid in-batch
        dedup_fn(gated, epoch_id)
        # explicit schema: a fully-gated-out epoch leaves the flags layer
        # empty (or absent on the first epoch) and schema inference fails
        id_t = batch_df.schema[id_col].dataType.simpleString()
        flags_schema = f"{id_col} {id_t}, is_dup boolean, corpus_id {id_t}, epoch long"
        flags = _read_epoch_layer(spark, f"{store_dir}/flags", flags_schema)
        novel = flags.filter((F.col("epoch") == epoch_id) & ~F.col("is_dup")).select(
            id_col
        )
        gated.join(novel, id_col).withColumn(
            "epoch", F.lit(epoch_id)
        ).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("epoch").parquet(f"{store_dir}/kept")
        from pgdedupe_spark.operators.clustering import _free_local_checkpoint

        _free_local_checkpoint(gated)

    return process_batch


def gazetteer_stream(
    gaz_path: str,
    store_dir: str,
    batch_id_col: str,
    score,
    threshold: float = 0.5,
    grow: bool = True,
):
    """Streaming gazetteer serve with canonical-set GROWTH (r12 — the
    dedupe Gazetteer's production loop): each microbatch matches
    ONE-WAY against the persisted canonical set
    (linkage.gazetteer_match), matches land in ``matches/epoch=N`` under
    ``store_dir``, and with ``grow=True`` the UNMATCHED records become
    new canonical entities — written as a ``records_stream`` growth
    overlay under the gazetteer itself (epoch + bucket partitioned), so
    the NEXT batch can match against them. ``write_gazetteer`` rebuilds
    drop the overlay (the index_append_epoch discipline).

    Growth contract: the batch must carry the gazetteer's id, block and
    payload columns under their canonical names (``batch_id_col`` may
    be the same column); within a single batch, records match only the
    PRE-batch canonical set — two same-entity records arriving together
    both canonicalize, exactly like the dedupe Gazetteer's
    update-then-search loop, and merge later through the batch linkage
    tier if desired.

    Replay-idempotent: the match runs against base ∪ overlay WITH THIS
    EPOCH FILTERED OUT (a retried epoch must not see its own failed
    writes), and both writes are dynamic partition overwrites of this
    epoch alone. Layer contract: an all-unmatched epoch writes no match
    files, so consumers read ``matches`` with an explicit schema
    (``<batch_id> <t>, gaz_id <t>, score double, rank int, epoch
    long`` — the flags-layer convention). Returns a ``foreachBatch``
    function."""
    from pgdedupe_spark.operators.linkage import _gaz_bucket, gazetteer_match

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        meta = spark.read.parquet(gaz_path + "/meta").collect()[0]
        id_col = str(meta.id_col)
        block_cols = str(meta.block_cols).split(",")
        payload_cols = [c for c in str(meta.payload_cols).split(",") if c]

        base = spark.read.parquet(f"{gaz_path}/records")
        overlay_schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in base.schema.fields
        ) + ", epoch long"
        overlay = _read_epoch_layer(spark, f"{gaz_path}/records_stream", overlay_schema)
        # replay guard: a retried epoch must not match its own failed
        # growth writes
        records = base.unionByName(
            overlay.filter(F.col("epoch") < F.lit(epoch_id)).select(*base.columns)
        )

        frozen = batch_df.localCheckpoint()  # source frame valid only in-batch
        matches = gazetteer_match(
            spark, gaz_path, frozen, batch_id_col, score,
            threshold=threshold, records=records,
        ).localCheckpoint()  # one computation feeds the write and the anti-join
        matches.withColumn("epoch", F.lit(epoch_id)).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("epoch").parquet(f"{store_dir}/matches")

        if grow:
            unmatched = frozen.join(
                matches.select(batch_id_col), batch_id_col, "left_anti"
            )
            (
                unmatched.select(id_col, *block_cols, *payload_cols)
                .withColumn("bucket", _gaz_bucket(block_cols, int(meta.n_buckets)))
                .withColumn("epoch", F.lit(epoch_id))
                .repartition("bucket")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch", "bucket")
                .parquet(f"{gaz_path}/records_stream")
            )

        from pgdedupe_spark.operators.clustering import _free_local_checkpoint

        _free_local_checkpoint(frozen)
        _free_local_checkpoint(matches)

    return process_batch
