"""Two-dataset record linkage (the dedupe library's RecordLink mode —
matching entities BETWEEN datasets, vs the within-table dedup the
reference pipeline runs; dedupe docs: RecordLink / "link two datasets").

The within-table machinery (blocking.py candidate generation, scoring.py
classifiers, clustering.py CC+HAC) carries over unchanged for pair
GENERATION; what linkage adds is the assignment contract: each left
record matches AT MOST one right record and vice versa (one-to-one),
which clustering's transitive components deliberately do not enforce.

Spark-first assignment: the classic greedy max-weight matching is
sequential, so we use SYMMETRIC BEST MATCH (mutual nearest neighbor) —
a pair survives iff it is its left record's best-scoring candidate AND
its right record's best-scoring candidate. One window per side over the
candidate-pair frame (two hash exchanges keyed by either id — bounded by
candidate volume, which blocking already caps), deterministic tie-breaks
on the partner id, fully SQL-expressible (the registry oracle replays it
verbatim). Mutual-best is the standard distributed relaxation of greedy
matching: every mutual-best pair is also in the greedy solution, so
precision is greedy-or-better; recall defers conflicted records to the
next round (see linkage_rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pgdedupe_spark.sources.io import local_sidecar_df


def best_match_links(
    scored_pairs: DataFrame,
    left_id: str = "id_l",
    right_id: str = "id_r",
    score_col: str = "score",
    threshold: float = 0.5,
) -> DataFrame:
    """One-to-one links via symmetric best match.

    Input: candidate pairs ``(left_id, right_id, score)`` (one row per
    candidate; callers generate them with any blocking strategy). Output:
    the subset that is mutually best with ``score >= threshold``, plus
    both rank columns (always 1 — kept for schema self-documentation).

    Ties break on the partner id ascending, so the result is a
    deterministic function of the input — no RNG, engine-portable."""
    wl = Window.partitionBy(left_id).orderBy(
        F.col(score_col).desc(), F.col(right_id)
    )
    wr = Window.partitionBy(right_id).orderBy(
        F.col(score_col).desc(), F.col(left_id)
    )
    return (
        scored_pairs.filter(F.col(score_col) >= threshold)
        .withColumn("rank_l", F.row_number().over(wl))
        .withColumn("rank_r", F.row_number().over(wr))
        .filter((F.col("rank_l") == 1) & (F.col("rank_r") == 1))
        .select(left_id, right_id, score_col)
    )


def linkage_rounds(
    scored_pairs: DataFrame,
    left_id: str = "id_l",
    right_id: str = "id_r",
    score_col: str = "score",
    threshold: float = 0.5,
    max_rounds: int = 3,
) -> DataFrame:
    """Iterated symmetric best match: after each round, remove pairs that
    touch an already-matched record and re-run on the remainder, so
    records that lost a conflict can still match their second-best
    partner. Converges to the greedy max-weight matching as rounds → ∞;
    ``max_rounds`` bounds driver-side iteration (each round is one fixed
    DataFrame computation — no growing lineage problem at 3 rounds; pass
    a checkpointed frame for more).

    Returns links with a ``match_round`` column (1-based)."""
    remaining = scored_pairs.filter(F.col(score_col) >= threshold)
    out: DataFrame | None = None
    for rnd in range(1, max_rounds + 1):
        links = best_match_links(
            remaining, left_id, right_id, score_col, threshold
        ).withColumn("match_round", F.lit(rnd))
        out = links if out is None else out.unionByName(links)
        # drop every candidate touching a matched record on either side
        remaining = (
            remaining.join(
                links.select(F.col(left_id)), left_id, "left_anti"
            ).join(links.select(F.col(right_id)), right_id, "left_anti")
        )
    return out


# ---------------------------------------------------------------------------
# Gazetteer mode — the dedupe library's THIRD mode (after Dedupe and
# RecordLink; dedupe docs: Gazetteer / "match messy records against a
# canonical set"): a persisted canonical entity table is indexed ONCE,
# then each incoming batch matches ONE-WAY against it — the production
# serve tier for entity resolution, mirroring the ANN stack's
# write-once/query-many shape (write_pq_index → pq_knn_join_from_index).
#
# Layout (the write_minhash_index conventions):
#   /records  canonical rows (id + block cols + payload cols) under
#             bucket=<b> parquet partitions, bucket = pmod(xxhash64(block
#             cols), n_buckets) — a batch's probed buckets push as a
#             static PartitionFilter, so serving reads O(blocks touched),
#             never the gazetteer.
#   /meta     the writer's (id_col, block_cols, payload_cols, n_buckets):
#             self-describing; appends re-derive the stateless bucket
#             expr and recompute NOTHING from standing data.


def _gaz_bucket(block_cols: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(c) for c in block_cols]), F.lit(n_buckets))


def write_gazetteer(
    canonical: DataFrame,
    id_col: str,
    block_cols: list[str],
    payload_cols: list[str],
    path: str,
    n_buckets: int = 64,
) -> None:
    """Materialize the canonical entity set for gazetteer matching.
    ``block_cols`` are the equality blocking keys incoming batches join
    on; ``payload_cols`` ride along for scoring (e.g. the text a string
    comparator reads). Bucketing is stateless (xxhash64 of the block
    keys), so append ≡ rebuild bit-for-bit."""
    from pgdedupe_spark.operators.similarity import _drop_stream_overlay

    cols = [id_col, *block_cols, *payload_cols]
    (
        canonical.select(*cols)
        .withColumn("bucket", _gaz_bucket(block_cols, n_buckets))
        .repartition("bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(path + "/records")
    )
    # a rebuilt canonical set supersedes every streamed growth epoch
    _drop_stream_overlay(canonical.sparkSession, path, "records")
    local_sidecar_df(
        canonical.sparkSession,
        [(id_col, ",".join(block_cols), ",".join(payload_cols), int(n_buckets))],
        "id_col string, block_cols string, payload_cols string, n_buckets int",
    ).write.mode("overwrite").parquet(path + "/meta")


def gazetteer_append(spark, path: str, new_canonical: DataFrame) -> None:
    """Append newly-canonicalized entities WITHOUT touching standing
    records: one scan of the batch through the writer's recorded
    parameters, ``mode("append")`` into the same bucket directories.
    Ids must be new (caller's contract, same as similarity.index_append);
    append ≡ rebuild is pinned in tests/test_linkage.py."""
    meta = spark.read.parquet(path + "/meta").collect()[0]
    block_cols = str(meta.block_cols).split(",")
    payload_cols = [c for c in str(meta.payload_cols).split(",") if c]
    cols = [str(meta.id_col), *block_cols, *payload_cols]
    (
        new_canonical.select(*cols)
        .withColumn("bucket", _gaz_bucket(block_cols, int(meta.n_buckets)))
        .repartition("bucket")
        .write.partitionBy("bucket")
        .mode("append")
        .parquet(path + "/records")
    )


def gazetteer_match(
    spark,
    path: str,
    batch: DataFrame,
    batch_id: str,
    score,
    threshold: float = 0.5,
    k: int = 1,
    unique: bool = False,
    prune: bool = True,
    records: DataFrame | None = None,
) -> DataFrame:
    """One-way match of an incoming batch against the persisted canonical
    set: each batch record gets its top-``k`` canonical candidates with
    ``score >= threshold`` — canonical records may win MANY batch records
    (the gazetteer contract; pass ``unique=True`` for a one-to-one round
    via symmetric best match instead).

    ``batch`` must carry the gazetteer's block columns under the same
    names; canonical columns surface as ``gaz_<col>`` (id as ``gaz_id``)
    so ``score`` — any Column over the joined frame — can reference both
    sides unambiguously. With ``prune=True`` the batch's bucket set
    (≤ n_buckets, one bounded distinct-collect) pushes as a static
    ``bucket IN (...)`` PartitionFilter on the records scan. Ranking
    windows partition by record id (unbounded distinct keys — the same
    partitioning argument as knn_join's top-k). Output:
    (batch_id, gaz_id, score, rank), rank 1-based by (score DESC,
    gaz_id) — deterministic, engine-portable, SQL-replayable.

    The canonical set read is base ∪ streaming growth overlay
    (records_stream epochs written by streaming.ops.gazetteer_stream);
    pass ``records`` to override — the stream's replay guard reads the
    overlay with its own epoch filtered out."""
    from pgdedupe_spark.operators.similarity import _read_index_layer

    meta = spark.read.parquet(path + "/meta").collect()[0]
    id_col = str(meta.id_col)
    block_cols = str(meta.block_cols).split(",")
    payload_cols = [c for c in str(meta.payload_cols).split(",") if c]

    probe = batch.withColumn("bucket", _gaz_bucket(block_cols, int(meta.n_buckets)))
    if records is None:
        records = _read_index_layer(spark, path, "records")
    if prune:
        buckets = sorted(
            {int(r.bucket) for r in probe.select("bucket").distinct().collect()}
        )
        if not buckets:  # empty batch
            gid_type = dict(records.dtypes)[id_col]
            schema = (
                f"{batch_id} {dict(batch.dtypes)[batch_id]}, "
                f"gaz_id {gid_type}, score double, rank int"
            )
            return spark.createDataFrame([], schema)
        records = records.filter(F.col("bucket").isin(buckets))
    gaz = records.select(
        F.col(id_col).alias("gaz_id"),
        *[F.col(c) for c in block_cols],
        *[F.col(c).alias(f"gaz_{c}") for c in payload_cols],
        F.col("bucket"),
    )
    cand = (
        probe.join(gaz, ["bucket", *block_cols])
        .withColumn("score", score)
        .filter(F.col("score") >= threshold)
    )
    if unique:
        links = best_match_links(cand, batch_id, "gaz_id", "score", threshold)
        return links.withColumn("rank", F.lit(1)).select(
            batch_id, "gaz_id", "score", "rank"
        )
    w = Window.partitionBy(batch_id).orderBy(F.col("score").desc(), F.col("gaz_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(batch_id, "gaz_id", "score", "rank")
    )


def gazetteer_compact(spark, path: str) -> None:
    """Fold streamed growth epochs into the base canonical layer — the
    maintenance step closing the gazetteer lifecycle (write → batch
    append → stream growth via streaming.ops.gazetteer_stream → compact
    → stream again), mirroring similarity.index_compact: the base ∪
    overlay view rewrites as ONE bucket-partitioned base layer (epoch
    directories disappear, per-epoch small files coalesce) and the
    overlay drops. Matching output is unchanged — the merged frame IS
    what gazetteer_match was already serving (pinned in
    tests/test_linkage.py). No-op without an overlay. OFFLINE
    maintenance: same crash-recoverable rename swap as index_compact
    (side dir → base→__old → side→base → drop), so a crash leaves the
    old state or a ``records__old`` directory — never data loss."""
    from pgdedupe_spark.operators.similarity import _read_index_layer

    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    P = jvm.org.apache.hadoop.fs.Path
    overlay = P(f"{path}/records_stream")
    fs = overlay.getFileSystem(hconf)
    if not fs.exists(overlay):
        return

    merged = _read_index_layer(spark, path, "records")
    side = f"{path}/records__compacting"
    (
        merged.repartition("bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(side)
    )
    base, old = P(f"{path}/records"), P(f"{path}/records__old")
    fs.delete(old, True)
    fs.rename(base, old)
    fs.rename(P(side), base)
    fs.delete(overlay, True)
    fs.delete(old, True)


def gazetteer_fuzzy_match(
    spark,
    index_path: str,
    batch: DataFrame,
    batch_id: str,
    threshold: float = 0.6,
    k: int = 1,
) -> DataFrame:
    """FUZZY gazetteer matching — the no-clean-block-key case: the
    canonical set is a persisted :func:`dedup.write_minhash_index`
    layout (banded-bucket layer + shingle sidecar), and each batch
    record matches ONE-WAY against it by exact n-gram Jaccard among
    MinHash-banded candidates. This composes the equality-blocked
    :func:`gazetteer_match` story with the dedup family's fuzzy
    candidate generation: where gazetteer blocks need an exact key
    (city, zip), this tier needs only text.

    The batch's shingles and buckets derive on the fly from the index's
    RECORDED parameters (stateless hashes — the same expressions the
    writer used), so batch ids live in their own space and the index
    never re-computes. Candidates = batch buckets ⋈ index buckets on
    (band, bucket-key) — never all-pairs; verify = exact Jaccard
    against the persisted shingle sidecar; top-``k`` per batch record
    by (jaccard DESC, gaz_id ASC). Output (batch_id, gaz_id, jaccard,
    rank). Canonical growth reuses :func:`dedup.minhash_index_append`;
    every value is DuckDB-replicable (the md5 hash family of the
    dedup_minhash_portable device), which is what backs the
    er_gazetteer_fuzzy hash oracle. An index written by the retired
    xxhash64 family raises ``ValueError``."""
    from pgdedupe_spark.operators.dedup import (
        _explicit_parallelism,
        _minhash_index_meta,
        _minhash_shingles_and_buckets,
    )

    meta = _minhash_index_meta(spark, index_path)
    id_col = str(meta.id_col)
    bsh, bbk = _minhash_shingles_and_buckets(
        batch.select(F.col(batch_id).alias(id_col), F.col(str(meta.text_col))),
        id_col,
        str(meta.text_col),
        int(meta.n),
        int(meta.num_hashes),
        int(meta.bands),
        persist=False,
    )
    idx_bk = spark.read.parquet(index_path + "/buckets").select(
        F.col(id_col).alias("gaz_id"), "_band", "_bkey"
    )
    # r12 (guide §2.4/§2.5): partition the candidate pairs ONCE, by the
    # batch id, with an explicit count. The naive `.distinct()` added an
    # ENSURE_REQUIREMENTS exchange whose tiny shuffle AQE coalesced to 1
    # partition — the Jaccard-verify joins and the rank window then ran
    # single-threaded (measured 9.5 s → 2 s at sf0.1). Hash-partitioning
    # on batch_id alone satisfies BOTH the pair dedup's clustering
    # requirement (same pair ⇒ same batch_id ⇒ same partition) and the
    # rank window's partitionBy(batch_id), so ONE exchange of the skinny
    # pair frame replaces two and the explicit count (defaultParallelism,
    # the _fan_out discipline) keeps AQE from shrinking the verify stage.
    cands = (
        bbk.withColumnRenamed("_id", batch_id)
        .join(idx_bk, ["_band", "_bkey"])
        .select(batch_id, "gaz_id")
        .repartition(_explicit_parallelism(spark), F.col(batch_id))
        .dropDuplicates([batch_id, "gaz_id"])
    )
    idx_sh = spark.read.parquet(index_path + "/shingles").select(
        F.col(id_col).alias("gaz_id"), F.col("_sh").alias("_sh2")
    )
    scored = (
        cands.join(bsh.withColumnRenamed("_id", batch_id), batch_id)
        .join(idx_sh, "gaz_id")
        .withColumn("_common", F.size(F.array_intersect("_sh", "_sh2")))
        .withColumn(
            "jaccard",
            F.col("_common") / (F.size("_sh") + F.size("_sh2") - F.col("_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    w = Window.partitionBy(batch_id).orderBy(F.col("jaccard").desc(), F.col("gaz_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(batch_id, "gaz_id", "jaccard", "rank")
    )
