"""Persisted LSH index: write-once (table=/bucket= parquet partitions of
ids only), query-many with static partition pruning. The 100 TB contract:
probing P (table, bucket) pairs must scan P directories, never the corpus
— pinned here on the physical plan, alongside exact parity with the
in-memory path (same planes ⇒ same candidates ⇒ same top-k)."""

from __future__ import annotations

from pgdedupe_spark.operators.similarity import (
    lsh_cosine_topk,
    lsh_topk_from_index,
    write_lsh_index,
)

PARAMS = dict(n_planes=4, n_tables=8, dim=64, seed=42)


def _rows(df):
    return sorted(
        (r.query_id, r.neighbor_id, round(r.sim, 9), r.rank) for r in df.collect()
    )


def test_index_parity_with_in_memory(spark, sf_dir, tmp_path):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "lsh_index")
    write_lsh_index(emb, "vec_id", "embedding", path, **PARAMS)

    direct = lsh_cosine_topk(
        emb, "vec_id", "embedding", k=5, n_flip_probes=4, **PARAMS
    )
    indexed = lsh_topk_from_index(
        spark, path, emb, "vec_id", "embedding", k=5, n_flip_probes=4
    )
    assert _rows(direct) == _rows(indexed)


def test_index_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "lsh_index")
    write_lsh_index(emb, "vec_id", "embedding", path, **PARAMS)

    out = lsh_topk_from_index(spark, path, emb, "vec_id", "embedding", k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the index scan must carry the probe set as partition filters (static
    # pruning: non-probed table=/bucket= directories are never opened).
    # Identify it by its partition columns — plan Location strings truncate
    # long tmp paths, so matching on the path is unreliable.
    idx_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "table#" in ln and "bucket#" in ln
    ]
    assert idx_scans, f"no index scan found in plan:\n{plan}"
    # the filter must not be empty — probe pairs appear as literals
    assert any("PartitionFilters: [(" in ln for ln in idx_scans), (
        f"index scan has no static partition filters:\n{idx_scans}"
    )


def test_reader_uses_persisted_id_col(spark, sf_dir, tmp_path):
    # the index is self-describing: a reader whose base frame uses a
    # DIFFERENT id column name than the writer's must still resolve the
    # index side by the persisted id_col, not the caller's argument
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "lsh_index")
    write_lsh_index(emb, "vec_id", "embedding", path, **PARAMS)

    renamed = emb.withColumnRenamed("vec_id", "doc_pk")
    out = lsh_topk_from_index(
        spark, path, renamed, "doc_pk", "embedding", k=5,
        n_flip_probes=4, query_filter="doc_pk < 10",
    )
    baseline = lsh_topk_from_index(
        spark, path, emb, "vec_id", "embedding", k=5, n_flip_probes=4
    )
    assert _rows(out) == _rows(baseline)


def test_empty_query_set(spark, sf_dir, tmp_path):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "lsh_index")
    write_lsh_index(emb, "vec_id", "embedding", path, **PARAMS)
    out = lsh_topk_from_index(
        spark, path, emb, "vec_id", "embedding", k=5, query_filter="vec_id < 0"
    )
    assert out.count() == 0


# ---------------------------------------------------------------------------
# Persisted MinHash-LSH index (VERDICT r8 #10): append ≡ rebuild, serve ≡
# in-memory, incremental probe = exactly the pairs touching the batch.
# ---------------------------------------------------------------------------


def _mh_docs(spark, ids, dup_of=None):
    # pseudo-random 30-word bodies: distinct docs sit far below the 0.6
    # Jaccard threshold; a dup_of entry reuses its base's body plus a tiny
    # suffix (jaccard ~0.97 — a planted near-dup, not an exact dup)
    def body(seed: int) -> str:
        return " ".join(f"w{(seed * 31 + k * 7) % 1009}" for k in range(30))

    rows = [
        (i, body(dup_of[i]) + " xtra" if dup_of and i in dup_of else body(i))
        for i in ids
    ]
    return spark.createDataFrame(rows, "doc_id long, body string")


def test_minhash_index_append_equals_rebuild(spark, tmp_path):
    """Stateless hashes ⇒ append ≡ rebuild bit-for-bit: bucket rows AND
    served pairs identical between write(A)+append(B) and write(A∪B)."""
    from pgdedupe_spark.operators.dedup import (
        minhash_index_append,
        minhash_pairs_from_index,
        write_minhash_index,
    )

    a_ids = list(range(20))
    b_ids = list(range(100, 115))
    dups = {3: 1, 112: 1, 110: 104}  # cross-batch and in-batch near-dups
    corpus_a = _mh_docs(spark, a_ids, dups)
    corpus_b = _mh_docs(spark, b_ids, dups)
    both = corpus_a.unionByName(corpus_b)

    inc = str(tmp_path / "mh_inc")
    write_minhash_index(corpus_a, "doc_id", "body", inc, num_hashes=32, bands=8)
    minhash_index_append(spark, inc, corpus_b)
    full = str(tmp_path / "mh_full")
    write_minhash_index(both, "doc_id", "body", full, num_hashes=32, bands=8)

    rows_inc = sorted(map(tuple, spark.read.parquet(inc + "/buckets").collect()))
    rows_full = sorted(map(tuple, spark.read.parquet(full + "/buckets").collect()))
    assert rows_inc == rows_full and rows_inc

    p_inc = sorted(map(tuple, minhash_pairs_from_index(spark, inc).collect()))
    p_full = sorted(map(tuple, minhash_pairs_from_index(spark, full).collect()))
    assert p_inc == p_full


def test_minhash_index_serve_equals_in_memory(spark, tmp_path):
    from pgdedupe_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_pairs_from_index,
        write_minhash_index,
    )

    docs = _mh_docs(spark, range(40), {5: 2, 30: 2, 31: 7})
    path = str(tmp_path / "mh_serve")
    write_minhash_index(docs, "doc_id", "body", path, num_hashes=32, bands=8)
    served = sorted(map(tuple, minhash_pairs_from_index(spark, path).collect()))
    mem = sorted(
        map(tuple, minhash_lsh_pairs(docs, "doc_id", "body", num_hashes=32, bands=8).collect())
    )
    assert served == mem and served


def test_minhash_index_incremental_probe(spark, tmp_path):
    """probe=batch returns exactly the pairs with >=1 side in the batch —
    cross-batch pairs normalized (id1 < id2), standing-corpus-only pairs
    excluded, batch-internal pairs emitted once."""
    from pgdedupe_spark.operators.dedup import (
        minhash_index_append,
        minhash_pairs_from_index,
        write_minhash_index,
    )

    corpus = _mh_docs(spark, range(30), {9: 4})  # standing pair (4, 9)
    batch = _mh_docs(spark, [200, 201, 202], {200: 4, 202: 201})
    path = str(tmp_path / "mh_probe")
    write_minhash_index(corpus, "doc_id", "body", path, num_hashes=32, bands=8)
    minhash_index_append(spark, path, batch)

    inc_pairs = {
        (r.id1, r.id2)
        for r in minhash_pairs_from_index(spark, path, probe=batch).collect()
    }
    all_pairs = {
        (r.id1, r.id2) for r in minhash_pairs_from_index(spark, path).collect()
    }
    batch_ids = {200, 201, 202}
    assert inc_pairs == {p for p in all_pairs if batch_ids & set(p)}
    assert (4, 200) in inc_pairs  # cross-batch, old id < new id
    assert (201, 202) in inc_pairs  # batch-internal, once
    assert (4, 9) not in inc_pairs  # standing-only pair excluded
    assert (4, 9) in all_pairs


def test_minhash_index_band_scan_is_partition_pruned(spark, tmp_path):
    """_band is a hive partition column: a single-band read must carry a
    static PartitionFilter and open only that band's directory."""
    from pyspark.sql import functions as F

    from pgdedupe_spark.operators.dedup import write_minhash_index

    docs = _mh_docs(spark, range(25))
    path = str(tmp_path / "mh_prune")
    write_minhash_index(docs, "doc_id", "body", path, num_hashes=32, bands=8)
    one = spark.read.parquet(path + "/buckets").filter(F.col("_band") == 3)
    assert one.count() == 25
    plan = one._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans and any("PartitionFilters: [" in ln and "_band" in ln for ln in scans), plan[:1500]


def test_minhash_index_rejects_retired_hash_family(spark, tmp_path):
    """An index whose /meta says portable = false was bucketed by the
    retired xxhash64 family: appending to it or matching against it would
    hash new rows into different buckets, so both readers refuse it."""
    import pytest
    from pyspark.sql import functions as F

    from pgdedupe_spark.operators.dedup import minhash_index_append, write_minhash_index
    from pgdedupe_spark.operators.linkage import gazetteer_fuzzy_match

    docs = _mh_docs(spark, range(10))
    path = str(tmp_path / "mh_retired")
    write_minhash_index(docs, "doc_id", "body", path, num_hashes=32, bands=8)
    meta = spark.read.parquet(path + "/meta")
    assert meta.first().portable is True
    old = meta.withColumn("portable", F.lit(False)).collect()
    spark.createDataFrame(old, meta.schema).write.mode("overwrite").parquet(path + "/meta")

    batch = _mh_docs(spark, [100, 101])
    with pytest.raises(ValueError, match="xxhash64"):
        minhash_index_append(spark, path, batch)
    with pytest.raises(ValueError, match="xxhash64"):
        gazetteer_fuzzy_match(spark, path, batch, "doc_id", threshold=0.6)


def test_bucketize_arrow_engine_bit_identical(spark):
    """_bucketize (numpy over Arrow batches) must reproduce the generated-
    SQL sign-pattern fold bit-for-bit — integer-scaled planes over
    quantized vectors (the oracle family) AND raw Gaussian planes over
    float vectors (the stress probe regime, where only the exact
    left-chained IEEE fold order keeps near-zero projections on the same
    side of zero)."""
    from pgdedupe_spark.operators.similarity import _bucketize, _table_planes
    from pgdedupe_spark.registry import _quantized_embeddings
    from pgdedupe_spark.corpus import hash_embeddings
    from tests.ann_reference import bucketize_sql

    qe = _quantized_embeddings(spark, "/root/testdata/sf0.001")
    fe = hash_embeddings(spark, n_vecs=400, dim=64)
    for emb, scale in ((qe, 1000), (fe, None)):
        planes = _table_planes(64, 4, 8, 42, scale)
        got = {tuple(r) for r in _bucketize(emb, "vec_id", "embedding", planes).collect()}
        ref = {
            tuple(r) for r in bucketize_sql(emb, "vec_id", "embedding", planes).collect()
        }
        assert got == ref
        assert len(got) == emb.count() * 8


def test_table_planes_rejects_bucket_width_overflow(spark):
    """Bucket ids are int32 sums of ``1 << b``: 31 planes is the widest
    table that cannot wrap, so every LSH entry point (they all derive
    planes through _table_planes) refuses 0 and >= 32 planes up front."""
    import pytest

    from pgdedupe_spark.operators.similarity import _table_planes, lsh_cosine_topk

    assert len(_table_planes(8, 31, 2, 42)) == 2
    for bad in (0, 32, 64):
        with pytest.raises(ValueError, match="n_planes"):
            _table_planes(8, bad, 1, 42)
    emb = spark.createDataFrame([(1, [1.0] * 8)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="n_planes"):
        lsh_cosine_topk(emb, "vec_id", "embedding", n_planes=32, dim=8)
