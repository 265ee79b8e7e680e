"""Empty-input robustness: every operator family must degrade to empty
output — not crash — when a filter eliminates all rows upstream (the
first thing that happens in production when a date predicate misses).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _empty_customers(spark):
    return spark.createDataFrame(
        [], "c_custkey long, c_name string, c_mktsegment string, c_nationkey int, c_acctbal double"
    )


def test_collapse_blocking_pairs_on_empty(spark):
    from pgdedupe_spark.operators.blocking import blocking_chain
    from pgdedupe_spark.operators.collapse import collapse_exact_duplicates
    from pgdedupe_spark.operators.pairs import candidate_pairs

    entries = collapse_exact_duplicates(
        _empty_customers(spark),
        ["c_name", "c_mktsegment", "c_nationkey"],
        "c_custkey",
        "c_acctbal > 0",
    )
    assert entries.count() == 0
    keys = F.array(F.concat(F.lit("n:"), F.col("c_nationkey").cast("string")))
    _, _, _, _, smaller, audit = blocking_chain(entries, keys)
    pairs = candidate_pairs(smaller, entries, ["c_name"])
    assert pairs.count() == 0
    assert audit.get["entries_seen"] == 0
    # the audit publishes 0, not NULL, for an empty input
    assert audit.get["entries_dropped"] == 0
    assert audit.get["blocks_seen_max"] == 0


def test_connected_components_on_empty(spark):
    from pgdedupe_spark.operators.clustering import connected_components

    edges = spark.createDataFrame([], "id1 long, id2 long")
    assert connected_components(edges).count() == 0


def test_merge_with_empty_sides(spark):
    from pgdedupe_spark.operators.merge import apply_cdc, merge_upsert

    t = spark.createDataFrame([(1, "a")], "id long, v string")
    empty = spark.createDataFrame([], "id long, v string")
    assert sorted(map(tuple, merge_upsert(t, empty, ["id"]).collect())) == [(1, "a")]
    assert sorted(map(tuple, merge_upsert(empty, t, ["id"]).collect())) == [(1, "a")]
    ech = spark.createDataFrame([], "id long, v string, op string")
    assert sorted(map(tuple, apply_cdc(t, ech, ["id"]).collect())) == [(1, "a")]


def test_gapfill_on_empty(spark):
    from pgdedupe_spark.operators.temporal import gapfill_locf

    ev = spark.createDataFrame([], "k string, ts_us long, v double")
    assert gapfill_locf(ev, "k", "ts_us", "v", bucket_us=3_600_000_000).count() == 0


def test_time_weighted_and_funnel_on_empty(spark):
    from pgdedupe_spark.operators.temporal import ordered_funnel, time_weighted_avg

    ev = spark.createDataFrame([], "k string, ts_us long, v double, e string")
    assert time_weighted_avg(ev, "k", "ts_us", "v", tiebreak_col="e").count() == 0
    fun = ordered_funnel(ev, "k", "ts_us", "e", stages=["a", "b"])
    # funnel emits one row per stage with zero counts
    rows = {(r.stage, r.n_keys) for r in fun.collect()}
    assert rows == {("a", 0), ("b", 0)}


def test_analyze_and_histogram_on_empty(spark):
    from pgdedupe_spark.operators.stats import analyze_table, fixed_histogram

    df = spark.createDataFrame([], "id long, s string")
    got = {r.column: (r.n_rows, r.n_nulls, r.n_distinct) for r in analyze_table(df, ["id", "s"]).collect()}
    assert got == {"id": (0, 0, 0), "s": (0, 0, 0)}
    assert fixed_histogram(df, "id", ["s"], 0.0, 1.0, 4).count() == 0


def test_pq_topk_on_empty_query_set(spark, sf_dir):
    from pgdedupe_spark.operators.similarity import pq_cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = pq_cosine_topk(
        emb, "vec_id", "embedding", dim=64, k=5, query_filter="vec_id < 0"
    )
    assert out.count() == 0


def test_new_r5_ops_on_empty_frames(spark):
    from pyspark.sql import functions as F

    from pgdedupe_spark.operators.curation import corpus_split
    from pgdedupe_spark.operators.quality import validate_table
    from pgdedupe_spark.operators.text import unigram_logprob

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert unigram_logprob(docs, "doc_id", "text").count() == 0
    w = {"train": 0.9, "val": 0.1}
    assert corpus_split(docs, "doc_id", w).count() == 0
    rep = validate_table(docs, [{"rule": "not_null", "col": "doc_id"}]).collect()
    assert rep[0].passed


def test_chunk_and_semantic_decon_on_empty(spark):
    from pgdedupe_spark.operators.curation import decontaminate_embeddings
    from pgdedupe_spark.operators.packing import chunk_documents

    empty_docs = spark.createDataFrame([], "doc_id long, n_tok long")
    assert chunk_documents(empty_docs, "doc_id", "n_tok", 8, 2).count() == 0

    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    some = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    # empty corpus → empty report; empty benchmark → nothing contaminated
    assert decontaminate_embeddings(empty_emb, some, "vec_id", "embedding").count() == 0
    out = decontaminate_embeddings(some, empty_emb, "vec_id", "embedding").collect()
    assert len(out) == 2 and not any(r.contaminated for r in out)
    # exact path too (crossJoin against an empty broadcast side)
    out = decontaminate_embeddings(
        some, empty_emb, "vec_id", "embedding", exact=True
    ).collect()
    assert len(out) == 2 and not any(r.contaminated for r in out)


def test_index_append_empty_batch_is_noop(spark, tmp_path):
    from pgdedupe_spark.corpus import hash_embeddings
    from pgdedupe_spark.operators.similarity import (
        index_append,
        lsh_topk_from_index,
        write_lsh_index,
    )

    emb = hash_embeddings(spark, n_vecs=50, dim=64)
    path = str(tmp_path / "lsh")
    write_lsh_index(emb, "vec_id", "embedding", path, n_planes=4, n_tables=2)
    before = spark.read.parquet(path + "/buckets").count()
    index_append(spark, path, emb.filter("vec_id < 0"))
    assert spark.read.parquet(path + "/buckets").count() == before
    # the index still serves after the no-op append
    assert (
        lsh_topk_from_index(
            spark, path, emb, "vec_id", "embedding", k=2, query_filter="vec_id < 2"
        ).count()
        > 0
    )


def test_late_r10_ops_on_empty(spark):
    """gopher_repetition / gopher_quality / ccnet_buckets / temperature /
    knn_join all degrade to empty output with the right schema."""
    from pgdedupe_spark.operators.curation import (
        gopher_repetition,
        temperature_quotas,
        temperature_sample,
    )
    from pgdedupe_spark.operators.similarity import knn_join
    from pgdedupe_spark.operators.text import ccnet_buckets

    docs = spark.createDataFrame([], "doc_id long, lang string, text string")
    rep = gopher_repetition(docs, "doc_id", "text")
    assert rep.count() == 0 and "repetition_keep" in rep.columns

    cc = ccnet_buckets(docs, "doc_id", "text", lang_col="lang")
    assert cc.count() == 0
    assert [f.name for f in cc.schema] == [
        "doc_id", "lang", "n_tokens", "mean_lp", "bucket", "tier",
    ]

    assert temperature_quotas(docs, "lang", k=10).count() == 0
    assert temperature_sample(docs, "lang", "doc_id", k=10).count() == 0

    vecs = spark.createDataFrame([], "vec_id long, embedding array<double>")
    some = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    # empty LEFT against a real right (centroids provided — fitting needs rows)
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    out = knn_join(
        vecs, "vec_id", "embedding", some, "vec_id", "embedding",
        k=3, n_centroids=2, n_probe=2, centroids=cents,
    )
    assert out.count() == 0
    assert [f.name for f in out.schema] == ["query_id", "neighbor_id", "sim", "rank"]
    # empty RIGHT with pinned centroids: no candidates, empty result
    out2 = knn_join(
        some, "vec_id", "embedding", vecs, "vec_id", "embedding",
        k=3, n_centroids=2, n_probe=2, centroids=cents,
    )
    assert out2.count() == 0
