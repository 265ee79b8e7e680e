"""Accuracy contracts for the approximate (no_oracle) queries.

The driver's correctness gate can only rows-check randomized/bucketed
queries, so each approximate query carries a pinned recall bound against
its exact counterpart — the analog of the reference's integration quality
bound (/root/reference/tests/test_integration.py:29-30). Everything here
is deterministic (seeded planes/centroids/signatures, fixed testdata), so
the measured recalls are stable numbers, not flaky samples: LSH 1.0,
IVF 0.96, MinHash 1.0 at sf0.001 as of round 4.
"""

from __future__ import annotations

import os

import pytest

from pgdedupe_spark import registry

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _pairs(df, c1, c2):
    return {(getattr(r, c1), getattr(r, c2)) for r in df.collect()}


@pytest.fixture(scope="module")
def exact_topk(spark):
    return _pairs(
        registry.QUERIES["ann_cosine_topk"](spark, SF_DIR), "query_id", "neighbor_id"
    )


def test_ann_lsh_recall(spark, exact_topk):
    """Registry-shipped LSH settings (8 tables × 4 planes, 4 probes) must
    retrieve ≥ 0.9 of the exact top-k pairs."""
    approx = _pairs(
        registry.QUERIES["ann_lsh_topk"](spark, SF_DIR), "query_id", "neighbor_id"
    )
    recall = len(approx & exact_topk) / len(exact_topk)
    assert recall >= 0.9, f"ann_lsh_topk recall {recall:.3f} < 0.9"


def test_ann_ivf_recall(spark):
    """Registry-shipped IVF settings (n_probe=14/16, r9 PINNED integer
    centroids trained on the quantized sf0.01 embeddings) must retrieve
    ≥ 0.9 of the exact top-k on the layout's HOME corpus and ≥ 0.8 on a
    corpus it was not trained for — the same home/cross contract as
    ann_pq_serve (the hash-oracle conversion trades per-sf retraining
    for a static layout; the cross floor documents the cost)."""
    for sf, floor, tag in (
        ("/root/testdata/sf0.01", 0.9, "home"),
        ("/root/testdata/sf0.001", 0.8, "cross"),
    ):
        exact = _pairs(
            registry.QUERIES["ann_cosine_topk"](spark, sf), "query_id", "neighbor_id"
        )
        approx = _pairs(
            registry.QUERIES["ann_ivf_topk"](spark, sf), "query_id", "neighbor_id"
        )
        recall = len(approx & exact) / len(exact)
        assert recall >= floor, f"ann_ivf_topk {tag} recall {recall:.3f} < {floor}"


def test_minhash_lsh_pair_recall(spark):
    """MinHash-LSH banded candidates (64 hashes, 16 bands) + exact verify
    must recover ≥ 0.9 of the exact n-gram Jaccard pairs at the same
    threshold. Theory check: P(candidate | j=0.9) = 1-(1-0.9^4)^16 ≈ 1.0,
    and the planted near-dups all sit at j ≥ 0.9."""
    exact = _pairs(registry.QUERIES["dedup_ngram_jaccard"](spark, SF_DIR), "id1", "id2")
    approx = _pairs(registry.QUERIES["dedup_minhash_lsh"](spark, SF_DIR), "id1", "id2")
    assert exact, "exact jaccard produced no pairs — fixture drifted"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"dedup_minhash_lsh pair recall {recall:.3f} < 0.9"


def test_lsh_stress_planted_recall(spark):
    """On the hash-synthesized stress corpus (planted near-duplicates at
    cosine ≈0.95), the selective 8×8-plane configuration must put the
    planted twin at rank 1 for ≥ 0.9 of queries — high recall from a
    candidate set that is a small corpus fraction, which is the regime
    LSH exists for (the driver's 500-vector table can't exhibit it)."""
    from pgdedupe_spark.corpus import hash_embeddings
    from pgdedupe_spark.operators.similarity import lsh_cosine_topk

    emb = hash_embeddings(spark, n_vecs=2000, dim=64)
    out = lsh_cosine_topk(
        emb, "vec_id", "embedding", k=5, n_planes=8, n_tables=8, n_flip_probes=4,
        query_filter="vec_id % 10 = 1 AND vec_id > 0 AND vec_id < 500",
    )
    top1 = {r.query_id: r.neighbor_id for r in out.collect() if r.rank == 1}
    assert len(top1) == 50
    hits = sum(1 for q, n in top1.items() if n == q - 1)
    assert hits >= 45, f"planted twin found at rank 1 for only {hits}/50 queries"


def test_simhash_banding_is_pigeonhole_complete(spark):
    """SimHash's pigeonhole band join must find EVERY pair with
    Hamming(sig) ≤ 3 — recall 1.0 within the signature space, verified
    against a driver-side brute force over all signature pairs. (The
    signature→cosine estimation quality is simhash math, not an
    implementation property; what the operator owes is completeness of
    the candidate join, and this pins it.)"""
    import numpy as np
    from pyspark.sql import functions as F

    from pgdedupe_spark.operators.dedup import simhash_column, word_tokens

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sigs = {
        r.doc_id: r.sig
        for r in docs.select(
            "doc_id",
            simhash_column(
                F.transform(word_tokens(F.col("text")), lambda t: F.xxhash64(t))
            ).alias("sig"),
        ).collect()
    }
    ids = sorted(sigs)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            x = (sigs[a] ^ sigs[b]) & 0xFFFFFFFFFFFFFFFF
            if bin(x).count("1") <= 3:
                want.add((a, b))

    got = _pairs(registry.QUERIES["dedup_simhash"](spark, SF_DIR), "id1", "id2")
    assert got == want, (
        f"banding missed {len(want - got)} pairs / invented {len(got - want)}"
    )


def test_pq_stress_planted_recall(spark, tmp_path):
    """The ann_pq_stress configuration (m=16 ksub=32, 64 coarse cells,
    8 probes, refine=8) must put the planted twin (cosine ≈0.95) at
    rank 1 for ≥ 0.9 of queries on the hash-synthesized corpus — the
    pin that makes the bench probe's wall-time numbers mean something.
    Run at the probe's pytest floor (5k vectors, same code path and
    knobs as the sf0.1 bench run)."""
    from pgdedupe_spark.corpus import hash_embeddings
    from pgdedupe_spark.operators.similarity import pq_topk_from_index, write_pq_index

    n = 5000
    emb = hash_embeddings(spark, n_vecs=n, dim=64)
    path = str(tmp_path / "pq_stress")
    write_pq_index(emb, "vec_id", "embedding", path, dim=64, m=16, ksub=32, n_centroids=64)
    out = pq_topk_from_index(
        spark, path, emb, "vec_id", "embedding", k=5, n_probe=8, refine=8,
        query_filter=f"vec_id % {n // 50} = 1 AND vec_id > 0",
    )
    top1 = {r.query_id: r.neighbor_id for r in out.collect() if r.rank == 1}
    assert len(top1) == 50
    hits = sum(1 for q, nb in top1.items() if nb == q - 1)
    assert hits >= 45, f"planted twin found at rank 1 for only {hits}/50 queries"


def test_embedding_dedup_pairs_subset_and_recall(spark):
    """The SemDeDup front-end: LSH-bucketed pair generation must emit a
    SUBSET of the exact verifier's pairs (same quantized dot product, so
    the verify stage cannot invent pairs) with recall >= 0.9 at the
    shipped (8 planes x 8 tables) schedule on the planted-twin corpus."""
    from pgdedupe_spark.corpus import hash_embeddings
    from pgdedupe_spark.operators.similarity import cosine_pairs, embedding_dedup_pairs

    emb = hash_embeddings(spark, n_vecs=1500, dim=64)
    exact = {(r.id1, r.id2) for r in
             cosine_pairs(emb, "vec_id", "embedding", threshold=0.9).collect()}
    approx = {(r.id1, r.id2) for r in
              embedding_dedup_pairs(emb, "vec_id", "embedding", threshold=0.9).collect()}
    assert exact, "fixture drifted: no exact pairs at 0.9"
    assert approx <= exact
    assert len(approx & exact) / len(exact) >= 0.9


def test_embedding_near_dup_clusters_semantics(spark):
    """Cluster output contract: only multi-member clusters appear, the
    label is the min member id, exactly the min member carries keep=True,
    and cluster_size matches the member count. The planted twins
    (i-1, i) at i % 10 == 1 must share a cluster."""
    from pgdedupe_spark.corpus import hash_embeddings
    from pgdedupe_spark.operators.similarity import (
        cosine_pairs,
        embedding_near_dup_clusters,
    )

    emb = hash_embeddings(spark, n_vecs=1000, dim=64)
    # ground truth: planted twin pairs whose exact cosine clears the
    # threshold (jitter is random per component, so membership at 0.9 is
    # data-determined — ~83% of plants on this corpus)
    exact_twins = {
        (r.id1, r.id2)
        for r in cosine_pairs(emb, "vec_id", "embedding", threshold=0.9).collect()
        if r.id2 == r.id1 + 1 and r.id2 % 10 == 1
    }
    assert len(exact_twins) >= 50, "fixture drifted"
    rows = embedding_near_dup_clusters(emb, "vec_id", "embedding", threshold=0.9).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append(r)
    assert by_cluster, "no clusters found — fixture drifted"
    cluster_of = {}
    for label, members in by_cluster.items():
        ids = sorted(m.vec_id for m in members)
        assert len(ids) >= 2
        assert label == ids[0]
        assert all(m.cluster_size == len(ids) for m in members)
        assert [m.vec_id for m in members if m.keep] == [ids[0]]
        for i in ids:
            cluster_of[i] = label
    # >=90% of the truly-above-threshold twin pairs share a cluster
    covered = sum(
        1 for a, b in exact_twins if cluster_of.get(a) == cluster_of.get(b) is not None
    )
    assert covered >= 0.9 * len(exact_twins), (covered, len(exact_twins))


def test_ann_recall_on_clustered_mixture(spark):
    """Adversarial-distribution recall pins (VERDICT r6 #5): every prior
    recall pin used planted-twin or near-uniform corpora, which spread
    evenly over LSH buckets / IVF cells. Real embedding corpora are
    mixture-shaped — hot tight clusters over uniform background — and
    that is where bucketed ANN actually fails at scale. On
    clustered_embeddings (80% of mass in 8 clusters at within-cluster
    cosine ≈0.95):

    * LSH and IVF hold ≥0.9 recall at their SHIPPED knobs;
    * PQ at the shipped (m=16, refine=8) drops to ~0.71 — cluster-mates
      sit inside ADC's quantization error and the shortlist misses —
      and either mitigation restores ≥0.9: refine=32 (4× shortlist,
      measured 0.956) or m=32 (finer codes, 2× bytes, measured 0.944).
      The degraded number is asserted too, so if codes ever get
      silently better/worse the documented trade-off stays true."""
    from pgdedupe_spark.corpus import clustered_embeddings
    from pgdedupe_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
        lsh_cosine_topk,
        pq_cosine_topk,
    )

    n = 3000
    emb = clustered_embeddings(spark, n_vecs=n, dim=64)
    qf = "vec_id % 60 = 1 AND vec_id > 0"  # 50 queries, hot + background mix
    pairs = lambda df: {(r.query_id, r.neighbor_id) for r in df.collect()}  # noqa: E731
    exact = pairs(cosine_topk(emb, "vec_id", "embedding", k=5, query_filter=qf))
    assert len(exact) == 250

    lsh = pairs(lsh_cosine_topk(
        emb, "vec_id", "embedding", k=5, n_planes=8, n_tables=8,
        n_flip_probes=4, query_filter=qf,
    ))
    assert len(lsh & exact) / len(exact) >= 0.9

    ivf = pairs(ivf_cosine_topk(
        emb, "vec_id", "embedding", k=5, n_centroids=32, n_probe=8,
        query_filter=qf,
    ))
    assert len(ivf & exact) / len(exact) >= 0.9

    shipped = pairs(pq_cosine_topk(
        emb, "vec_id", "embedding", dim=64, k=5, m=16, ksub=32, refine=8,
        query_filter=qf,
    ))
    r_shipped = len(shipped & exact) / len(exact)
    assert 0.55 <= r_shipped < 0.9, f"shipped-PQ mixture recall moved: {r_shipped:.3f}"

    deep = pairs(pq_cosine_topk(
        emb, "vec_id", "embedding", dim=64, k=5, m=16, ksub=32, refine=32,
        query_filter=qf,
    ))
    assert len(deep & exact) / len(exact) >= 0.9

    fine = pairs(pq_cosine_topk(
        emb, "vec_id", "embedding", dim=64, k=5, m=32, ksub=32, refine=8,
        query_filter=qf,
    ))
    assert len(fine & exact) / len(exact) >= 0.9


def test_ivf_cell_skew_bounded_on_clustered_mixture(spark, tmp_path):
    """The straggler-cell pin (VERDICT r6 #5): IVF's hash-ranked seeding
    samples centroid seeds FROM the data distribution, so hot clusters
    get proportionally many centroids and no cell becomes the one
    straggler task that dominates a probe scan. Pin it from the index
    FILES (the observable a 100 TB operator would monitor): on the
    mixture corpus, max-cell/mean-cell stays bounded (measured 3.5 at 32
    centroids) and every cell is non-empty enough to matter."""
    from pyspark.sql import functions as F

    from pgdedupe_spark.corpus import clustered_embeddings
    from pgdedupe_spark.operators.similarity import write_ivf_index

    emb = clustered_embeddings(spark, n_vecs=3000, dim=64)
    path = str(tmp_path / "ivf_mix")
    write_ivf_index(emb, "vec_id", "embedding", path, n_centroids=32)
    counts = [
        r.c
        for r in spark.read.parquet(path + "/cells")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    assert sum(counts) == 3000
    assert len(counts) >= 24, f"only {len(counts)} non-empty cells of 32"
    ratio = max(counts) / (sum(counts) / len(counts))
    assert ratio <= 6.0, f"straggler cell: max/mean = {ratio:.2f}"


def test_minhash_signatures_are_distinct_per_seed(spark):
    """r8 regression pin for the collapsed-seed bug: a signature whose k
    hash functions are one and the same hash (the r8 defaulted-lambda
    seed bug did exactly that) collapses the banded LSH curve toward
    single-hash recall. The k signature values of a document must come
    from genuinely distinct hash functions."""
    from pgdedupe_spark.operators.dedup import _minhash_sig_arrow, _shingle_frame

    df = spark.createDataFrame(
        [(i, f"some text body number {i} with shared tokens") for i in range(20)],
        "doc_id long, text string",
    )
    sig = _minhash_sig_arrow(_shingle_frame(df, "doc_id", "text", 5), 8).collect()
    assert len(sig) == 20
    # every doc has many shingles, so k independent permutations give k
    # (almost surely) different minima; one repeated hash gives one value
    distinct_per_doc = [len(set(r["_mhs"])) for r in sig]
    assert min(distinct_per_doc) > 1, "all minhash seeds produced one hash — seed bug is back"


def test_portable_minhash_matches_kpass_formulation(spark):
    """The one-pass aggregate signature (minhash_signature_array) must be
    bit-identical to the naive k-pass Carter-Wegman formulation — the
    fold is an optimization, not a semantics change."""
    from pgdedupe_spark.operators.dedup import (
        MINHASH_P, _CW_A, _CW_B, char_shingles, portable_hash60,
    )
    from pyspark.sql import functions as F
    from tests.minhash_reference import minhash_signature_array

    df = spark.createDataFrame(
        [(i, f"text number {i} sharing quite a few character shingles") for i in range(30)],
        "doc_id long, text string",
    )
    sh = df.select(F.col("doc_id"), char_shingles(F.col("text"), 5).alias("_sh"))
    one_pass = {
        r["doc_id"]: r["sig"]
        for r in sh.select(
            "doc_id", minhash_signature_array("_sh", 8).alias("sig")
        ).collect()
    }

    def kpass(i):
        return F.array_min(
            F.transform(
                "_sh",
                lambda s: (
                    F.lit(_CW_A[i]) * (portable_hash60(s) % F.lit(MINHASH_P))
                    + F.lit(_CW_B[i])
                ) % F.lit(MINHASH_P),
            )
        ).alias(f"m{i}")

    naive = {
        r["doc_id"]: [r[f"m{i}"] for i in range(8)]
        for r in sh.select("doc_id", *[kpass(i) for i in range(8)]).collect()
    }
    assert one_pass == naive


def test_portable_minhash_arrow_engine_bit_identical(spark):
    """The Arrow signature kernel (_minhash_sig_arrow) must produce
    bit-identical signatures to the JVM reference fold
    (tests/minhash_reference.py) on the same shingle frame, so the kernel
    can never change a declared query's rows. Covers unicode (multi-byte
    UTF-8 hash input), single-shingle docs, and the full 64-hash width
    the registry rows use."""
    from pgdedupe_spark.operators.dedup import _minhash_sig_arrow, _shingle_frame
    from tests.minhash_reference import minhash_signature_array

    df = spark.createDataFrame(
        [(i, f"döc texte numéro {i} — shared shingle soup") for i in range(25)]
        + [(100, "tiny"), (101, "abcde")],
        "doc_id long, text string",
    )
    sh = _shingle_frame(df, "doc_id", "text", 5)
    arrow = {(r["_id"], tuple(r["_mhs"])) for r in _minhash_sig_arrow(sh, 64).collect()}
    jvm = {
        (r["_id"], tuple(r["_mhs"]))
        for r in sh.select(
            "_id", minhash_signature_array("_sh", 64).alias("_mhs")
        ).collect()
    }
    assert arrow == jvm
    assert len(arrow) == 27


def test_portable_minhash_lsh_pairs_at_default_num_hashes(spark):
    """minhash_lsh_pairs runs at its default ``num_hashes`` (128):
    the Carter-Wegman tables cover it, two identical documents pair up, and
    a width past the tables fails on the driver instead of in a worker."""
    from pgdedupe_spark.operators.dedup import _CW_A, minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(docs, "doc_id", "text")
    assert [(r.id1, r.id2, r.jaccard) for r in pairs.collect()] == [(1, 2, 1.0)]
    with pytest.raises(ValueError, match="portable minhash supports"):
        minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=len(_CW_A) + 32)


def test_shingles_arrow_edge_cases_match_jvm(spark):
    """_shingles_arrow edge semantics == char_shingles + size>0 filter:
    NULL text SURVIVES as a one-element [NULL] shingle array (length(NULL)
    is NULL, greatest skips it, substring(NULL,..) is NULL — so the size>0
    filter keeps the row; see _shingles_arrow's docstring); empty text
    yields [""]; shorter-than-n yields the whole text; multi-byte/astral
    code points slice like UTF8String.substring; duplicates keep
    first-occurrence order."""
    import os

    from pyspark.sql import functions as F
    from pgdedupe_spark.operators.dedup import (
        _fan_out, _shingles_arrow, char_shingles,
    )

    df = spark.createDataFrame(
        [
            (1, ""), (2, "ab"), (3, "abcde"), (4, "abcdef"),
            (5, None), (6, "aaaaaaaaaa"), (7, "héllo wörld"),
            (8, "🎉abc🎊def"), (9, "数据去重数据去重"),
        ],
        "doc_id long, text string",
    )
    jvm = {
        (r["_id"], tuple(r["_sh"]))
        for r in (
            _fan_out(df, "doc_id")
            .select(
                F.col("doc_id").alias("_id"),
                char_shingles(F.col("text"), 5).alias("_sh"),
            )
            .filter(F.size("_sh") > 0)
        ).collect()
    }
    arrow = {
        (r["_id"], tuple(r["_sh"]))
        for r in _shingles_arrow(_fan_out(df, "doc_id"), "doc_id", "text", 5).collect()
    }
    assert arrow == jvm


def test_portable_minhash_pair_recall(spark):
    """The portable (md5/Carter-Wegman) twin runs the same 64×16 banding
    curve as dedup_minhash_lsh, so it owes the same recall contract
    against exact n-gram Jaccard."""
    exact = _pairs(registry.QUERIES["dedup_ngram_jaccard"](spark, SF_DIR), "id1", "id2")
    approx = _pairs(
        registry.QUERIES["dedup_minhash_portable"](spark, SF_DIR), "id1", "id2"
    )
    assert exact, "exact jaccard produced no pairs — fixture drifted"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"dedup_minhash_portable pair recall {recall:.3f} < 0.9"


def test_release_caches_frees_lsh_intermediates(spark):
    """minhash_lsh_pairs persists sh/sig/buckets as load-bearing CSE
    barriers; `dedup.release_caches()` must free them all once the caller
    has materialized the result (ADVICE r8 — long-lived sessions were
    accumulating cached blocks per call)."""
    from pgdedupe_spark.operators import dedup

    dedup.release_caches()  # drain whatever earlier tests left behind
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    docs = spark.createDataFrame(
        [(i, f"document body text number {i} " * 4) for i in range(40)]
        + [(100, "a common duplicate body " * 5), (101, "a common duplicate body " * 5)],
        "doc_id long, body string",
    )
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "body", num_hashes=16, bands=4)
    assert pairs.count() >= 1  # materialize → caches are live
    assert jsc.getPersistentRDDs().size() > before
    released = dedup.release_caches()
    assert released >= 3  # sh + sig + buckets
    assert jsc.getPersistentRDDs().size() == before
    # idempotent, and results remain correct (recompute from source)
    assert dedup.release_caches() == 0
    assert pairs.count() >= 1


def _knn_corpus(spark, n=120, dim=8, seed=3):
    """Deterministic float corpus split into even (query) / odd (corpus)
    halves."""
    import random

    rng = random.Random(seed)
    rows = [
        (i, [round(rng.uniform(-1, 1), 4) for _ in range(dim)]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    return rows, df


def _brute_knn(rows, k):
    """Exact cosine kNN join (even→odd) in Python."""
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    qs = [(i, v) for i, v in rows if i % 2 == 0]
    cs = [(i, v) for i, v in rows if i % 2 == 1]
    out = {}
    for qi, qv in qs:
        scored = sorted(((cos(qv, cv), -ci) for ci, cv in cs), reverse=True)
        out[qi] = [-nid for _, nid in scored[:k]]
    return out


def test_knn_join_all_probes_is_exact(spark):
    """n_probe == n_centroids scans every cell → the join degrades to the
    exact brute force, neighbor-for-neighbor."""
    from pgdedupe_spark.operators.similarity import knn_join

    rows, df = _knn_corpus(spark)
    left = df.filter("vec_id % 2 = 0")
    right = df.filter("vec_id % 2 = 1")
    got = knn_join(
        left, "vec_id", "embedding", right, "vec_id", "embedding",
        k=5, n_centroids=8, n_probe=8,
    ).collect()
    exact = _brute_knn(rows, 5)
    assert len({r["query_id"] for r in got}) == len(exact)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qi, members in by_q.items():
        members.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in members] == [1, 2, 3, 4, 5]
        assert [r["neighbor_id"] for r in members] == exact[qi], qi


def test_knn_join_probed_recall_and_plan(spark):
    """Partial probing keeps recall high on random vectors, the query side
    carries no probe Window (row-local ranking), and the plan's single
    Window is the final per-query top-k."""
    from pgdedupe_spark.operators.similarity import knn_join

    rows, df = _knn_corpus(spark)
    left = df.filter("vec_id % 2 = 0")
    right = df.filter("vec_id % 2 = 1")
    out = knn_join(
        left, "vec_id", "embedding", right, "vec_id", "embedding",
        k=5, n_centroids=8, n_probe=6,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # exactly one Window NODE (the final top-k; WindowGroupLimit is its
    # pushed-down rank-limit companion, not a second window)
    assert plan.count("Window [") == 1, plan
    assert "PythonUDF" not in plan
    got = out.collect()
    exact = _brute_knn(rows, 5)
    hits = total = 0
    for r in got:
        total += 0  # counted from exact below
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for qi, nbrs in exact.items():
        hits += len(set(nbrs) & by_q.get(qi, set()))
        total += len(nbrs)
    assert hits / total >= 0.9, hits / total
    # every query id emits at most k contiguous ranks
    counts = {}
    for r in got:
        counts[r["query_id"]] = counts.get(r["query_id"], 0) + 1
    assert all(c <= 5 for c in counts.values())


def test_knn_join_from_index_matches_inmemory_and_prunes(spark, tmp_path):
    """The persisted serve shape (knn_join_from_index, new r11): against
    a write_ivf_index layout built with the SAME centroids, the join is
    bit-identical to the in-memory knn_join, and the probed cell set
    pushes as a static PartitionFilter on the index scan."""
    from pgdedupe_spark.operators.similarity import (
        ivf_index,
        knn_join,
        knn_join_from_index,
        write_ivf_index,
    )

    rows, df = _knn_corpus(spark)
    left = df.filter("vec_id % 2 = 0")
    right = df.filter("vec_id % 2 = 1")
    # one quantizer for both paths: train on the right corpus, pin it
    _, cents = ivf_index(right, "vec_id", "embedding", n_centroids=8, seed=42)
    path = str(tmp_path / "ivf")
    write_ivf_index(right, "vec_id", "embedding", path, centroids=cents)

    mem = knn_join(
        left, "vec_id", "embedding", right, "vec_id", "embedding",
        k=5, n_probe=6, centroids=cents,
    )
    srv = knn_join_from_index(
        spark, path, left, "vec_id", "embedding",
        right, "vec_id", "embedding", k=5, n_probe=6,
    )
    assert sorted(map(tuple, srv.collect())) == sorted(map(tuple, mem.collect()))

    plan = srv._jdf.queryExecution().executedPlan().toString()
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "cell" in pf.group(1), plan
    assert "PythonUDF" not in plan

    # a selective left probes few cells → the filter lists only those
    few = knn_join_from_index(
        spark, path, left.limit(1), "vec_id", "embedding",
        right, "vec_id", "embedding", k=5, n_probe=2,
    )
    plan_few = few._jdf.queryExecution().executedPlan().toString()
    pf_few = re.search(r"PartitionFilters: \[([^\]]*)\]", plan_few)
    assert pf_few and re.search(r"cell#\d+ IN \(", pf_few.group(1)), plan_few

    # prune=False path agrees too (no bounded collect)
    nop = knn_join_from_index(
        spark, path, left, "vec_id", "embedding",
        right, "vec_id", "embedding", k=5, n_probe=6, prune=False,
    )
    assert sorted(map(tuple, nop.collect())) == sorted(map(tuple, mem.collect()))
