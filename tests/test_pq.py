"""Product-quantization contracts: recall vs exact, degeneration to exact
under full refine, encoding determinism, and the codes-only-scan property
that makes PQ the compressed tier of the ANN stack."""

from __future__ import annotations

import os

import pytest

from pgdedupe_spark import registry
from pgdedupe_spark.operators.similarity import (
    pq_cosine_topk,
    pq_encode,
    pq_train_codebooks,
)
from pgdedupe_spark.sources.io import read_parquet_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _pairs(df):
    return {(r.query_id, r.neighbor_id) for r in df.collect()}


@pytest.fixture(scope="module")
def emb(spark):
    return read_parquet_table(spark, os.path.join(SF_DIR, "embeddings.parquet"))


def test_pq_recall_vs_exact(spark, emb):
    """Registry-shipped PQ settings (m=16, ksub=32, refine=8) must
    retrieve ≥ 0.9 of the exact top-k pairs — the same bound every other
    approximate entry point carries."""
    exact = _pairs(registry.QUERIES["ann_cosine_topk"](spark, SF_DIR))
    approx = _pairs(registry.QUERIES["ann_pq_topk"](spark, SF_DIR))
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"ann_pq_topk recall {recall:.3f} < 0.9"


def test_pq_full_refine_is_exact(spark, emb):
    """refine ≥ corpus/k makes the shortlist the whole corpus, so the
    re-rank must equal brute force exactly — the knob's contract."""
    n = emb.count()
    exact = _pairs(registry.QUERIES["ann_cosine_topk"](spark, SF_DIR))
    full = _pairs(
        pq_cosine_topk(emb, "vec_id", "embedding", dim=64, k=5, refine=n)
    )
    assert full == exact


def test_pq_encode_deterministic_and_bounded(spark, emb):
    """Same corpus + seed ⇒ identical codes twice (no RNG anywhere), codes
    in [0, ksub), one code per subvector, and the reconstructed norm is
    positive — the invariants the persisted-codes layout relies on."""
    books = pq_train_codebooks(emb, "vec_id", "embedding", dim=64, m=8, ksub=16)
    assert books.shape == (8, 16, 8)
    a = pq_encode(emb, "vec_id", "embedding", books)
    b = pq_encode(emb, "vec_id", "embedding", books)
    ra = sorted((r.vec_id, tuple(r.codes), r._pqnorm) for r in a.collect())
    rb = sorted((r.vec_id, tuple(r.codes), r._pqnorm) for r in b.collect())
    assert ra == rb
    assert all(len(c) == 8 and all(0 <= v < 16 for v in c) for _, c, _n in ra)
    assert all(nn > 0 for _, _c, nn in ra)


def test_pq_adc_scan_reads_only_codes(spark, emb):
    """The ADC stage must not rescan raw vectors per candidate: encode the
    corpus once, and assert the shortlist plan's corpus side carries only
    (id, codes, _pqnorm) — i.e. the wide vector column is pruned out of
    the scan that dominates at 100 TB. Covered structurally: pq_encode
    projects codes before the crossJoin, so the join input schema has no
    embedding column."""
    books = pq_train_codebooks(emb, "vec_id", "embedding", dim=64, m=8, ksub=16)
    codes = pq_encode(emb, "vec_id", "embedding", books)
    assert set(codes.columns) == {"vec_id", "codes", "_pqnorm"}
    # and the full operator stays JVM-side (no Python eval nodes)
    from pgdedupe_spark.plans import plan_report

    r = plan_report(registry.QUERIES["ann_pq_topk"](spark, SF_DIR))
    assert not r["python_udf"]


def test_pq_index_full_probe_full_refine_is_exact(spark, emb, tmp_path):
    """IVFADC with every cell probed and the shortlist spanning the corpus
    must equal brute force exactly — both approximation knobs (coarse
    probes, ADC shortlist) degenerate independently."""
    from pgdedupe_spark.operators.similarity import pq_topk_from_index, write_pq_index

    path = str(tmp_path / "pq_index")
    write_pq_index(emb, "vec_id", "embedding", path, dim=64, m=16, ksub=32, n_centroids=16)
    n = emb.count()
    exact = _pairs(registry.QUERIES["ann_cosine_topk"](spark, SF_DIR))
    full = _pairs(
        pq_topk_from_index(
            spark, path, emb, "vec_id", "embedding", k=5, n_probe=16, refine=n
        )
    )
    assert full == exact


def test_pq_serve_recall(spark):
    """The registry-shipped IVFADC serving settings (14/16 probes, 16×32
    codes, refine=8) must retrieve ≥ 0.9 of the exact top-k pairs on the
    PINNED layout's home corpus (sf0.01 — the corpus it was trained on,
    and the driver's correctness sf), and ≥ 0.8 on a corpus it was NOT
    trained for (sf0.001's embeddings are disjoint draws) — the r9
    hash-oracle conversion trades per-sf retraining for a static layout,
    so the cross-corpus floor documents that degradation honestly."""
    home = "/root/testdata/sf0.01"
    exact = _pairs(registry.QUERIES["ann_cosine_topk"](spark, home))
    approx = _pairs(registry.QUERIES["ann_pq_serve"](spark, home))
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"ann_pq_serve home-corpus recall {recall:.3f} < 0.9"

    away = "/root/testdata/sf0.001"
    exact_a = _pairs(registry.QUERIES["ann_cosine_topk"](spark, away))
    approx_a = _pairs(registry.QUERIES["ann_pq_serve"](spark, away))
    recall_a = len(approx_a & exact_a) / len(exact_a)
    assert recall_a >= 0.8, f"ann_pq_serve cross-corpus recall {recall_a:.3f} < 0.8"


def test_pq_index_scan_is_partition_pruned(spark, emb, tmp_path):
    """The codes scan must carry the probed cells as static partition
    filters (only probed cell= directories open) and must not read any
    raw-vector column."""
    from pgdedupe_spark.operators.similarity import pq_topk_from_index, write_pq_index

    path = str(tmp_path / "pq_index")
    write_pq_index(emb, "vec_id", "embedding", path, dim=64, m=16, ksub=32, n_centroids=16)
    out = pq_topk_from_index(spark, path, emb, "vec_id", "embedding", k=5, n_probe=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    idx_scans = [
        ln for ln in plan.splitlines() if "FileScan parquet" in ln and "cell#" in ln
    ]
    assert idx_scans, f"no codes scan found in plan:\n{plan}"
    assert any(
        "PartitionFilters: [cell" in ln or "PartitionFilters: [(" in ln
        for ln in idx_scans
    ), f"codes scan has no static partition filters:\n{idx_scans}"
    assert not any("embedding" in ln for ln in idx_scans), (
        f"codes scan reads raw vectors:\n{idx_scans}"
    )


def test_pq_index_reader_uses_persisted_id_col(spark, emb, tmp_path):
    """Self-describing index: the reader renames the codes side by the
    persisted id_col from /meta, so a caller whose base frame uses a
    different id name still joins correctly."""
    from pgdedupe_spark.operators.similarity import pq_topk_from_index, write_pq_index

    path = str(tmp_path / "pq_index")
    write_pq_index(emb, "vec_id", "embedding", path, dim=64, m=16, ksub=32, n_centroids=16)
    renamed = emb.withColumnRenamed("vec_id", "doc_pk")
    out = _pairs(
        pq_topk_from_index(
            spark, path, renamed, "doc_pk", "embedding", k=5, n_probe=4,
            query_filter="doc_pk < 10",
        )
    )
    base = _pairs(
        pq_topk_from_index(spark, path, emb, "vec_id", "embedding", k=5, n_probe=4)
    )
    assert out == base


def test_pq_write_paths_release_encode_cache(spark, emb, tmp_path):
    """The PQ write paths leave no persisted frame behind once codes are
    on disk (a leak here accumulates one cached frame per call for the
    session's lifetime, exactly what bench.py scrubs)."""
    from pgdedupe_spark.operators.similarity import index_append, write_pq_index

    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in list(jmap):
        jmap[k].unpersist(False)

    path = str(tmp_path / "pq_index")
    write_pq_index(
        emb.filter("vec_id < 300"), "vec_id", "embedding", path,
        dim=64, m=8, ksub=16, n_centroids=8,
    )
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0
    index_append(spark, path, emb.filter("vec_id >= 300"))
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0


def test_assign_cells_collision_guards(spark, emb):
    """_assign_cells must not clobber user columns (ADVICE r6): a
    pre-existing `_nv` column survives the assignment untouched, and a
    pre-existing `cell` column raises instead of being silently replaced."""
    from pgdedupe_spark.operators.similarity import _assign_cells

    centroids = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.filter("vec_id < 4").collect()
    ]
    with_nv = emb.filter("vec_id < 50").withColumn("_nv", emb.vec_id * 7)
    out = _assign_cells(with_nv, "embedding", centroids)
    assert "_nv" in out.columns and "cell" in out.columns
    rows = out.select("vec_id", "_nv", "cell").collect()
    assert all(r._nv == r.vec_id * 7 for r in rows)
    assert all(r.cell >= 0 for r in rows)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="cell"):
        _assign_cells(out, "embedding", centroids)


def test_pq_knn_join_full_settings_degrade_to_exact(spark):
    """n_probe = n_centroids and a shortlist covering every cell make the
    compressed join exact: neighbor-for-neighbor equal to knn_join's
    all-probes brute force."""
    from pgdedupe_spark.operators.similarity import (
        knn_join,
        pq_knn_join,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    left = df.filter("vec_id % 2 = 0")
    right = df.filter("vec_id % 2 = 1")
    exact = knn_join(
        left, "vec_id", "embedding", right, "vec_id", "embedding",
        k=5, n_centroids=8, n_probe=8, seed=7,
    )
    got = pq_knn_join(
        left, "vec_id", "embedding", right, "vec_id", "embedding",
        dim=64, k=5, m=8, ksub=16, n_centroids=8, n_probe=8,
        refine=10_000, seed=7,
    )
    a = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
    b = {(r.query_id, r.rank): r.neighbor_id for r in got.collect()}
    assert a == b


def test_pq_knn_join_partial_probe_recall_and_plan(spark):
    from pgdedupe_spark.operators.similarity import (
        knn_join,
        pq_knn_join,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    left = df.filter("vec_id % 2 = 0").limit(40)
    right = df.filter("vec_id % 2 = 1")
    exact = knn_join(
        left, "vec_id", "embedding", right, "vec_id", "embedding",
        k=5, n_centroids=8, n_probe=8, seed=7,
    )
    out = pq_knn_join(
        left, "vec_id", "embedding", right, "vec_id", "embedding",
        dim=64, k=5, m=16, ksub=16, n_centroids=8, n_probe=7,
        refine=32, seed=7,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan
    # two Window nodes total: the ADC shortlist + the final top-k — the
    # unbounded probe ranking stays row-local
    assert plan.count("Window [") == 2, plan
    want = {}
    for r in exact.collect():
        want.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(want[q] & got.get(q, set())) for q in want)
    total = sum(len(v) for v in want.values())
    assert hits / total >= 0.9, hits / total


def test_pq_knn_join_from_index_matches_inmemory_and_prunes(spark, tmp_path):
    """The persisted serve shape for the compressed join (VERDICT r11
    #4): against a write_pq_index layout built with the SAME pinned
    centroids+codebooks, pq_knn_join_from_index is bit-identical to the
    in-memory pq_knn_join, and the probed cell set pushes as a static
    cell IN (...) PartitionFilter on the codes scan."""
    import re

    from pgdedupe_spark.operators.similarity import (
        ivf_index,
        pq_knn_join,
        pq_knn_join_from_index,
        pq_train_codebooks,
        write_pq_index,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    left = df.filter("vec_id % 2 = 0")
    right = df.filter("vec_id % 2 = 1")
    # one layout for both paths: train on the right corpus, pin it
    books = pq_train_codebooks(right, "vec_id", "embedding", 64, m=8, ksub=16, seed=7)
    _, cents = ivf_index(right, "vec_id", "embedding", n_centroids=8, seed=7)
    path = str(tmp_path / "pq")
    write_pq_index(
        right, "vec_id", "embedding", path, dim=64, m=8, ksub=16,
        books=books, centroids=cents,
    )

    mem = pq_knn_join(
        left, "vec_id", "embedding", right, "vec_id", "embedding",
        dim=64, k=5, m=8, ksub=16, n_probe=5, refine=6,
        centroids=cents, books=books,
    )
    srv = pq_knn_join_from_index(
        spark, path, left, "vec_id", "embedding",
        right, "vec_id", "embedding", k=5, n_probe=5, refine=6,
    )
    # capture the plan BEFORE collect: post-execution AQE toString prints
    # Initial+Final sections and double-counts every node
    plan = srv._jdf.queryExecution().executedPlan().toString()
    # the codes scan (not the raw base-table scans) carries the static
    # cell filter — check every PartitionFilters occurrence
    pfs = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("cell" in p for p in pfs), plan
    assert "PythonUDF" not in plan
    # two Window nodes: ADC shortlist + final top-k — probe ranking and
    # the per-query LUT stay row-local on the unbounded left
    assert plan.count("Window [") == 2, plan

    mem_rows = sorted(map(tuple, mem.collect()))
    assert sorted(map(tuple, srv.collect())) == mem_rows

    # a selective left probes few cells → the static filter lists them
    few = pq_knn_join_from_index(
        spark, path, left.limit(1), "vec_id", "embedding",
        right, "vec_id", "embedding", k=5, n_probe=2,
    )
    plan_few = few._jdf.queryExecution().executedPlan().toString()
    pfs_few = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan_few)
    assert any(re.search(r"cell#\d+ IN \(", p) for p in pfs_few), plan_few

    # prune=False path agrees too (no bounded collect)
    nop = pq_knn_join_from_index(
        spark, path, left, "vec_id", "embedding",
        right, "vec_id", "embedding", k=5, n_probe=5, refine=6, prune=False,
    )
    assert sorted(map(tuple, nop.collect())) == mem_rows

    # empty left short-circuits to an empty typed frame
    none = pq_knn_join_from_index(
        spark, path, left.filter("vec_id < 0"), "vec_id", "embedding",
        right, "vec_id", "embedding", k=5, n_probe=2,
    )
    assert none.count() == 0


def test_ann_arrow_engine_parity_with_jvm(spark, emb):
    """The numpy-over-Arrow kernels (_assign_cells, pq_encode) must be
    BIT-IDENTICAL to the generated-SQL reference folds — on the float32
    base embeddings (where the self-norm's float products and the mixed
    float/double promotions are the parity hazards) AND on a trained
    float codebook (not just the pinned integer layout). codes, _pqnorm,
    and cell all compare exactly."""
    from pgdedupe_spark.operators.similarity import _assign_cells, ivf_index
    from tests.ann_reference import assign_cells_sql, pq_encode_sql

    books = pq_train_codebooks(emb, "vec_id", "embedding", 64, m=16, ksub=32)
    _, cents = ivf_index(emb, "vec_id", "embedding", n_centroids=8)

    def rows(enc):
        return sorted(
            (r.vec_id, r.cell, tuple(r.codes), r._pqnorm) for r in enc.collect()
        )

    got = rows(
        pq_encode(_assign_cells(emb, "embedding", cents), "vec_id", "embedding",
                  books, keep=("cell",))
    )
    ref = rows(
        pq_encode_sql(assign_cells_sql(emb, "embedding", cents), "vec_id",
                      "embedding", books, keep=("cell",))
    )
    assert got == ref  # bitwise: floats compare equal only if identical


def test_ann_arrow_engine_rejects_ragged_vectors(spark):
    """Every ANN kernel refuses ragged and NULL vectors LOUDLY instead of
    bucketing, assigning or encoding a made-up value."""
    import pytest as _pytest

    from pgdedupe_spark.operators.similarity import (
        _assign_cells,
        _bucketize,
        _table_planes,
        pinned_pq_layout,
    )

    books, cents = pinned_pq_layout(64, 16, 32, 16)
    planes = _table_planes(64, 4, 2, 42)
    schema = "vec_id long, embedding array<double>"
    ragged = spark.createDataFrame([(1, [1.0] * 64), (2, [1.0] * 63)], schema)
    null = spark.createDataFrame([(1, [1.0] * 64), (2, None)], schema)
    for bad, match in ((ragged, "ragged"), (null, "null")):
        with _pytest.raises(Exception, match=match):
            pq_encode(bad, "vec_id", "embedding", books).collect()
        with _pytest.raises(Exception, match=match):
            _bucketize(bad, "vec_id", "embedding", planes).collect()
        with _pytest.raises(Exception, match=match):
            _assign_cells(bad, "embedding", cents).collect()
