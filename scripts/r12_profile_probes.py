"""r12: stage-level profiling of the heavy probes — collects each probe's
own in-band timing row (build/base/scaled splits) plus hand-timed stage
splits for the PQ family, so optimization targets the dominant stage, not
the total. Profiling harness only — not part of the bench contract."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pgdedupe_spark import get_spark, registry  # noqa: E402


def _scrub(spark) -> None:
    spark.catalog.clearCache()
    try:
        jsc = spark.sparkContext._jsc
        for jrdd in jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)
    except Exception:
        pass


def probe_row(spark, sf_dir, name):
    t0 = time.perf_counter()
    rows = registry.QUERIES[name](spark, sf_dir).collect()
    total = round(time.perf_counter() - t0, 3)
    print(json.dumps({"probe": name, "total_sec": total,
                      "row": {k: str(v) for k, v in rows[0].asDict().items()}}))
    _scrub(spark)


def profile_pq_stress(spark, sf_dir):
    from pgdedupe_spark.corpus import hash_embeddings
    from pgdedupe_spark.operators.similarity import (
        pq_topk_from_index,
        pq_train_codebooks,
        ivf_index,
        _assign_cells,
        pq_encode,
        write_pq_index,
    )
    from pgdedupe_spark.registry import _serve_index_path

    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    n_vecs = max(5_000, int(1_000_000 * sf))
    emb = hash_embeddings(spark, n_vecs=n_vecs, dim=64)
    emb = emb.persist()
    emb.count()

    t0 = time.perf_counter()
    books = pq_train_codebooks(emb, "vec_id", "embedding", 64, m=16, ksub=32, seed=42)
    t_train = time.perf_counter() - t0

    t0 = time.perf_counter()
    indexed, cents = ivf_index(emb, "vec_id", "embedding", 64, 42)
    indexed.write.format("noop").mode("overwrite").save()
    t_ivf = time.perf_counter() - t0

    t0 = time.perf_counter()
    codes = pq_encode(indexed, "vec_id", "embedding", books, keep=("cell",))
    codes.write.format("noop").mode("overwrite").save()
    t_encode = time.perf_counter() - t0

    path = "/tmp/r12_prof_pq_stress"
    t0 = time.perf_counter()
    write_pq_index(emb, "vec_id", "embedding", path, dim=64, m=16, ksub=32, n_centroids=64)
    t_write = time.perf_counter() - t0

    t0 = time.perf_counter()
    out = pq_topk_from_index(
        spark, path, emb, "vec_id", "embedding", k=5, n_probe=8, refine=8,
        query_filter=f"vec_id % {max(1, n_vecs // 50)} = 1 AND vec_id > 0",
    )
    out.write.format("noop").mode("overwrite").save()
    t_topk = time.perf_counter() - t0
    emb.unpersist()
    print(json.dumps({"probe": "pq_stress_stages", "train": round(t_train, 2),
                      "ivf_assign_noop": round(t_ivf, 2), "encode_noop": round(t_encode, 2),
                      "write_pq_index_total": round(t_write, 2),
                      "topk_from_index": round(t_topk, 2)}))
    _scrub(spark)


def profile_pq_knn_join(spark, sf_dir):
    from pgdedupe_spark.operators.similarity import (
        pinned_pq_layout, pq_encode, _assign_cells,
        _pq_query_lut,
    )
    from pgdedupe_spark.registry import _quantized_embeddings
    import numpy as np

    books, cents = pinned_pq_layout(64, 16, 32, 16)
    emb = _quantized_embeddings(spark, sf_dir)
    emb = emb.persist()
    n = emb.count()
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)

    t0 = time.perf_counter()
    r_idx = _assign_cells(right, "embedding", cents)
    codes = pq_encode(r_idx, "vec_id", "embedding", books, keep=("cell",))
    codes.write.format("noop").mode("overwrite").save()
    t_encode = time.perf_counter() - t0

    t0 = time.perf_counter()
    q = left.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv"))
    lut = _pq_query_lut(q, np.asarray(books, dtype=np.float64))
    lut.write.format("noop").mode("overwrite").save()
    t_lut = time.perf_counter() - t0

    t0 = time.perf_counter()
    out = registry.QUERIES["ann_pq_knn_join"](spark, sf_dir)
    out.write.format("noop").mode("overwrite").save()
    t_all = time.perf_counter() - t0
    emb.unpersist()
    print(json.dumps({"probe": "pq_knn_join_stages", "n_emb": n,
                      "right_encode_noop": round(t_encode, 2),
                      "left_lut_noop": round(t_lut, 2),
                      "full_query_noop": round(t_all, 2)}))
    _scrub(spark)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("r12-profile")
    spark.sparkContext.setLogLevel("ERROR")
    which = sys.argv[1:] or ["all"]
    if "pq" in which or "all" in which:
        profile_pq_knn_join(spark, sf_dir)
        profile_pq_stress(spark, sf_dir)
    for name in which:
        if name in registry.QUERIES:
            probe_row(spark, sf_dir, name)
    spark.stop()


if __name__ == "__main__":
    main()
