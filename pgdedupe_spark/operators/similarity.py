"""Similarity search over embedding columns (array<float>).

* :func:`cosine_topk` — brute-force exact top-k: broadcast the (small) query
  set against the corpus; dot products via zip_with/aggregate (pure JVM).
  The oracle-checked variant quantizes floats to ints (×10⁴) so every
  intermediate is an exact integer < 2^53 — double math is then
  order-independent and bit-identical across engines.
* :func:`lsh_cosine_topk` — the scale path: sign-of-projection LSH
  buckets (seeded numpy hyperplanes, projected in Arrow batches),
  candidates from bucket join, exact re-rank inside buckets. At 100 TB
  you'd persist the bucketed table (write-once, query-many) — an IVF
  layout in parquet partitioning terms.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pgdedupe_spark.operators.dedup import _explicit_parallelism
from pgdedupe_spark.sources.io import local_sidecar_df


def _vec_matrix(arr, dim: int) -> np.ndarray:
    """Arrow list<float/double> column → (B, dim) float64 matrix.
    Loud on NULL and ragged vectors: every ANN kernel (LSH bucketize, IVF
    assign, PQ encode) refuses them rather than bucketing or encoding a
    made-up value. float32→float64 widening is exact."""
    if arr.null_count:
        raise ValueError("null vector in ANN input")
    flat = arr.flatten()
    if len(flat) != len(arr) * dim:
        raise ValueError(
            f"ragged vectors in ANN input: {len(flat)} values for "
            f"{len(arr)} rows at dim={dim}"
        )
    vals = flat.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    return vals.reshape(len(arr), dim)


def _chain_sum(terms: np.ndarray, axis: int) -> np.ndarray:
    """Left-chained IEEE add along ``axis`` — ((t0+t1)+t2)+… exactly like
    the JVM ``aggregate(…, 0D, (a,b) -> a+b)`` fold (0+t0 == t0 bit-exact
    for the squared/product terms these folds see). NEVER np.sum here:
    pairwise summation rounds differently."""
    sl = [slice(None)] * terms.ndim
    sl[axis] = 0
    acc = terms[tuple(sl)].copy()
    for t in range(1, terms.shape[axis]):
        sl[axis] = t
        acc += terms[tuple(sl)]
    return acc


def _quantize(col: Column, scale: int = 10000) -> Column:
    # floor(cast(x as double)*scale + 0.5), not round(): Spark's HALF_UP
    # and DuckDB's round can break .5 ties differently, and without the
    # explicit double cast DuckDB runs the whole expression in float32
    # while Spark promotes to double — either way a one-quantum skew that
    # flips value hashes. float→double is exact and double arithmetic is
    # IEEE-identical across engines; oracle SQL must use the same
    # expression: floor(CAST(x AS DOUBLE)*scale + 0.5)
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * scale + 0.5).cast("bigint")
    )


def _dot_long(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def cosine_topk(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    query_filter: str = "vec_id < 10",
) -> DataFrame:
    """Exact top-k cosine neighbors for the filtered query set (quantized —
    see module docstring). Output (query_id, neighbor_id, sim, rank)."""
    q = (
        embeddings.filter(F.expr(query_filter))
        .select(F.col(id_col).alias("query_id"), _quantize(F.col(vec_col)).alias("_qv"))
        .withColumn("_qn", F.sqrt(_dot_long(F.col("_qv"), F.col("_qv")).cast("double")))
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _quantize(F.col(vec_col)).alias("_cv")
    ).withColumn("_cn", F.sqrt(_dot_long(F.col("_cv"), F.col("_cv")).cast("double")))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim",
            _dot_long(F.col("_qv"), F.col("_cv")).cast("double") / (F.col("_qn") * F.col("_cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def hyperplanes(dim: int, planes: int, seed: int = 42) -> np.ndarray:
    return np.random.RandomState(seed).randn(planes, dim)


def lsh_cosine_topk(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    query_filter: str = "vec_id < 10",
    n_tables: int = 1,
    n_flip_probes: int = 0,
    plane_scale: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in ANY of
    ``n_tables`` independent hyperplane tables (E2LSH-style), optionally
    widened by multi-probe (the query additionally probes the
    ``n_flip_probes`` Hamming-1 buckets per table — one sign bit flipped);
    exact cosine re-rank over the deduplicated candidate union.

    Recall math that picks the knobs: a neighbor at cosine s agrees with
    the query on one hyperplane with p = 1 − arccos(s)/π, lands in the
    same bucket with p^b, and in the Hamming-≤1 probe set with
    p^b + f·p^(b−1)(1−p) (f = flipped bits); recall over L tables is
    1 − (1 − p_table)^L. One table of 6 planes catches a cos≈0.3
    neighbor 0.6⁶ ≈ 5% of the time — the honest reason the defaults are
    parameters, not constants: multiple tables / probes are how LSH
    actually reaches a recall target, at a measured candidate-fraction
    cost.

    Plan shape: ONE corpus scan computes all L bucket ids (posexplode to
    (table, bucket) rows — no per-table rescan), candidates come from the
    (table, bucket) equi-join, are deduplicated to (query, neighbor) pairs
    BEFORE scoring (a pair found by 3 tables scores once), and payload
    vectors re-attach via a broadcast join on the bounded query set plus
    an equi-join on the corpus. At 100 TB the bucketed frame is the thing
    you'd persist partitioned by (table, bucket) — see
    :func:`write_lsh_index` / :func:`lsh_topk_from_index`."""
    table_planes = _table_planes(dim, n_planes, n_tables, seed, plane_scale)

    # Bucketize the QUERY side from the pre-filtered frame instead of
    # filtering the corpus-wide bucket frame: a filter cannot push below
    # mapInArrow, so that shape would pay a second full-corpus bucketize
    # for the handful of query rows. Stateless hashes: the same rows get
    # the same buckets either way.
    q = _bucketize(
        embeddings.filter(F.expr(query_filter)), id_col, vec_col, table_planes
    ).select(F.col(id_col).alias("query_id"), "table", "bucket")
    q = _widen_probes(q, n_flip_probes, n_planes)
    c = _bucketize(embeddings, id_col, vec_col, table_planes).select(
        F.col(id_col).alias("neighbor_id"), "table", "bucket"
    )
    cand = (
        q.join(c, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        # r13 (the dedup-family pattern, r12 #19/20): explicit-count
        # repartition + dropDuplicates instead of `.distinct()` — the pair
        # shuffle is two longs/row, so AQE would coalesce the distinct's
        # exchange and under-parallelize the exact re-rank downstream.
        .repartition(
            _explicit_parallelism(embeddings.sparkSession),
            F.col("query_id"),
            F.col("neighbor_id"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _score_topk(embeddings, id_col, vec_col, cand, k, query_filter)


def _table_planes(
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int,
    plane_scale: int | None = None,
) -> list[np.ndarray]:
    """``plane_scale`` rounds each Gaussian plane to integers at that
    scale (sign patterns are essentially unchanged — a component flips a
    bucket bit only when the whole projection sits within the rounding
    error of zero). Integer planes over integer-quantized vectors make
    every projection EXACT, which is what lets a DuckDB oracle reproduce
    the buckets bit-for-bit (the ann_lsh hash-oracle twins).

    ``n_planes`` must lie in 1..31: a bucket id is ``sum(1 << b)`` over
    the planes and is stored as int32, so a 32nd plane would wrap it."""
    if not 1 <= n_planes <= 31:
        raise ValueError(f"n_planes must be in 1..31 (int32 bucket ids), got {n_planes}")
    planes = [
        hyperplanes(dim, n_planes, seed if t == 0 else seed + 7919 * t)
        for t in range(max(1, n_tables))
    ]
    if plane_scale:
        planes = [np.rint(p * plane_scale) for p in planes]
    return planes


def _bucketize(
    embeddings: DataFrame, id_col: str, vec_col: str, table_planes: list[np.ndarray]
) -> DataFrame:
    """One scan → (id, table, bucket) rows for every table. The L×b
    sign-pattern projections run as one numpy pass per table over whole
    Arrow batches (interpreted higher-order folds on the JVM cost ~2k
    multiply-adds per row at the 8-table default). The arithmetic is
    fixed so a DuckDB or generated-SQL fold reproduces it bit for bit:

    * products: ``x * y`` with x from the vector (long→double promotion
      is exact below 2^53) and y the float64 plane component — one IEEE
      multiply;
    * projection: LEFT-CHAINED IEEE adds via :func:`_chain_sum`, the
      ``aggregate(…, 0.0, (acc,x) -> acc+x)`` fold order (0.0+t0 is
      bit-exact t0);
    * bucket id: sum of ``1<<b`` over ``proj > 0`` bits — exact integer
      (int32: :func:`_table_planes` caps the planes at 31).

    Pinned in tests/test_lsh_index.py against a generated-SQL reference
    fold (integer-scaled planes over quantized vectors and raw Gaussian
    planes over float vectors).
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    planes = [np.asarray(p, dtype=np.float64) for p in table_planes]
    dim = planes[0].shape[1]
    n_tables = len(planes)
    pow2 = [np.asarray([1 << b for b in range(p.shape[0])], dtype=np.int64) for p in planes]
    out_schema = T.StructType(
        [
            embeddings.schema[id_col],
            T.StructField("table", T.IntegerType(), False),
            T.StructField("bucket", T.IntegerType(), False),
        ]
    )

    def batches(it):
        for b in it:
            id_arr = b.column(0)
            n = len(id_arr)
            if n == 0:
                continue
            v = _vec_matrix(b.column(1), dim)
            buckets = np.empty((n, n_tables), dtype=np.int32)
            for t, p in enumerate(planes):
                # (n, planes, dim) product tensor; left-chained add along dim
                terms = v[:, None, :] * p[None, :, :]
                proj = _chain_sum(terms, axis=2)
                buckets[:, t] = ((proj > 0).astype(np.int64) * pow2[t][None, :]).sum(axis=1)
            idx = pa.array(np.repeat(np.arange(n, dtype=np.int64), n_tables))
            yield pa.RecordBatch.from_arrays(
                [
                    id_arr.take(idx),
                    pa.array(np.tile(np.arange(n_tables, dtype=np.int32), n)),
                    pa.array(buckets.ravel()),
                ],
                names=[id_col, "table", "bucket"],
            )

    return embeddings.select(id_col, vec_col).mapInArrow(batches, schema=out_schema)


def _widen_probes(q: DataFrame, n_flip_probes: int, n_planes: int) -> DataFrame:
    """Multi-probe: the query additionally visits buckets one bit-flip away."""
    if n_flip_probes <= 0:
        return q
    probe_buckets = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << b))
            for b in range(min(n_flip_probes, n_planes))
        ],
    )
    return q.select("query_id", "table", F.explode(probe_buckets).alias("bucket"))


def _score_topk(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    cand: DataFrame,
    k: int,
    query_filter: str,
) -> DataFrame:
    """Exact cosine re-rank of candidate (query_id, neighbor_id) pairs:
    payload vectors re-attach via a broadcast join on the bounded query
    set plus an equi-join on the corpus; top-k per query. Norms ride as
    per-side columns computed BELOW the joins (the knn_join factoring,
    r11): one O(dim) fold per query/corpus row, not two per candidate —
    same fold, same multiply order, bit-identical sims."""
    norm = lambda c_: F.sqrt(  # noqa: E731
        F.aggregate(F.zip_with(c_, c_, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    )
    qv = embeddings.filter(F.expr(query_filter)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).withColumn("_qn", norm(F.col("_qv")))
    cv = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    ).withColumn("_cn", norm(F.col("_cv")))
    dot = F.aggregate(
        F.zip_with("_qv", "_cv", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("sim", dot / (F.col("_qn") * F.col("_cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def write_lsh_index(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    plane_scale: int | None = None,
) -> None:
    """Materialize the LSH layout on disk: write-once, query-many.

    The index holds ONLY (id) rows under a ``table=<t>/bucket=<b>``
    parquet partition layout — L × n rows of ids, NOT L copies of the
    vectors (index size ≈ L·n·8 B; payload vectors stay in the base
    table and re-attach at query time via the id equi-join the in-memory
    path already uses). Probing then turns into *partition pruning*: a
    query set touching P (table, bucket) pairs scans P directories, not
    the corpus. A one-row ``/meta`` parquet records (n_planes, n_tables,
    dim, seed) plus the writer's (id_col, vec_col), so readers regenerate
    the identical hyperplanes AND resolve the index's own column name
    without trusting the caller — the index is self-describing."""
    spark = embeddings.sparkSession
    table_planes = _table_planes(dim, n_planes, n_tables, seed, plane_scale)
    bucketed = _bucketize(embeddings, id_col, vec_col, table_planes)
    (
        bucketed.repartition("table", "bucket")
        .write.partitionBy("table", "bucket")
        .mode("overwrite")
        .parquet(path + "/buckets")
    )
    _drop_stream_overlay(embeddings.sparkSession, path, "buckets")
    meta = [(int(n_planes), int(n_tables), int(dim), int(seed), id_col, vec_col,
             int(plane_scale) if plane_scale else None)]
    local_sidecar_df(
        spark,
        meta,
        "n_planes int, n_tables int, dim int, seed int, id_col string, "
        "vec_col string, plane_scale int",
    ).write.mode("overwrite").parquet(path + "/meta")


def lsh_topk_from_index(
    spark,
    index_path: str,
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    query_filter: str = "vec_id < 10",
    n_flip_probes: int = 0,
) -> DataFrame:
    """Approximate top-k against a :func:`write_lsh_index` layout.

    The query set (bounded by construction — this is the serving path)
    computes its probe (table, bucket) pairs with the planes regenerated
    from ``/meta``, and those pairs are collected and pushed as a static
    filter on the index's PARTITION columns — `.explain` shows them under
    ``PartitionFilters``, so Spark never opens the non-probed directories.
    That scan-pruning is the whole point of persisting the index: work is
    O(probed buckets), not O(corpus), before the exact re-rank."""
    m = spark.read.parquet(index_path + "/meta").collect()[0]
    scale = m["plane_scale"] if "plane_scale" in m.__fields__ else None
    table_planes = _table_planes(m.dim, m.n_planes, m.n_tables, m.seed, scale)

    q = (
        _bucketize(embeddings.filter(F.expr(query_filter)), id_col, vec_col, table_planes)
        .withColumnRenamed(id_col, "query_id")
    )
    q = _widen_probes(q, n_flip_probes, m.n_planes)

    # probe set: |queries| × L × (1 + flips) pairs — bounded, so the
    # collect is cheap and buys static partition pruning on the index scan
    by_table: dict[int, set[int]] = {}
    for r in q.select("table", "bucket").distinct().collect():
        by_table.setdefault(int(r.table), set()).add(int(r.bucket))
    pred = None
    for t, bs in sorted(by_table.items()):
        clause = (F.col("table") == t) & F.col("bucket").isin(sorted(bs))
        pred = clause if pred is None else pred | clause
    if pred is None:  # empty query set
        empty = "query_id bigint, neighbor_id bigint, sim double, rank int"
        return spark.createDataFrame([], empty)

    # rename the index side by the PERSISTED id_col (m.id_col), not the
    # caller's argument: the caller's id_col describes the query/base
    # frame, and a reader whose naming differs from the writer's would
    # otherwise hit an AnalysisException or a silently wrong join
    idx = _read_index_layer(spark, index_path, "buckets").filter(pred)
    cand = (
        q.join(idx.withColumnRenamed(str(m.id_col), "neighbor_id"), ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        # r13: same explicit-count pair dedup as the in-memory path (the
        # AQE tiny-shuffle-coalesce hazard — r12 #19/20)
        .repartition(
            _explicit_parallelism(spark), F.col("query_id"), F.col("neighbor_id")
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _score_topk(embeddings, id_col, vec_col, cand, k, query_filter)


def cosine_pairs(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (id1 < id2) with
    cosine ≥ threshold — exact, via the quantized-integer dot product
    (bit-identical to the SQL oracle).

    This is the *verifier*; brute force is O(n²) in pairs. At scale, feed it
    candidates from an LSH bucket join (as :func:`lsh_cosine_topk` builds)
    instead of the full cross join — the plan below is the exact-answer
    baseline the approximate path is measured against.

    Plan shape (the measured lesson from the n-gram verifier): the nested
    loop enumerates ONLY narrow id pairs — a post-join cosine filter would
    be pushed into the non-equi join condition and evaluated interpreted
    per ordered combo (2.3× slower measured). Payload vectors attach via
    broadcast hash joins on the unique ids, and the cosine runs once per
    pair inside a whole-stage-codegen filter stage."""
    from pgdedupe_spark.operators.dedup import _fan_out

    # O(n²) guard: this operator's declared role is exact verification of
    # candidate subsets; a full 100 TB corpus must come through the LSH /
    # IVF front-ends. limit(max_rows+1).count() stops the probe scan after
    # max_rows+1 rows instead of counting the whole input — the guard must
    # stay cheap on exactly the oversized inputs it exists to reject. Pass
    # max_rows=None to opt out deliberately.
    if max_rows is not None:
        if embeddings.limit(max_rows + 1).count() > max_rows:
            raise ValueError(
                f"cosine_pairs got more than max_rows={max_rows} rows; "
                "it is the O(n²) exact verifier — feed it LSH/IVF candidates "
                "or pass max_rows=None to force the full cross product"
            )

    # fan out: a single-file corpus otherwise runs the whole pair loop in
    # one task (left side of the nested-loop join = one scan partition)
    q = (
        _fan_out(embeddings, id_col)
        .select(F.col(id_col).alias("_id"), _quantize(F.col(vec_col)).alias("_q"))
        .withColumn("_n", F.sqrt(_dot_long(F.col("_q"), F.col("_q")).cast("double")))
        .persist()  # consumed three times: id enumeration ×2 payload joins
    )
    ids = q.select("_id")
    a, b = ids.alias("a"), ids.alias("b")
    pairs = a.join(b, F.col("a._id") < F.col("b._id")).select(
        F.col("a._id").alias("id1"), F.col("b._id").alias("id2")
    )
    v1 = q.select(F.col("_id").alias("id1"), F.col("_q").alias("_q1"), F.col("_n").alias("_n1"))
    v2 = q.select(F.col("_id").alias("id2"), F.col("_q").alias("_q2"), F.col("_n").alias("_n2"))
    return (
        pairs.join(v1, "id1")
        .join(v2, "id2")
        .withColumn(
            "cosine",
            _dot_long(F.col("_q1"), F.col("_q2")).cast("double")
            / (F.col("_n1") * F.col("_n2")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


def _assign_cells(
    embeddings: DataFrame,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
) -> DataFrame:
    """Nearest-centroid (cosine) assignment: one numpy argmax pass per
    Arrow batch — no shuffle, no per-row Python. Every IEEE operation
    keeps a fixed order, so a generated-SQL fold reproduces the cells bit
    for bit (pinned in tests/test_pq.py):

    * centroid norms are precomputed driver-side as a left-fold sum in
      index order plus one IEEE sqrt;
    * dot(vec, centroid) promotes the vector element to double BEFORE
      multiplying, and the row norm's products round to float32 first
      when the column is array<float> (only the fold accumulates in
      double);
    * the argmax is the strict-``>`` first-wins fold (init score −2.0,
      cell −1): a zero vector's NaN scores never win, so it lands in
      cell -1.

    The output column is ``cell`` by contract (index layouts partition on
    it); an input already carrying one would be silently replaced, so that
    collision raises instead. Every other input column passes through
    unchanged. NULL and ragged vectors raise (:func:`_vec_matrix`)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if "cell" in embeddings.columns:
        raise ValueError(
            "_assign_cells writes its assignment to a `cell` column; "
            "rename the existing `cell` column before indexing"
        )
    nrms = []
    for _, vec in centroids:
        acc = 0.0
        for x in vec:  # left-fold in index order
            acc += float(x) * float(x)
        nrms.append(math.sqrt(acc))
    dim = len(centroids[0][1])
    cids = [int(cid) for cid, _ in centroids]
    C = np.asarray([vec for _, vec in centroids], dtype=np.float64)
    cnrm = np.asarray(nrms, dtype=np.float64)
    in_fields = list(embeddings.schema.fields)
    out_schema = T.StructType(in_fields + [T.StructField("cell", T.IntegerType(), True)])
    names = [f.name for f in in_fields]
    is_f32 = isinstance(embeddings.schema[vec_col].dataType.elementType, T.FloatType)
    k = len(cids)
    cid_arr = np.asarray(cids, dtype=np.int32)

    def batches(it):
        for b in it:
            Xd = _vec_matrix(b.column(vec_col), dim)
            n = Xd.shape[0]
            if is_f32:
                x32 = Xd.astype(np.float32)  # exact round-trip: source was f32
                prods = (x32 * x32).astype(np.float64)  # f32 products, widened
            else:
                prods = Xd * Xd
            nv = np.sqrt(_chain_sum(prods, axis=1)) if n else np.empty(0)
            best = np.full(n, -2.0)
            cell = np.full(n, -1, dtype=np.int32)
            for c in range(k):
                dot = _chain_sum(Xd * C[c], axis=1) if n else np.empty(0)
                s = dot / (nv * cnrm[c])
                better = s > best  # NaN compares False: never wins
                best[better] = s[better]
                cell[better] = cid_arr[c]
            arrays = [b.column(nm) for nm in names] + [pa.array(cell, pa.int32())]
            yield pa.RecordBatch.from_arrays(arrays, names=names + ["cell"])

    return embeddings.mapInArrow(batches, schema=out_schema)


def ivf_index(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    seed: int = 42,
    refine_iters: int = 0,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """IVF coarse quantizer: assign every vector to its nearest of
    ``n_centroids`` centroids. Centroids seed from a deterministic
    hash-ranked sample of the corpus; ``refine_iters`` Lloyd iterations
    (spherical k-means flavour: mean per cell, cosine assignment
    renormalizes) tighten the cells — each iteration is one distributed
    assignment + one per-dimension avg aggregation whose result (k×dim
    values) collects to the driver to become the next centroid literal.
    Default 0 keeps the layout bit-deterministic (float means depend on
    partial-agg order); recall-sensitive deployments refine, determinism-
    sensitive ones don't.

    Returns (indexed corpus with a ``cell`` column, centroid list). At
    100 TB the indexed table is written once partitioned BY cell — probing
    then prunes whole partitions at scan time (partition pruning is the
    IVF win; the LSH variant gets the same effect from bucket ids)."""
    ranked = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.xxhash64(F.lit(seed), F.col(id_col)).alias("_h"),
    )
    cents_rows = ranked.orderBy("_h", "_id").limit(n_centroids).select("_v").collect()
    centroids = [(i, [float(x) for x in r._v]) for i, r in enumerate(cents_rows)]

    for _ in range(max(0, int(refine_iters))):
        assigned = _assign_cells(embeddings, vec_col, centroids)
        means = (
            assigned.select("cell", F.posexplode(F.col(vec_col)).alias("_dim", "_x"))
            .groupBy("cell", "_dim")
            .agg(F.avg("_x").alias("_mu"))
            .groupBy("cell")
            .agg(F.map_from_entries(F.collect_list(F.struct("_dim", "_mu"))).alias("_m"))
            .collect()
        )
        by_cell = {int(r.cell): r._m for r in means}
        centroids = [
            (
                cid,
                [float(by_cell[cid][d]) for d in range(len(vec))]
                if cid in by_cell
                else vec,  # empty cell keeps its seed centroid
            )
            for cid, vec in centroids
        ]

    indexed = _assign_cells(embeddings, vec_col, centroids)
    return indexed, centroids


def ivf_cosine_topk(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    refine_iters: int = 0,
    query_filter: str = "vec_id < 10",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` nearest cells per query,
    exact cosine re-rank inside. ``n_probe == n_centroids`` degrades to the
    exact brute force (pinned by test), which is the knob's whole point:
    recall vs cells-scanned, per query, at runtime.

    ``centroids`` overrides the seeded-sample quantizer with a caller-
    supplied layout (e.g. the pinned integer set backing the hash-oracle
    twin — see :func:`pinned_pq_layout`)."""
    if centroids is not None:
        indexed = _assign_cells(embeddings, vec_col, centroids)
    else:
        indexed, centroids = ivf_index(
            embeddings, id_col, vec_col, n_centroids, seed, refine_iters=refine_iters
        )
    indexed = indexed.persist()

    q = indexed.filter(F.expr(query_filter)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    nrm = lambda cc: F.sqrt(  # noqa: E731
        F.aggregate(F.zip_with(cc, cc, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    )
    # Per-side norm columns below the join (same factoring as knn_join):
    # one fold per probe/corpus row, not two per candidate; bit-identical.
    probes = _rank_cells(q, centroids, n_probe).withColumn("_qn", nrm(F.col("_qv")))
    c = indexed.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"), "cell"
    ).withColumn("_cn", nrm(F.col("_cv")))
    dot = F.aggregate(F.zip_with("_qv", "_cv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    scored = (
        probes.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", dot / (F.col("_qn") * F.col("_cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _rank_cells(
    q: DataFrame, centroids: list[tuple[int, list[float]]], n_probe: int
) -> DataFrame:
    """Rank cells per query by centroid dot product, keep ``n_probe``.
    Input (query_id, _qv) → output (query_id, _qv, cell)."""
    cent_lit = F.array(
        *[
            F.struct(F.lit(cid).alias("cid"), F.array(*[F.lit(x) for x in vec]).alias("cv"))
            for cid, vec in centroids
        ]
    )
    return (
        q.select("query_id", "_qv", F.explode(cent_lit).alias("_c"))
        .withColumn(
            "_cs",
            F.aggregate(
                F.zip_with("_qv", F.col("_c.cv"), lambda x, y: x * y),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
        )
        .withColumn(
            "_pr",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.col("_cs").desc(), F.col("_c.cid"))
            ),
        )
        .filter(F.col("_pr") <= n_probe)
        .select("query_id", "_qv", F.col("_c.cid").alias("cell"))
    )


def write_ivf_index(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    n_centroids: int = 16,
    seed: int = 42,
    refine_iters: int = 0,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> None:
    """Materialize the IVF layout on disk: write-once, query-many — the
    partitioned twin of :func:`write_lsh_index`.

    ``/cells`` holds ONLY (id) rows under a ``cell=<c>`` parquet partition
    layout (vectors stay in the base table; IVF assigns each vector to
    exactly one cell, so the index is n rows — no replication at all,
    unlike LSH's L tables). ``/centroids`` stores the coarse quantizer as
    (cid, cv) rows, making the index self-describing: readers rebuild the
    probe ranking from the persisted centroids, not from re-running the
    sampler. A one-row ``/meta`` parquet additionally records the writer's
    (id_col, vec_col, n_centroids, seed) so readers resolve the index's
    own id column name without trusting the caller. ``centroids``
    overrides the seeded-sample training (the pinned hash-oracle
    layout)."""
    if centroids is not None:
        indexed = _assign_cells(embeddings, vec_col, centroids)
    else:
        indexed, centroids = ivf_index(
            embeddings, id_col, vec_col, n_centroids, seed, refine_iters=refine_iters
        )
    (
        indexed.select(F.col(id_col), "cell")
        .repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(path + "/cells")
    )
    _drop_stream_overlay(embeddings.sparkSession, path, "cells")
    spark = embeddings.sparkSession
    local_sidecar_df(
        spark,
        [(cid, [float(x) for x in vec]) for cid, vec in centroids],
        "cid int, cv array<double>",
    ).write.mode("overwrite").parquet(path + "/centroids")
    local_sidecar_df(
        spark,
        [(id_col, vec_col, int(n_centroids), int(seed))],
        "id_col string, vec_col string, n_centroids int, seed int",
    ).write.mode("overwrite").parquet(path + "/meta")


def ivf_topk_from_index(
    spark,
    index_path: str,
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_probe: int = 4,
    query_filter: str = "vec_id < 10",
) -> DataFrame:
    """Approximate top-k against a :func:`write_ivf_index` layout.

    Probe cells come from ranking the persisted centroids per query; the
    probed cell ids (≤ n_centroids, bounded) are collected and pushed as a
    static filter on the index's PARTITION column — `.explain` shows them
    under ``PartitionFilters``, so only the probed ``cell=`` directories
    are ever opened. Work is O(vectors in probed cells), not O(corpus)."""
    centroids = [
        (int(r.cid), [float(x) for x in r.cv])
        for r in spark.read.parquet(index_path + "/centroids").collect()
    ]
    centroids.sort(key=lambda cv: cv[0])
    idx_id_col = str(spark.read.parquet(index_path + "/meta").collect()[0].id_col)

    q = embeddings.filter(F.expr(query_filter)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    probes = _rank_cells(q, centroids, n_probe).select("query_id", "cell")

    cells = sorted({int(r.cell) for r in probes.select("cell").distinct().collect()})
    if not cells:  # empty query set
        empty = "query_id bigint, neighbor_id bigint, sim double, rank int"
        return spark.createDataFrame([], empty)

    # rename by the PERSISTED id column (see lsh_topk_from_index): the
    # caller's id_col names the query/base frame, not the index's layout
    idx = (
        _read_index_layer(spark, index_path, "cells")
        .filter(F.col("cell").isin(cells))
        .withColumnRenamed(idx_id_col, "neighbor_id")
    )
    cand = (
        probes.join(idx, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    return _score_topk(embeddings, id_col, vec_col, cand, k, query_filter)


# ---------------------------------------------------------------------------
# Product quantization (PQ): the compressed-ANN tier. LSH/IVF above shrink
# WHICH vectors a query touches; PQ shrinks the BYTES each touched vector
# costs — m sub-codebooks of 2^b centroids turn a dim×4-byte float vector
# into m small codes (64×4 B → 8 codes ≈ 16× here), and queries scan codes
# with a per-query lookup table (ADC) instead of raw vectors. At 100 TB the
# codes table is the only thing the scan reads (the raw vectors stay in
# cold storage for the final re-rank join), and composing it with the IVF
# layout (encode residuals per cell, partition codes BY cell) is the
# canonical billion-scale IVFADC design — the composition is mechanical
# because pq_encode is a plain column transform.
# ---------------------------------------------------------------------------


def pq_train_codebooks(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    sample: int = 2048,
    iters: int = 8,
) -> np.ndarray:
    """Train m sub-codebooks of ksub centroids with driver-side Lloyd
    iterations over a BOUNDED, hash-ranked sample (≤ ``sample`` rows ×
    dim floats — ~1 MB at the defaults; the same bounded-collect pattern
    as the IVF centroid seed, documented here because it is the one
    driver-side step). Deterministic: xxhash64-ranked sample, first-k
    distinct init, fixed iteration count, no RNG. Returns (m, ksub,
    dim//m) float64."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    rows = (
        embeddings.select(
            F.col(vec_col).alias("_v"),
            F.xxhash64(F.lit(seed), F.col(id_col)).alias("_h"),
            F.col(id_col).alias("_id"),
        )
        .orderBy("_h", "_id")
        .limit(int(sample))
        .collect()
    )
    x = np.asarray([[float(v) for v in r._v] for r in rows], dtype=np.float64)
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        # first-k distinct rows as seeds (deterministic; ties impossible
        # after dedup), then vanilla Lloyd with empty-cell carry-over
        _, first = np.unique(sub, axis=0, return_index=True)
        seeds = sub[np.sort(first)[:ksub]]
        if len(seeds) < ksub:  # degenerate corpus: pad by repeating
            seeds = np.resize(seeds, (ksub, dsub))
        cent = seeds.copy()
        for _ in range(int(iters)):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    cent[c] = sub[mask].mean(axis=0)
        books[j] = cent
    return books


def _sql_array2d(a: np.ndarray) -> str:
    """Nested array<array<double>> literal as SQL text. `repr(float)`
    round-trips exactly and the `D` suffix forces double (bare decimals
    parse as DECIMAL in Spark SQL). Codebook-sized literals MUST go
    through SQL text: building them with per-element F.lit/F.array costs
    one py4j round-trip per float (~10 s of client time at m=16,
    ksub=64), and per-centroid Python lambdas add seconds more — the PQ
    query-side expressions (LUT, cell ranking) are therefore generated
    SQL, parsed once."""
    rows = ",".join(
        "array(" + ",".join(f"{float(v)!r}D" for v in row) + ")" for row in a
    )
    return f"array({rows})"


def pq_encode(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: np.ndarray,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Encode the corpus against trained codebooks: one numpy argmin pass
    per subvector over whole Arrow batches — no shuffle, no per-row
    Python.

    Output (id, *keep, codes array<int>, _pqnorm double): codes[j] is the
    chosen centroid index for subvector j, ``_pqnorm`` the norm of the
    reconstructed vector (Σ_j ‖c_j‖² of the chosen centroids — needed for
    cosine ADC; carried as a column so the scan never reopens codebooks).
    At 100 TB codes pack to binary(m); array<int> keeps the driver/oracle
    plumbing simple at test scale and the layout point is identical.

    Every IEEE operation keeps a fixed order, so a generated-SQL fold
    reproduces the codes bit for bit (pinned in tests/test_pq.py): float
    elements promote to double before ``(x-y)*(x-y)``, the per-subvector
    distance is a left-chained add (:func:`_chain_sum`), the argmin keeps
    the first minimum (ties break to the lowest centroid index), and
    ``_pqnorm`` chains the m ``‖c‖²`` terms in subquantizer order before
    one IEEE sqrt. NULL, ragged and wrong-length vectors raise
    (:func:`_vec_matrix`)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    m, ksub, dsub = codebooks.shape
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    norms2 = (books**2).sum(axis=2)
    dim = m * dsub
    src = embeddings.select(id_col, *keep, vec_col)
    pass_names = [id_col, *keep]
    out_schema = T.StructType(
        [src.schema[c] for c in pass_names]
        + [
            T.StructField("codes", T.ArrayType(T.IntegerType(), True), True),
            T.StructField("_pqnorm", T.DoubleType(), True),
        ]
    )

    def batches(it):
        for b in it:
            X = _vec_matrix(b.column(vec_col), dim)
            n = X.shape[0]
            codes = np.empty((n, m), dtype=np.int32)
            acc_n2 = np.zeros(0) if n == 0 else None
            for j in range(m):
                sub = X[:, j * dsub : (j + 1) * dsub]
                diff = sub[:, None, :] - books[j][None, :, :]
                d = _chain_sum(diff * diff, axis=2)  # (n, ksub)
                cj = d.argmin(axis=1) if n else np.zeros(0, dtype=np.int64)
                codes[:, j] = cj
                n2 = norms2[j][cj]
                acc_n2 = n2.copy() if acc_n2 is None else acc_n2 + n2
            pqnorm = np.sqrt(acc_n2 if acc_n2 is not None else np.zeros(n))
            offsets = pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32))
            codes_arr = pa.ListArray.from_arrays(
                offsets, pa.array(codes.ravel(), pa.int32())
            )
            arrays = [b.column(nm) for nm in pass_names] + [
                codes_arr,
                pa.array(pqnorm, pa.float64()),
            ]
            yield pa.RecordBatch.from_arrays(
                arrays, names=pass_names + ["codes", "_pqnorm"]
            )

    return src.mapInArrow(batches, schema=out_schema)


def pq_cosine_topk(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    refine: int = 4,
    query_filter: str = "vec_id < 10",
    books: np.ndarray | None = None,
) -> DataFrame:
    """Compressed approximate top-k: ADC scan over PQ codes → shortlist of
    ``refine``·k per query → exact cosine re-rank on raw vectors.

    The ADC scan is one zip_with over (codes, per-query LUT): the LUT —
    dot(q_j, centroid[j][c]) for every (j, c) — is built JVM-side on the
    bounded query frame (m·ksub folds of dsub mults each, only on query
    rows), broadcast with it, and the corpus side touches ONLY the codes
    column: the raw-vector table is read exactly twice (query rows +
    shortlist re-rank join), never scanned per-candidate. ``refine`` ≥
    corpus/k degrades to exact brute force (pinned); the default trades
    that for a 16× smaller scan. Output (query_id, neighbor_id, sim,
    rank) like every other ANN entry point.

    Distribution sensitivity (measured, pinned in tests/test_recall.py
    ``test_ann_recall_on_clustered_mixture``): on mixture-shaped corpora
    — hot tight clusters, the realistic embedding regime — the default
    (m=16, refine=8) recall drops to ~0.71 because cluster-mates sit
    inside ADC's quantization error and the shortlist misses. Either
    ``refine=32`` (4× shortlist, recall 0.956) or ``m=32`` (finer codes,
    2× bytes/row, recall 0.944) restores ≥0.9; prefer refine when scan
    bytes dominate, m when re-rank joins do.

    ``books`` overrides training with a caller-supplied codebook array
    (e.g. the pinned integer layout, which makes every ADC/refine value
    exact-integer-derived and therefore hash-oracle checkable)."""
    if books is None:
        books = pq_train_codebooks(
            embeddings, id_col, vec_col, dim, m=m, ksub=ksub, seed=seed
        )
    mm, ksub_, dsub = books.shape
    encoded = pq_encode(embeddings, id_col, vec_col, books)
    codes = encoded.withColumnRenamed(id_col, "neighbor_id")

    q = _pq_query_lut(
        embeddings.filter(F.expr(query_filter)).selectExpr(
            f"`{id_col}` AS query_id", f"`{vec_col}` AS _qv"
        ),
        books,
    )
    cand = _pq_adc_shortlist(q, codes, int(refine) * k)
    return _score_topk(embeddings, id_col, vec_col, cand, k, query_filter)


def _pq_query_lut(q: DataFrame, books: np.ndarray, keep_vec: bool = False) -> DataFrame:
    """(query_id, _qv[, extra]) → (query_id[, extra], _lut, _qn): the
    per-query ADC lookup table — dot(q_j, centroid[j][c]) for every
    (j, c) — plus the exact query norm. Generated SQL like pq_encode.

    ``keep_vec=True`` carries ``_qv`` through, so callers can compute the
    LUT BEFORE fanning queries out to probe rows (the kNN-join paths):
    the LUT is m·ksub interpreted dot folds per row, so evaluating it on
    the pre-explode query frame instead of the ×n_probe probe frame is
    an n_probe-fold saving for bit-identical values (r12)."""
    m, _ksub, dsub = books.shape
    extra = [c for c in q.columns if c not in ("query_id", "_qv")]
    keep = ["_qv"] if keep_vec else []
    lut_exprs = [
        f"transform({_sql_array2d(books[j])}, cc -> "
        f"aggregate(zip_with(slice(_qv, {j * dsub + 1}, {dsub}), cc, "
        f"(x, y) -> x*y), 0D, (a, b) -> a+b)) AS _lut_{j}"
        for j in range(m)
    ]
    return (
        q.selectExpr("query_id", *extra, "_qv", *lut_exprs)
        .selectExpr(
            "query_id",
            *extra,
            *keep,
            "array(" + ",".join(f"_lut_{j}" for j in range(m)) + ") AS _lut",
            "sqrt(aggregate(zip_with(_qv, _qv, (x, y) -> x*y), 0D, (a, b) -> a+b)) AS _qn",
        )
    )


def _pq_adc_shortlist(
    q: DataFrame, codes: DataFrame, shortlist_n: int, join_on: list[str] | None = None
) -> DataFrame:
    """ADC scan: score every (query, code-row) pair — restricted to
    ``join_on`` equality (e.g. probed cells) when given, the full corpus
    otherwise — and keep the top ``shortlist_n`` per query by approximate
    cosine. Output (query_id, neighbor_id) for exact re-rank."""
    approx_dot = F.aggregate(
        F.zip_with(F.col("codes"), F.col("_lut"), lambda c_, l_: F.element_at(l_, c_ + 1)),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    joined = (
        F.broadcast(q).join(codes, join_on) if join_on else F.broadcast(q).crossJoin(codes)
    )
    shortlist = joined.filter(F.col("query_id") != F.col("neighbor_id")).withColumn(
        "_adc", approx_dot / (F.col("_qn") * F.col("_pqnorm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_adc").desc(), F.col("neighbor_id"))
    return (
        shortlist.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= shortlist_n)
        .select("query_id", "neighbor_id")
    )


def pinned_pq_layout(
    dim: int,
    m: int,
    ksub: int,
    n_centroids: int,
) -> tuple[np.ndarray, list[tuple[int, list[float]]]]:
    """The pinned INTEGER codebooks + coarse centroids backing the
    ann_pq_serve hash oracle (VERDICT r8 #3) — trained ONCE on the
    1e4-quantized sf0.01 embeddings and rounded to ints
    (scripts/gen_pq_pinned.py regenerates ``pq_pinned.py``).

    With integer-valued centroids and integer-quantized vectors, every
    distance/LUT/ADC value in the IVFADC pipeline is an exact integer
    carried in doubles (all magnitudes ≪ 2^53), so a DuckDB oracle
    reproduces the ENTIRE serve — cell assignment, PQ codes, ADC
    shortlist, exact refine — bit-for-bit; the only non-integer ops are
    sqrt/division, IEEE-correctly-rounded in both engines. Rounding the
    trained layout moves each centroid < 1 quantum, so recall stays at
    the trained level (pinned in tests/test_pq.py); freshly-trained
    layouts remain the default for every other PQ entry point."""
    from pgdedupe_spark.operators import pq_pinned as P

    if (dim, m, ksub, n_centroids) != (P.DIM, P.M, P.KSUB, P.N_CENTROIDS):
        raise ValueError(
            f"pinned layout is ({P.DIM},{P.M},{P.KSUB},{P.N_CENTROIDS}); "
            f"regenerate scripts/gen_pq_pinned.py for ({dim},{m},{ksub},{n_centroids})"
        )
    books = np.array(P.PINNED_BOOKS, dtype=np.float64)
    centroids = [(i, [float(v) for v in vec]) for i, vec in enumerate(P.PINNED_CENTROIDS)]
    return books, centroids


def write_pq_index(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    n_centroids: int = 16,
    seed: int = 42,
    books: np.ndarray | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> None:
    """Materialize the IVFADC layout: coarse IVF cells partition the
    corpus, and within each partition only PQ codes are stored — the
    canonical billion-scale composition (coarse quantizer prunes WHICH
    rows a query reads, PQ shrinks the BYTES per row read).

    ``/codes``     (id, codes, _pqnorm) under ``cell=<c>`` parquet
                   partitions — the ONLY thing the serving scan opens.
    ``/codebooks`` (j, c, cv) rows — the m×ksub PQ sub-codebooks.
    ``/centroids`` (cid, cv) rows — the coarse quantizer (as IVF).
    ``/meta``      one row recording the writer's (id_col, vec_col, dim,
                   m, ksub, n_centroids, seed): self-describing, so
                   readers rebuild LUTs and probe rankings from the
                   persisted artifacts, never by re-training.

    Codes are encoded from the FULL vectors (not cell residuals): recall
    comes from the refine/re-rank stage, which keeps the encode a plain
    column transform reusable with or without the coarse layer.

    ``books``/``centroids`` override training with a caller-supplied
    layout (e.g. :func:`pinned_pq_layout` for the hash-oracle twin, or a
    layout trained on an earlier corpus snapshot)."""
    if books is None:
        books = pq_train_codebooks(
            embeddings, id_col, vec_col, dim, m=m, ksub=ksub, seed=seed
        )
    if centroids is None:
        indexed, centroids = ivf_index(embeddings, id_col, vec_col, n_centroids, seed)
    else:
        indexed = _assign_cells(embeddings, vec_col, centroids)
    codes = pq_encode(indexed, id_col, vec_col, books, keep=("cell",))
    (
        codes.repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(path + "/codes")
    )
    _drop_stream_overlay(embeddings.sparkSession, path, "codes")
    spark = embeddings.sparkSession
    m_, ksub_, dsub = books.shape
    local_sidecar_df(
        spark,
        [(j, c, [float(x) for x in books[j, c]]) for j in range(m_) for c in range(ksub_)],
        "j int, c int, cv array<double>",
    ).write.mode("overwrite").parquet(path + "/codebooks")
    local_sidecar_df(
        spark,
        [(cid, [float(x) for x in vec]) for cid, vec in centroids],
        "cid int, cv array<double>",
    ).write.mode("overwrite").parquet(path + "/centroids")
    local_sidecar_df(
        spark,
        [(id_col, vec_col, int(dim), int(m), int(ksub), int(n_centroids), int(seed))],
        "id_col string, vec_col string, dim int, m int, ksub int, n_centroids int, seed int",
    ).write.mode("overwrite").parquet(path + "/meta")


def pq_topk_from_index(
    spark,
    index_path: str,
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_probe: int = 4,
    refine: int = 8,
    query_filter: str = "vec_id < 10",
) -> DataFrame:
    """Approximate top-k against a :func:`write_pq_index` IVFADC layout.

    Per query: rank persisted centroids → probe ``n_probe`` cells (the
    probed ids are collected — bounded by n_centroids — and pushed as
    static ``PartitionFilters`` on the codes scan, so only probed
    ``cell=`` directories are opened) → ADC-score the codes inside those
    cells with the per-query LUT rebuilt from the persisted codebooks →
    exact re-rank of the ``refine``·k shortlist against raw vectors
    (``embeddings``, the base table — the index itself holds no floats
    beyond the sidecars). Serving cost: O(codes in probed cells) bytes,
    never the corpus, never raw vectors."""
    meta = spark.read.parquet(index_path + "/meta").collect()[0]
    idx_id_col = str(meta.id_col)
    m, ksub, dsub = int(meta.m), int(meta.ksub), int(meta.dim) // int(meta.m)
    brows = spark.read.parquet(index_path + "/codebooks").collect()
    books = np.zeros((m, ksub, dsub))
    for r in brows:
        books[int(r.j), int(r.c)] = [float(x) for x in r.cv]
    centroids = [
        (int(r.cid), [float(x) for x in r.cv])
        for r in spark.read.parquet(index_path + "/centroids").collect()
    ]
    centroids.sort(key=lambda cv: cv[0])

    q = embeddings.filter(F.expr(query_filter)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    probes = _rank_cells(q, centroids, n_probe).select("query_id", "_qv", "cell")
    cells = sorted({int(r.cell) for r in probes.select("cell").distinct().collect()})
    if not cells:  # empty query set
        empty = "query_id bigint, neighbor_id bigint, sim double, rank int"
        return spark.createDataFrame([], empty)

    q_lut = _pq_query_lut(probes, books)  # carries `cell` through
    codes = (
        _read_index_layer(spark, index_path, "codes")
        .filter(F.col("cell").isin(cells))
        .withColumnRenamed(idx_id_col, "neighbor_id")
    )
    cand = _pq_adc_shortlist(q_lut, codes, int(refine) * k, join_on=["cell"])
    return _score_topk(embeddings, id_col, vec_col, cand, k, query_filter)


def index_append(spark, index_path: str, new_embeddings: DataFrame) -> None:
    """Append a new corpus batch to a persisted ANN index — LSH
    (:func:`write_lsh_index`), IVF (:func:`write_ivf_index`) or PQ/IVFADC
    (:func:`write_pq_index`) — without rebuilding. The layout kind is
    detected from the self-describing ``/meta`` row; the batch must carry
    the writer's recorded (id_col, vec_col) columns, and ids must be new
    (dedup is the caller's contract, same as the base table's).

    Consistency guarantees per layout:

    * **LSH** — hyperplanes regenerate from the persisted (dim, n_planes,
      n_tables, seed), so appended rows land in EXACTLY the buckets a
      full rebuild would put them in: append ≡ rebuild, bit-for-bit.
    * **IVF / PQ** — cell assignment uses the PERSISTED centroids (and PQ
      codes the persisted codebooks): the layout stays internally
      consistent and serving stays correct, but centroids are NOT
      retrained, so a distribution-shifted batch can imbalance cells
      (the standard IVF trade-off; monitor and rebuild when skew grows).

    Scale shape: one scan of the new batch → the same bucketize/assign/
    encode expressions the writer used → ``mode("append")`` into the same
    partition directories. Existing files are never touched, so probing/
    pruning semantics are unchanged; appended batches add one file per
    touched partition (run :func:`pgdedupe_spark.sources.io.compact_table`
    with ``partition_by`` matching the layout — e.g. ``["cell"]`` — when
    small files accumulate; plain compaction would flatten the partition
    directories the probe pruning depends on)."""
    layer, rows, parts = _index_batch_rows(spark, index_path, new_embeddings)
    (
        rows.repartition(*parts)
        .write.partitionBy(*parts)
        .mode("append")
        .parquet(f"{index_path}/{layer}")
    )


def _index_batch_rows(
    spark, index_path: str, new_embeddings: DataFrame
) -> tuple[str, DataFrame, list[str]]:
    """The shared transform behind :func:`index_append` and the streaming
    maintenance op: run a new batch through EXACTLY the expressions the
    index writer used (planes regenerated from meta / persisted centroids
    / persisted codebooks) and return ``(layer_name, rows,
    partition_cols)`` ready to write into the layout."""
    meta = spark.read.parquet(index_path + "/meta").collect()[0]
    fields = set(meta.asDict())
    id_col, vec_col = str(meta.id_col), str(meta.vec_col)
    batch = new_embeddings.select(F.col(id_col), F.col(vec_col))

    if "n_planes" in fields:  # LSH layout
        planes = _table_planes(int(meta.dim), int(meta.n_planes), int(meta.n_tables), int(meta.seed))
        bucketed = _bucketize(batch, id_col, vec_col, planes)
        return "buckets", bucketed, ["table", "bucket"]

    centroids = [
        (int(r.cid), [float(x) for x in r.cv])
        for r in spark.read.parquet(index_path + "/centroids").collect()
    ]
    centroids.sort(key=lambda cv: cv[0])
    assigned = _assign_cells(batch, vec_col, centroids)

    if "m" in fields:  # PQ / IVFADC layout
        m, ksub, dsub = int(meta.m), int(meta.ksub), int(meta.dim) // int(meta.m)
        brows = spark.read.parquet(index_path + "/codebooks").collect()
        books = np.zeros((m, ksub, dsub))
        for r in brows:
            books[int(r.j), int(r.c)] = [float(x) for x in r.cv]
        codes = pq_encode(assigned, id_col, vec_col, books, keep=("cell",))
        return "codes", codes, ["cell"]

    # plain IVF layout
    return "cells", assigned.select(F.col(id_col), "cell"), ["cell"]


def index_append_epoch(
    spark, index_path: str, new_embeddings: DataFrame, epoch_id: int
) -> None:
    """Epoch-idempotent :func:`index_append` for streaming maintenance:
    the batch's rows land in the ``{layer}_stream`` OVERLAY, partitioned
    by (epoch, *layout columns) and written as a dynamic partition
    overwrite — an at-least-once replay of the same epoch rewrites its
    own partitions with identical data instead of double-appending (the
    failure mode plain ``mode("append")`` has under replays; same design
    as :func:`streaming.ops.near_dup_stream`'s layers). Serving reads
    base + overlay through :func:`_read_index_layer`; the layout columns
    stay PARTITION columns inside each epoch, so probe pruning holds on
    the overlay too (epoch dirs of non-probed cells are never opened)."""
    layer, rows, parts = _index_batch_rows(spark, index_path, new_embeddings)
    (
        rows.withColumn("epoch", F.lit(int(epoch_id)))
        .repartition(*parts)
        .write.partitionBy("epoch", *parts)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(f"{index_path}/{layer}_stream")
    )


def index_compact(spark, index_path: str) -> None:
    """Fold streamed epochs into the base data layer — the maintenance
    step that closes the streaming-index lifecycle (write → stream epochs
    via :func:`index_append_epoch` → compact → stream again): the
    base ∪ overlay view is rewritten as ONE partition-pruned base layer
    (epoch directories disappear; per-epoch small files coalesce), and
    the overlay is dropped. Serving output is unchanged — the merged
    frame IS what `_read_index_layer` was already serving (pinned in
    tests/test_ann_stream.py). No-op when no overlay exists.

    OFFLINE maintenance, like :func:`sources.io.compact_table` (run it
    when no writer/reader races the rename): the swap sequence is
    write-to-side-dir → base→__old → side→base → drop overlay+__old, so
    a crash mid-swap leaves either the old state intact or a
    ``{layer}__old`` directory to recover from — never data loss, but
    a reader in the rename window can see a missing base."""
    meta = spark.read.parquet(index_path + "/meta").collect()[0]
    fields = set(meta.asDict())
    if "n_planes" in fields:
        layer, parts = "buckets", ["table", "bucket"]
    elif "m" in fields:
        layer, parts = "codes", ["cell"]
    else:
        layer, parts = "cells", ["cell"]

    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    P = jvm.org.apache.hadoop.fs.Path
    overlay = P(f"{index_path}/{layer}_stream")
    fs = overlay.getFileSystem(hconf)
    if not fs.exists(overlay):
        return

    merged = _read_index_layer(spark, index_path, layer)
    side = f"{index_path}/{layer}__compacting"
    (
        merged.repartition(*parts)
        .write.partitionBy(*parts)
        .mode("overwrite")
        .parquet(side)
    )
    base, old = P(f"{index_path}/{layer}"), P(f"{index_path}/{layer}__old")
    fs.delete(old, True)
    fs.rename(base, old)
    fs.rename(P(side), base)
    fs.delete(overlay, True)
    fs.delete(old, True)


def _drop_stream_overlay(spark, path: str, layer: str) -> None:
    """Delete a ``{layer}_stream`` overlay directory. Called by every
    index (re)writer: a rebuilt base index supersedes all streamed
    epochs — leaving a stale overlay behind would silently re-serve
    rows encoded against the OLD layout (wrong cells/codes)."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/{layer}_stream")
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.exists(p):
        fs.delete(p, True)


def _read_index_layer(spark, index_path: str, layer: str) -> DataFrame:
    """Read an index data layer plus its streaming overlay (if any
    epochs were appended by :func:`index_append_epoch`). Callers' probe
    filters are on layout columns that are partition columns in BOTH
    roots, and Catalyst pushes filters through the union, so partition
    pruning is preserved on each side."""
    base = spark.read.parquet(f"{index_path}/{layer}")
    # existence check via the FS API, not a try/except read: a thrown
    # AnalysisException also reaches Spark's ExecutionListenerBus and logs
    # a scary (harmless) ERROR line per query on indexes with no overlay
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{index_path}/{layer}_stream")
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return base
    overlay = spark.read.parquet(f"{index_path}/{layer}_stream").drop("epoch")
    return base.unionByName(overlay.select(*base.columns))


def embedding_dedup_pairs(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Scalable embedding near-duplicate pairs — the LSH-front-ended
    production counterpart of the O(n²)-guarded :func:`cosine_pairs`
    verifier: candidates are (id1 < id2) pairs sharing a bucket in ANY
    hyperplane table, deduplicated BEFORE the exact cosine verify, and
    only pairs at cosine ≥ ``threshold`` survive. Same quantized-integer
    dot product as the verifier, so on any corpus small enough to run
    both, the output is a subset of cosine_pairs with recall set by the
    (n_planes, n_tables) schedule — the SemDeDup-style candidate
    generation for 100 TB corpora (never all-pairs; candidate volume =
    bucket collision mass).

    Output: (id1, id2, sim) with id1 < id2."""
    table_planes = _table_planes(dim, n_planes, n_tables, seed)
    bucketed = _bucketize(embeddings, id_col, vec_col, table_planes)
    a = bucketed.select(F.col(id_col).alias("id1"), "table", "bucket")
    b = bucketed.select(F.col(id_col).alias("id2"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    q = embeddings.select(
        F.col(id_col).alias("_id"), _quantize(F.col(vec_col)).alias("_q")
    ).withColumn("_n", F.sqrt(_dot_long(F.col("_q"), F.col("_q")).cast("double")))
    lhs = q.select(
        F.col("_id").alias("id1"), F.col("_q").alias("_q1"), F.col("_n").alias("_n1")
    )
    rhs = q.select(
        F.col("_id").alias("id2"), F.col("_q").alias("_q2"), F.col("_n").alias("_n2")
    )
    return (
        cand.join(lhs, "id1")
        .join(rhs, "id2")
        .withColumn(
            "sim",
            _dot_long(F.col("_q1"), F.col("_q2")).cast("double")
            / (F.col("_n1") * F.col("_n2")),
        )
        .filter(F.col("sim") >= threshold)
        .select("id1", "id2", "sim")
    )


def embedding_near_dup_clusters(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic deduplication end-to-end: LSH-bucketed
    candidate pairs (:func:`embedding_dedup_pairs`) → distributed
    connected components → one row per member of a multi-document
    cluster with its cluster label (min member id — the canonical
    keep), cluster size, and a ``keep`` flag. Filtering ``keep OR
    cluster IS NULL`` on the joined corpus is the dedup action; the
    text-side twin is ``dedup.near_duplicate_clusters`` (n-gram
    Jaccard), and this is the variant that also catches paraphrases
    with no lexical overlap.

    Scale shape: bucket join → pair verify → pointer-doubling CC —
    every stage bucketed or vertex-sized, never all-pairs."""
    from pgdedupe_spark.operators.clustering import connected_components

    pairs = embedding_dedup_pairs(
        embeddings, id_col, vec_col, threshold, dim, n_planes, n_tables, seed
    )
    comps = connected_components(pairs.select("id1", "id2"))
    sizes = comps.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comps.join(sizes, "component")
        .select(
            F.col("id").alias(id_col),
            F.col("component").alias("cluster"),
            "cluster_size",
            (F.col("id") == F.col("component")).alias("keep"),
        )
    )


def _rank_cells_rowlocal(
    q: DataFrame, vec_col: str, centroids: list[tuple[int, list[float]]], n_probe: int
) -> DataFrame:
    """(query_id, vec) → (query_id, vec, cell): the ``n_probe`` cells with
    the largest raw centroid dot product, ranked ROW-LOCALLY — the scores
    land in a literal-centroid struct array, array_sort on (-score, cid)
    replays _rank_cells' (score DESC, cid ASC) order, and slice+explode
    fans out exactly n_probe rows per query. No Window: _rank_cells'
    per-query rank window is fine for a bounded query set but shuffles
    queries×n_centroids rows when the query side is a full corpus — this
    variant is what knn_join uses on its unbounded left. Same generated-
    SQL literal discipline as _assign_cells (py4j cost at 64×64)."""
    cent2d = _sql_array2d(np.array([vec for _, vec in centroids], dtype=np.float64))
    cids = "array(" + ",".join(str(int(cid)) for cid, _ in centroids) + ")"
    scores = (
        f"transform({cent2d}, (cc, i) -> named_struct("
        f"'negs', -aggregate(zip_with(`{vec_col}`, cc, (x, y) -> x * y),"
        f" 0D, (a, b) -> a + b), "
        f"'cid', element_at({cids}, i + 1)))"
    )
    top = f"slice(array_sort({scores}), 1, {int(n_probe)})"
    return (
        q.selectExpr("*", f"explode({top}) AS _pc")
        .withColumn("cell", F.col("_pc.cid"))
        .drop("_pc")
    )


def knn_join(
    left: DataFrame,
    left_id: str,
    left_vec: str,
    right: DataFrame,
    right_id: str,
    right_vec: str,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Two-table approximate kNN JOIN: for EVERY left row, the top-k
    right rows by exact cosine among IVF-probed candidates — the RAG /
    contrastive-pair mining primitive (query corpus × passage corpus)
    that ivf_cosine_topk's bounded-query serve shape doesn't cover.

    Both sides stay distributed: the coarse quantizer fits on the RIGHT
    corpus (seeded hash-rank sample, or pass ``centroids`` for a pinned/
    persisted layout), right rows get cells via the zero-shuffle argmax
    fold (_assign_cells), the left probes its n_probe cells ROW-LOCALLY
    (_rank_cells_rowlocal — no Window on the unbounded side), and the
    candidate equi-join on ``cell`` carries the n_probe/n_centroids
    recall dial. Final top-k ranks per query_id — unbounded distinct
    keys, so the window partitions well.

    100 TB notes: the cell join has at most n_centroids distinct keys —
    write the right side once partitioned BY cell (write_ivf_index) so
    probing prunes partitions, and lift n_centroids with corpus size
    (cells ~ sqrt(N) keeps cell populations bounded); candidate volume
    is left×n_probe×(N_right/n_centroids) — the output-volume knob is
    n_probe, not AQE (a quadratic-output join key can't be split by
    input-size skew handling; SCALE.md r9)."""
    if centroids is None:
        ranked = right.select(
            F.col(right_vec).alias("_v"),
            F.xxhash64(F.lit(seed), F.col(right_id)).alias("_h"),
            F.col(right_id).alias("_id"),
        )
        rows = ranked.orderBy("_h", "_id").limit(n_centroids).select("_v").collect()
        centroids = [(i, [float(x) for x in r._v]) for i, r in enumerate(rows)]

    nrm = lambda cc: F.sqrt(  # noqa: E731
        F.aggregate(F.zip_with(cc, cc, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    )
    # Norms are hoisted to per-side columns BELOW the cell join: one O(dim)
    # fold per corpus row and per probe row instead of two folds on every
    # candidate pair (~3x FLOP cut at 22M candidates, VERDICT r10 #3). The
    # arithmetic is unchanged — same fold, same sqrt, same multiply order —
    # so the result is bit-identical and the hash oracle holds.
    rc = _assign_cells(
        right.select(F.col(right_id).alias("neighbor_id"), F.col(right_vec).alias("_cv")),
        "_cv",
        centroids,
    ).withColumn("_cn", nrm(F.col("_cv")))
    q = left.select(F.col(left_id).alias("query_id"), F.col(left_vec).alias("_qv"))
    probes = _rank_cells_rowlocal(q, "_qv", centroids, n_probe).withColumn(
        "_qn", nrm(F.col("_qv"))
    )
    dot = F.aggregate(
        F.zip_with("_qv", "_cv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = probes.join(rc, "cell").withColumn(
        "sim", dot / (F.col("_qn") * F.col("_cn"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def knn_join_from_index(
    spark,
    index_path: str,
    left: DataFrame,
    left_id: str,
    left_vec: str,
    right: DataFrame,
    right_id: str,
    right_vec: str,
    k: int = 5,
    n_probe: int = 4,
    prune: bool = True,
) -> DataFrame:
    """:func:`knn_join` against a persisted :func:`write_ivf_index`
    layout — the production serve shape the in-memory join's 100 TB note
    prescribes: the right corpus is cell-assigned ONCE at write time
    (ids-only, ``cell=`` parquet partitions), so the join reads the
    index instead of re-running the argmax fold over the corpus, and
    with ``prune=True`` the probed cell set (≤ n_centroids, one bounded
    distinct-collect over the probe frame) pushes as a static
    PartitionFilter — only the probed ``cell=`` directories are ever
    opened. When the left side probes every cell, pruning buys nothing
    by definition; pass ``prune=False`` to skip the extra collect.

    The left stays unbounded: probe ranking is row-local
    (_rank_cells_rowlocal — no Window), ``_qv``/``_qn`` ride the probe
    rows through the cell join (no query-side re-join), and only the
    right vectors re-attach, by neighbor_id, for the exact cosine.
    Scores are bit-identical to the in-memory :func:`knn_join` under the
    same centroids (pinned in tests/test_recall.py)."""
    centroids = [
        (int(r.cid), [float(x) for x in r.cv])
        for r in spark.read.parquet(index_path + "/centroids").collect()
    ]
    centroids.sort(key=lambda cv: cv[0])
    idx_id_col = str(spark.read.parquet(index_path + "/meta").collect()[0].id_col)

    nrm = lambda cc: F.sqrt(  # noqa: E731
        F.aggregate(F.zip_with(cc, cc, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    )
    q = left.select(F.col(left_id).alias("query_id"), F.col(left_vec).alias("_qv"))
    probes = _rank_cells_rowlocal(q, "_qv", centroids, n_probe).withColumn(
        "_qn", nrm(F.col("_qv"))
    )
    idx = _read_index_layer(spark, index_path, "cells").withColumnRenamed(
        idx_id_col, "neighbor_id"
    )
    if prune:
        cells = sorted(
            {int(r.cell) for r in probes.select("cell").distinct().collect()}
        )
        if not cells:  # empty left side
            return spark.createDataFrame(
                [], "query_id bigint, neighbor_id bigint, sim double, rank int"
            )
        idx = idx.filter(F.col("cell").isin(cells))
    cv = right.select(
        F.col(right_id).alias("neighbor_id"), F.col(right_vec).alias("_cv")
    ).withColumn("_cn", nrm(F.col("_cv")))
    dot = F.aggregate(
        F.zip_with("_qv", "_cv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = (
        probes.join(idx, "cell")
        .join(cv, "neighbor_id")
        .withColumn("sim", dot / (F.col("_qn") * F.col("_cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def pq_knn_join(
    left: DataFrame,
    left_id: str,
    left_vec: str,
    right: DataFrame,
    right_id: str,
    right_vec: str,
    dim: int,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    n_centroids: int = 16,
    n_probe: int = 4,
    refine: int = 4,
    seed: int = 42,
    centroids: list[tuple[int, list[float]]] | None = None,
    books: np.ndarray | None = None,
) -> DataFrame:
    """Compressed two-table kNN join — the IVFADC composition of
    :func:`knn_join`: the billion-scale shape where the candidate scan
    touches m-byte PQ CODES instead of dim×8-byte raw vectors. Per left
    row: probe the ``n_probe`` nearest cells (row-local ranking, no
    Window on the unbounded side), ADC-score the probed cells' codes
    with a per-query lookup table that RIDES THE QUERY ROW through the
    cell join (computed row-locally from codebook literals — m·ksub
    folds once per probe row, never broadcast, so the left side stays
    unbounded), keep the ``refine``·k shortlist, then exact-cosine
    re-rank on raw vectors (the only two touches of either vector
    column: one LUT build per query row, one shortlist re-rank join).

    Quantizer + codebooks fit on the RIGHT corpus (or pass ``centroids``
    / ``books`` for a pinned/persisted layout). ``n_probe=n_centroids``
    with ``refine`` ≥ cell population degrades to the exact
    :func:`knn_join` brute force, neighbor-for-neighbor (pinned in
    tests/test_pq.py). Unlike the single-table entry points there is no
    query≠neighbor filter — the two id spaces are independent.

    100 TB notes: write the right side once as codes partitioned BY cell
    (write_pq_index) and the candidate scan reads O(code bytes in probed
    cells); the LUT is ~m·ksub·8 B per probe row (≈1-4 KB) — the price
    of keeping the left unbounded, and still ≪ carrying raw candidate
    vectors. Recall dials: n_probe (cells), refine (shortlist), m
    (code resolution — see pq_cosine_topk's measured mixture note)."""
    if centroids is None:
        ranked = right.select(
            F.col(right_vec).alias("_v"),
            F.xxhash64(F.lit(seed), F.col(right_id)).alias("_h"),
            F.col(right_id).alias("_id"),
        )
        rows = ranked.orderBy("_h", "_id").limit(n_centroids).select("_v").collect()
        centroids = [(i, [float(x) for x in r._v]) for i, r in enumerate(rows)]
    if books is None:
        books = pq_train_codebooks(
            right, right_id, right_vec, dim, m=m, ksub=ksub, seed=seed
        )

    # right: cell + codes (+ reconstructed norm) — the codes-only frame
    rc = _assign_cells(
        right.select(F.col(right_id).alias("neighbor_id"), F.col(right_vec).alias("_cv")),
        "_cv",
        centroids,
    )
    codes = pq_encode(rc, "neighbor_id", "_cv", books, keep=("cell",))

    # left: row-local LUT (+ exact query norm) BEFORE the probe fan-out —
    # the LUT projection sits below the explode, so it evaluates once per
    # QUERY row, not once per (query, probed cell) row (n_probe× less
    # interpreted fold work; bit-identical — same expressions, same rows).
    q = left.select(F.col(left_id).alias("query_id"), F.col(left_vec).alias("_qv"))
    lutted_q = _pq_query_lut(q, books, keep_vec=True)
    lutted = _rank_cells_rowlocal(lutted_q, "_qv", centroids, n_probe).drop("_qv")

    approx_dot = F.aggregate(
        F.zip_with(F.col("codes"), F.col("_lut"), lambda c_, l_: F.element_at(l_, c_ + 1)),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    shortlist_n = int(refine) * k
    wsl = Window.partitionBy("query_id").orderBy(F.col("_adc").desc(), F.col("neighbor_id"))
    cand = (
        lutted.join(codes, "cell")
        .withColumn("_adc", approx_dot / (F.col("_qn") * F.col("_pqnorm")))
        .withColumn("_r", F.row_number().over(wsl))
        .filter(F.col("_r") <= shortlist_n)
        .select("query_id", "neighbor_id")
    )

    # exact re-rank: raw vectors re-attach by id on both sides, norms
    # hoisted per side (the knn_join factoring)
    nrm = lambda cc: F.sqrt(  # noqa: E731
        F.aggregate(F.zip_with(cc, cc, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    )
    qv = left.select(F.col(left_id).alias("query_id"), F.col(left_vec).alias("_qv"))
    qv = qv.withColumn("_qn", nrm(F.col("_qv")))
    cv = right.select(
        F.col(right_id).alias("neighbor_id"), F.col(right_vec).alias("_cv")
    ).withColumn("_cn", nrm(F.col("_cv")))
    dot = F.aggregate(
        F.zip_with("_qv", "_cv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = (
        cand.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .withColumn("sim", dot / (F.col("_qn") * F.col("_cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def pq_knn_join_from_index(
    spark,
    index_path: str,
    left: DataFrame,
    left_id: str,
    left_vec: str,
    right: DataFrame,
    right_id: str,
    right_vec: str,
    k: int = 5,
    n_probe: int = 4,
    refine: int = 4,
    prune: bool = True,
) -> DataFrame:
    """:func:`pq_knn_join` against a persisted :func:`write_pq_index`
    IVFADC layout — the billion-scale serve join (VERDICT r11 #4): the
    right corpus was cell-assigned and PQ-encoded ONCE at write time, so
    the candidate scan reads O(code bytes in probed ``cell=``
    partitions) and nothing re-trains or re-encodes at query time.

    The left stays unbounded exactly as in the in-memory join: probe
    ranking is row-local (_rank_cells_rowlocal — no Window on the
    unbounded side) and the per-query ADC lookup table rides the query
    row through the cell join (_pq_query_lut — m·ksub folds per probe
    row, never broadcast). With ``prune=True`` the probed cell set
    (≤ n_centroids, one bounded distinct-collect over the probe frame)
    pushes as a static ``cell IN (...)`` PartitionFilter on the codes
    scan — only probed directories are ever opened (pinned in
    tests/test_pq.py). Raw vectors appear ONLY in the refine stage,
    re-attached by id from the caller's base tables (the index holds no
    floats beyond the sidecars). Under the same layout the output is
    bit-identical to the in-memory :func:`pq_knn_join` (pinned in
    tests/test_pq.py): persisted codes/_pqnorm round-trip parquet
    doubles exactly and the ADC/refine arithmetic is shared.

    100 TB notes: this is the write-once/query-many shape the in-memory
    join's docstring prescribes — maintain the codes layer with
    index_append/index_append_epoch + index_compact; recall dials are
    unchanged (n_probe, refine, m at write time)."""
    meta = spark.read.parquet(index_path + "/meta").collect()[0]
    idx_id_col = str(meta.id_col)
    m, ksub, dsub = int(meta.m), int(meta.ksub), int(meta.dim) // int(meta.m)
    brows = spark.read.parquet(index_path + "/codebooks").collect()
    books = np.zeros((m, ksub, dsub))
    for r in brows:
        books[int(r.j), int(r.c)] = [float(x) for x in r.cv]
    centroids = [
        (int(r.cid), [float(x) for x in r.cv])
        for r in spark.read.parquet(index_path + "/centroids").collect()
    ]
    centroids.sort(key=lambda cv: cv[0])

    q = left.select(F.col(left_id).alias("query_id"), F.col(left_vec).alias("_qv"))
    # LUT before the probe fan-out (the pq_knn_join rule, r12): the LUT
    # projection evaluates once per query row; the explode only replicates
    # the computed arrays. Bit-identical values.
    lutted_q = _pq_query_lut(q, books, keep_vec=True)
    probes = _rank_cells_rowlocal(lutted_q, "_qv", centroids, n_probe)
    lutted = probes.drop("_qv")

    codes = _read_index_layer(spark, index_path, "codes").withColumnRenamed(
        idx_id_col, "neighbor_id"
    )
    if prune:
        cells = sorted(
            {int(r.cell) for r in probes.select("cell").distinct().collect()}
        )
        if not cells:  # empty left side
            return spark.createDataFrame(
                [], "query_id bigint, neighbor_id bigint, sim double, rank int"
            )
        codes = codes.filter(F.col("cell").isin(cells))

    approx_dot = F.aggregate(
        F.zip_with(F.col("codes"), F.col("_lut"), lambda c_, l_: F.element_at(l_, c_ + 1)),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    shortlist_n = int(refine) * k
    wsl = Window.partitionBy("query_id").orderBy(
        F.col("_adc").desc(), F.col("neighbor_id")
    )
    cand = (
        lutted.join(codes, "cell")
        .withColumn("_adc", approx_dot / (F.col("_qn") * F.col("_pqnorm")))
        .withColumn("_r", F.row_number().over(wsl))
        .filter(F.col("_r") <= shortlist_n)
        .select("query_id", "neighbor_id")
    )

    # exact re-rank: identical tail to pq_knn_join (norms hoisted per side)
    nrm = lambda cc: F.sqrt(  # noqa: E731
        F.aggregate(F.zip_with(cc, cc, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    )
    qv = left.select(F.col(left_id).alias("query_id"), F.col(left_vec).alias("_qv"))
    qv = qv.withColumn("_qn", nrm(F.col("_qv")))
    cv = right.select(
        F.col(right_id).alias("neighbor_id"), F.col(right_vec).alias("_cv")
    ).withColumn("_cn", nrm(F.col("_cv")))
    dot = F.aggregate(
        F.zip_with("_qv", "_cv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = (
        cand.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .withColumn("sim", dot / (F.col("_qn") * F.col("_cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )
