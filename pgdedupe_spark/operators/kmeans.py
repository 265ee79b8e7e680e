"""Exact-integer k-means over embedding columns.

Semantic clustering is the corpus-mixing primitive (cluster-balanced
sampling, domain discovery, SemDeDup's first stage all start from
k-means over document embeddings). Like graph.pagerank, the operator is
formulated in EXACT INTEGER arithmetic so a fixed-iteration run
hash-matches an unrolled ANSI-SQL oracle bit-for-bit: embeddings are
quantized by ``floor(x · scale)`` (floor is identical in every engine;
round() is not — Spark rounds half-up, DuckDB half-even), distances are
BIGINT sums of squared BIGINT differences (order-free), and centroid
updates are truncating integer division of BIGINT sums (Spark ``div`` ≡
DuckDB ``//`` — both truncate toward zero, verified on negatives).

Scale design (the 100 TB argument): k·dim is SMALL by definition, so
centroids live driver-side as expression literals —

* assignment is a pure scan-local projection (the k distance
  expressions compile into whole-stage codegen; no join, no shuffle),
* the update is ONE hash aggregate keyed by cluster id (map-side
  combine over ≤ k groups; dim sum columns in a single pass),
* per round the only driver traffic is the ≤ k aggregate rows — the
  same bounded-collect discipline as pagerank's two scalars.

Initialization is the k vectors with the smallest ids — deterministic
and oracle-replicable (k-means++ would need RNG the oracle can't
mirror; callers wanting it can pass ``init`` explicitly). Empty
clusters keep their previous centroid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _quantize(vec_col: str, scale: int) -> Column:
    return F.transform(
        F.col(vec_col), lambda x: F.floor(x * F.lit(float(scale))).cast("long")
    )


def _assign_struct_expr(cents: list[list[int]]) -> Column:
    """argmin over literal centroids as a (dist, cid) struct — entirely
    codegen, zero joins. ``.getField("c")`` for the label alone,
    ``.getField("d")`` for the exact-integer squared distance."""
    cands = []
    for cid, cvec in enumerate(cents):
        carr = F.array(*[F.lit(int(v)).cast("long") for v in cvec])
        dist = F.aggregate(
            F.zip_with("_iv", carr, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        cands.append(F.struct(dist.alias("d"), F.lit(cid).alias("c")))
    return F.array_min(F.array(*cands))


def fit_centroids(
    iv: DataFrame,
    k: int,
    iterations: int,
    dim: int,
    init: list[list[int]] | None = None,
) -> list[list[int]]:
    """The Lloyd's fit loop over a pre-quantized ``(_id, _iv)`` frame —
    returns the FINAL integer centroids. Extracted so prototype scoring
    shares the identical fit bit-for-bit with kmeans_exact."""
    # r13 (guide §5, VERDICT r12 #6): the fit loop takes `iterations` + 1
    # full passes over the corpus (seed collect + one stats aggregate per
    # Lloyd round). One persist turns that into ONE source scan + cached
    # reads — at 100 TB that is the difference between re-reading and
    # re-quantizing the corpus per round and reading a columnar cache.
    # The cache is released before returning (SCALE.md rule 7): callers'
    # final assignment projection recomputes from source (one more scan —
    # exactly what the uncached code paid anyway).
    n_passes = (1 if init is None else 0) + iterations
    cached = n_passes >= 2
    if cached:
        iv = iv.persist()
    try:
        # vectors are fixed-dim by contract: a NULL or ragged vector would
        # silently drop out of the d=0 divisor group below, so refuse it
        # (one bounded probe; empty input has nothing to refuse)
        bad = iv.filter(F.col("_iv").isNull() | (F.size("_iv") != dim))
        if bad.limit(1).count():
            raise ValueError(f"every vector must be non-NULL with exactly {dim} dims")
        if init is None:
            seed_rows = iv.orderBy("_id").limit(k).collect()
            if len(seed_rows) < k:
                raise ValueError(f"need >= {k} vectors to seed {k} clusters")
            centroids = [
                list(r["_iv"]) for r in sorted(seed_rows, key=lambda r: r["_id"])
            ]
        else:
            if len(init) != k:
                raise ValueError("init must supply exactly k centroids")
            centroids = [list(c) for c in init]

        def assign_expr(cents: list[list[int]]) -> Column:
            return _assign_struct_expr(cents).getField("c")

        for _ in range(iterations):
            assigned = iv.withColumn("cluster", assign_expr(centroids))
            # r13: per-dimension sums via ONE posexplode + a (cluster, dim)
            # hash aggregate instead of a 64-column wide aggregate — the
            # wide plan's analysis + codegen cost ~1 s per round regardless
            # of data volume (measured: wide-agg 0.81-1.93 s vs explode
            # 0.35-1.47 s per round at sf0.1, bit-identical sums — BIGINT
            # addition is order-free). Vectors are fixed-dim by the
            # operator contract (``dim`` is a required fit parameter,
            # enforced above), so ``_n`` (the divisor) comes from the d=0
            # group — the per-cluster row count.
            stats = (
                assigned.select("cluster", F.posexplode("_iv").alias("_d", "_x"))
                .groupBy("cluster", "_d")
                .agg(F.sum("_x").alias("_s"), F.count(F.lit(1)).alias("_n"))
                .collect()
            )  # bounded: <= k * dim rows
            sums: dict[int, list] = {}
            counts: dict[int, int] = {}
            for r in stats:
                cid = r["cluster"]
                sums.setdefault(cid, [None] * dim)[r["_d"]] = r["_s"]
                if r["_d"] == 0:
                    counts[cid] = r["_n"]
            new_centroids = []
            for cid in range(k):
                if cid not in counts:
                    new_centroids.append(centroids[cid])  # empty cluster: keep
                else:
                    n = counts[cid]
                    s_row = sums[cid]
                    # truncating integer division — Spark `div` ≡ DuckDB `//`
                    new_centroids.append(
                        [int(s_row[d]) // n if s_row[d] >= 0
                         else -((-int(s_row[d])) // n)
                         for d in range(dim)]
                    )
            centroids = new_centroids
    finally:
        if cached:
            iv.unpersist()

    return centroids


def _prep_quantized(
    df: DataFrame, id_col: str, vec_col: str, scale: int
) -> DataFrame:
    return df.select(F.col(id_col).alias("_id"), _quantize(vec_col, scale).alias("_iv"))


def _empty_like(df: DataFrame, id_col: str, extra_fields) -> DataFrame:
    """Empty result preserving the caller's id type (ADVICE r8)."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField(id_col, df.schema[id_col].dataType, True), *extra_fields]
    )
    return df.sparkSession.createDataFrame([], schema)


def kmeans_exact(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iterations: int = 2,
    dim: int | None = None,
    scale: int = 10**6,
    init: list[list[int]] | None = None,
) -> DataFrame:
    """Lloyd's k-means for ``iterations`` rounds over quantized vectors.
    Returns ``(id_col, cluster)`` — the assignment under the FINAL
    centroids (i.e. ``iterations`` update steps then one assignment).
    Ties in the argmin break to the smallest cluster id.

    ``dim`` defaults to the first row's vector length (one bounded
    collect); pass it explicitly in pipelines that know their schema."""
    iv = _prep_quantized(df, id_col, vec_col, scale)
    if dim is None:
        first = iv.select(F.size("_iv")).first()
        if first is None:
            from pyspark.sql.types import IntegerType, StructField

            return _empty_like(df, id_col, [StructField("cluster", IntegerType(), True)])
        dim = first[0]

    centroids = fit_centroids(iv, k, iterations, dim, init)
    return iv.select(
        F.col("_id").alias(id_col),
        _assign_struct_expr(centroids).getField("c").alias("cluster"),
    )


def prototype_scores(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iterations: int = 2,
    dim: int | None = None,
    scale: int = 10**6,
    init: list[list[int]] | None = None,
) -> DataFrame:
    """SSL-prototypes difficulty metric (Sorscher et al. 2022, 'Beyond
    neural scaling laws'): ``(id, cluster, proto_dist)`` where proto_dist
    is the exact-integer squared distance to the FINAL centroid of the
    assigned cluster — the example's distance from its prototype. Large
    distance = hard/informative example; small = prototypical/redundant.
    Shares the fit loop with kmeans_exact bit-for-bit; scoring is the
    same zero-join codegen projection returning the struct's ``d`` field
    alongside ``c``."""
    iv = _prep_quantized(df, id_col, vec_col, scale)
    if dim is None:
        first = iv.select(F.size("_iv")).first()
        if first is None:
            from pyspark.sql.types import IntegerType, LongType, StructField

            return _empty_like(
                df,
                id_col,
                [
                    StructField("cluster", IntegerType(), True),
                    StructField("proto_dist", LongType(), True),
                ],
            )
        dim = first[0]

    centroids = fit_centroids(iv, k, iterations, dim, init)
    best = _assign_struct_expr(centroids)
    return iv.select(
        F.col("_id").alias(id_col),
        best.getField("c").alias("cluster"),
        best.getField("d").alias("proto_dist"),
    )


def prototype_prune(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iterations: int = 2,
    keep_pct: int = 50,
    dim: int | None = None,
    scale: int = 10**6,
    init: list[list[int]] | None = None,
    exact: bool = True,
) -> DataFrame:
    """Prototype-based data pruning — the SSL-prototypes selection rule
    (Sorscher et al. 2022) that D4 (Tirumala et al. 2023) composes with
    SemDeDup (similarity.embedding_dedup_pairs is the sibling stage):
    within each k-means cluster KEEP the ``keep_pct``% of examples
    FARTHEST from their prototype (hard examples), pruning the
    prototypical ones. Emits every input row with its score and an
    integer ``kept`` flag so callers can filter or audit.

    ``exact=True`` ranks within each cluster (dist DESC, id ASC — total
    order) and keeps rank <= ceil(n * keep_pct / 100): deterministic,
    oracle-replicable. The rank window partitions on the cluster id —
    only k reducers are hot, so at 100 TB use ``exact=False``: the
    per-cluster cutoff distance comes from a mergeable approx-percentile
    sketch (bounded state), broadcast back (<= k rows), and the keep
    test is a row-local filter — no Window, no k-way bottleneck; ties at
    the cutoff are all kept (a documented SUPERSET of keep_pct%: every
    row whose distance equals the cutoff passes, so clusters with many
    tied distances can keep noticeably more than keep_pct% — the bound
    is keep_pct% plus the cutoff tie class, not keep_pct% itself).

    Degenerate budgets short-circuit BEFORE the sketch/window (ADVICE
    r10: the >= cutoff test would otherwise still keep the max-distance
    row(s) at keep_pct=0): keep_pct <= 0 keeps nothing, >= 100 keeps
    everything, in both modes. Fractional percentages stay meaningful
    in BOTH modes (review r11 fixed approx; ADVICE r11 caught that the
    exact branch still truncated via int(keep_pct), so keep_pct=0.5
    with exact=True kept nothing): the exact threshold quantizes
    keep_pct to 1e-4-percent granularity and takes
    ceil(_n · round(keep_pct·1e4) / 1e6) as an all-integer expression —
    identical to the historical (_n·pct+99) div 100 for integer pct, so
    the ml_prototype_prune oracle is unchanged."""
    scores = prototype_scores(df, id_col, vec_col, k, iterations, dim, scale, init)
    if keep_pct <= 0 or keep_pct >= 100:
        kept = F.lit(1 if keep_pct >= 100 else 0)
        if exact:
            from pyspark.sql import Window

            wn = Window.partitionBy("cluster").orderBy(
                F.desc("proto_dist"), F.asc(id_col)
            )
            return scores.withColumn(
                "hard_rank", F.row_number().over(wn).cast("long")
            ).select(
                id_col, "cluster", "proto_dist", "hard_rank", kept.alias("kept")
            )
        return scores.select(id_col, "cluster", "proto_dist", kept.alias("kept"))
    if exact:
        from pyspark.sql import Window

        wn = Window.partitionBy("cluster").orderBy(
            F.desc("proto_dist"), F.asc(id_col)
        )
        # r13 negative result (guide §1.1, recorded so it isn't
        # re-attempted): folding the per-cluster count into a second
        # partition-only Window (removing the counts aggregate + broadcast
        # join and one declared scores pass) measured FLAT at sf0.1
        # (4.40 → 4.44 warm) — post-JIT the extra scores pass is cheap and
        # the second Window operator costs what the join saved. Reverted;
        # the groupBy+broadcast-join shape stays (one Window, pinned in
        # tests/test_prototype.py::test_plan_pins).
        counts = scores.groupBy("cluster").agg(F.count(F.lit(1)).alias("_n"))
        ranked = scores.withColumn("hard_rank", F.row_number().over(wn).cast("long"))
        # ceil(_n * keep_pct / 100) with keep_pct quantized to 1e-4 %:
        # all-integer, ≡ (_n*pct+99) div 100 for integer pct. LONG-safe
        # up to ~9.2e12 rows per cluster (same envelope as the curation
        # quantizers).
        pct_num = int(round(float(keep_pct) * 10_000))
        return (
            ranked.join(F.broadcast(counts), "cluster")
            .withColumn(
                "kept",
                (
                    F.col("hard_rank")
                    <= F.expr(f"(_n * {pct_num}L + 999999) div 1000000")
                ).cast("int"),
            )
            .select(id_col, "cluster", "proto_dist", "hard_rank", "kept")
        )
    cuts = scores.groupBy("cluster").agg(
        F.percentile_approx(
            "proto_dist", F.lit(1.0 - keep_pct / 100.0), F.lit(10000)
        ).alias("_cut")
    )
    return (
        scores.join(F.broadcast(cuts), "cluster")
        .withColumn("kept", (F.col("proto_dist") >= F.col("_cut")).cast("int"))
        .select(id_col, "cluster", "proto_dist", "kept")
    )
