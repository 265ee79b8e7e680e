"""Generated-SQL reference folds for the ANN kernels.

The production kernels in ``pgdedupe_spark.operators.similarity``
(``_bucketize``, ``_assign_cells``, ``pq_encode``) run as numpy passes
over Arrow batches. On float Gaussian planes and trained float codebooks
no DuckDB oracle reproduces their bits, so these Spark higher-order-
function folds are the bit-parity reference: each fixes the IEEE
operation order the numpy pass must replay (element promotion to double
before multiplying, left-chained ``aggregate`` adds, strict first-wins
argmin/argmax). Test-only; nothing in the package imports this module.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pgdedupe_spark.operators.similarity import _sql_array2d


def _bucket_expr(vec_col: str, planes: np.ndarray) -> Column:
    """Sign-pattern bucket id for one table: bit b = (v·plane_b) > 0."""
    sign_bits = []
    for b, p in enumerate(planes):
        lit = F.array(*[F.lit(float(x)) for x in p])
        proj = F.aggregate(
            F.zip_with(F.col(vec_col), lit, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sign_bits.append(F.when(proj > 0, F.lit(1 << b)).otherwise(F.lit(0)))
    bucket = sign_bits[0]
    for sb in sign_bits[1:]:
        bucket = bucket + sb
    return bucket


def bucketize_sql(
    embeddings: DataFrame, id_col: str, vec_col: str, table_planes: list[np.ndarray]
) -> DataFrame:
    """(id, table, bucket) rows for every table, like ``_bucketize``."""
    buckets = F.array(*[_bucket_expr(vec_col, p) for p in table_planes])
    return embeddings.select(
        F.col(id_col), F.posexplode(buckets).alias("table", "bucket")
    )


def assign_cells_sql(
    embeddings: DataFrame, vec_col: str, centroids: list[tuple[int, list[float]]]
) -> DataFrame:
    """Nearest-centroid (cosine) ``cell`` column, like ``_assign_cells``:
    one argmax fold over the centroid literal array, first-wins strict
    ``>`` (init score -2.0, cell -1), centroid norms precomputed as a
    left-fold sum in index order."""
    nrms = []
    for _, vec in centroids:
        acc = 0.0
        for x in vec:
            acc += float(x) * float(x)
        nrms.append(math.sqrt(acc))
    nv = "_nv"
    while nv in embeddings.columns:
        nv += "_"
    cids = "array(" + ",".join(str(int(cid)) for cid, _ in centroids) + ")"
    nrm_lit = "array(" + ",".join(f"{v!r}D" for v in nrms) + ")"
    cent2d = _sql_array2d(np.array([vec for _, vec in centroids], dtype=np.float64))
    nv_sql = (
        f"sqrt(aggregate(zip_with(`{vec_col}`, `{vec_col}`, (x, y) -> x * y), "
        f"0D, (a, b) -> a + b))"
    )
    fold = (
        f"aggregate("
        f"transform({cent2d}, (cc, i) -> named_struct("
        f"'s', aggregate(zip_with(`{vec_col}`, cc, (x, y) -> x * y), 0D, (a, b) -> a + b)"
        f" / (`{nv}` * element_at({nrm_lit}, i + 1)), "
        f"'cid', element_at({cids}, i + 1))), "
        f"named_struct('s', CAST(-2.0 AS DOUBLE), 'cid', -1), "
        f"(acc, s) -> IF(s.s > acc.s, s, acc)"
        f").cid AS cell"
    )
    return embeddings.withColumn(nv, F.expr(nv_sql)).selectExpr("*", fold).drop(nv)


def pq_encode_sql(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: np.ndarray,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *keep, codes, _pqnorm), like ``pq_encode``: per subvector one
    strict-``<`` argmin fold over the codebook literal (ties to the lowest
    index) carrying the chosen centroid's ``‖c‖²``; ``_pqnorm`` sums those
    in subquantizer order before one sqrt."""
    m, _ksub, dsub = codebooks.shape
    norms2 = (codebooks**2).sum(axis=2)
    best = []
    for j in range(m):
        n2_lit = "array(" + ",".join(f"{float(v)!r}D" for v in norms2[j]) + ")"
        best.append(
            f"aggregate("
            f"transform({_sql_array2d(codebooks[j])}, (cc, i) -> named_struct("
            f"'d', aggregate(zip_with(slice(`{vec_col}`, {j * dsub + 1}, {dsub}), cc, "
            f"(x, y) -> (x-y)*(x-y)), 0D, (a, b) -> a+b), 'i', i)), "
            f"named_struct('d', CAST('Infinity' AS DOUBLE), 'i', -1), "
            f"(acc, s) -> IF(s.d < acc.d, s, acc), "
            f"s -> named_struct('i', s.i, 'n2', element_at({n2_lit}, s.i + 1))"
            f") AS _b_{j}"
        )
    keep_cols = [f"`{c}`" for c in keep]
    step = embeddings.selectExpr(f"`{id_col}`", *keep_cols, *best)
    codes_sql = "array(" + ",".join(f"_b_{j}.i" for j in range(m)) + ")"
    pqnorm_sql = "sqrt(" + " + ".join(f"_b_{j}.n2" for j in range(m)) + ")"
    return step.selectExpr(
        f"`{id_col}`", *keep_cols, f"{codes_sql} AS codes", f"{pqnorm_sql} AS _pqnorm"
    )
