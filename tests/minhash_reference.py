"""Spark higher-order-function reference fold for the MinHash signatures.

The production kernel ``pgdedupe_spark.operators.dedup._minhash_sig_arrow``
computes the md5/Carter–Wegman signatures in numpy over Arrow batches.
This fold states the same arithmetic as Spark expressions — the form the
DuckDB oracles replay — and tests require the two to agree bit for bit.
Test-only; nothing in the package imports this module.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from pgdedupe_spark.operators.dedup import MINHASH_P, _CW_A, _CW_B, portable_hash60


def minhash_signature_array(shingle_col: str, num_hashes: int) -> Column:
    """All k min-hashes in ONE pass: array<long> of running minima folded
    over the shingles — one array traversal instead of k.

    The base hash (:func:`portable_hash60`, ~6 nodes incl. an md5) is
    too expensive to pay k times — k separate md5 passes measured 174 s
    at sf0.1, and a projected base-hash column does NOT help because
    Catalyst's projection collapse inlines it back into every signature
    expression (no CSE inside higher-order functions; re-measured
    106 s). So one ``aggregate`` walks the shingles once, binds the md5
    hash ONCE per element via a 1-element inner aggregate, fans it
    through k Carter-Wegman affine permutations mod 2^31-1 (zip_with
    over literal constant arrays), and zip_with/least folds the state —
    ~4.5 s at sf0.1, bit-identical to the k-pass formulation (equality
    pinned in tests/test_recall.py). DuckDB replicates the same
    arithmetic."""
    if num_hashes > len(_CW_A):
        raise ValueError(f"portable minhash supports <= {len(_CW_A)} hashes")
    a_arr = F.array(*[F.lit(a).cast("long") for a in _CW_A[:num_hashes]])
    b_arr = F.array(*[F.lit(b).cast("long") for b in _CW_B[:num_hashes]])
    init = F.array(*[F.lit(MINHASH_P).cast("long")] * num_hashes)

    def step(acc: Column, s: Column) -> Column:
        return F.aggregate(
            F.array(portable_hash60(s) % F.lit(MINHASH_P)),
            acc,
            lambda acc2, h: F.zip_with(
                acc2,
                F.zip_with(
                    a_arr, b_arr, lambda a, b: (a * h + b) % F.lit(MINHASH_P)
                ),
                lambda cur, new: F.least(cur, new),
            ),
        )

    return F.aggregate(F.col(shingle_col), init, step)
