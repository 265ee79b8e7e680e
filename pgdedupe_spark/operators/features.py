"""Pair feature assembly (SURVEY.md §2.7 D1).

The reference delegates per-field distances to the ``dedupe`` library
(config: ``config.yaml:8-30``, assembled ``pgdedupe/run.py:50-55``):

* ``String``  → affine-gap edit distance
* ``Categorical`` → one-hot dummies over declared categories
* ``Interaction`` → product of two named variables' distances
* ``has missing`` → missing-indicator feature, NULLs flow through

Spark-first: every feature is a JVM column expression (whole-stage codegen;
no Python in the hot path). String distance = normalized Levenshtein
similarity via the built-in ``F.levenshtein`` — same monotone family as
affine-gap. :func:`feature_columns` is the ONLY definition of a pair
feature: scoring runs it over candidate pairs and
``ml/training.fit_classifier`` over the labeled pairs. This default is a
DELIBERATE contract, not an approximation left to chance:
``tests/test_pipeline.py::test_metric_fidelity_parity`` pins that the two
metrics' cluster decisions agree (same-cluster pair-set Jaccard ≥ 0.75,
measured 0.81) with purity held on the quality corpus. Exact affine-gap
fidelity stays available per-field via ``metric='affine_gap'``
(Arrow-batched Gotoh DP below).

Feature layout per field (mirrors dedupe's design):
  - String / Exact f: sim(f) in [0,1] (0.5 when either side NULL)
  - Categorical f with categories c1..ck: same(f1,f2), then
    dummy(f1==f2==ci)… (0.0 when either side NULL)
  - has-missing f: + missing indicator (either side NULL)
  - Interaction (a, b): feature(a) * feature(b)
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class FieldDef:
    field: str
    type: str = "String"  # String | Categorical | Exact
    categories: list[str] = field(default_factory=list)
    has_missing: bool = False
    metric: str = "levenshtein"  # levenshtein (JVM) | affine_gap (Arrow UDF)

    def __post_init__(self):
        if self.type not in ("String", "Categorical", "Exact"):
            raise ValueError(f"field {self.field!r}: unknown type {self.type!r}")
        if self.metric not in ("levenshtein", "affine_gap"):
            raise ValueError(f"field {self.field!r}: unknown metric {self.metric!r}")
        if self.type == "Categorical" and not self.categories:
            raise ValueError(f"field {self.field!r}: Categorical needs categories")


_MISMATCH, _OPEN, _EXTEND = 1.0, 1.0, 0.5


def affine_gap_distance(s: str, t: str) -> float:
    """Gotoh affine-gap edit distance — scalar rolling-row DP (person-record
    fields are short strings), run per row by :func:`affine_gap_similarity`."""
    la, lb = len(s), len(t)
    if la == 0 and lb == 0:
        return 0.0
    if la == 0 or lb == 0:
        return _OPEN + _EXTEND * (max(la, lb) - 1)
    INF = 1e18
    M = [[INF] * (lb + 1) for _ in range(2)]
    X = [[INF] * (lb + 1) for _ in range(2)]
    Y = [[INF] * (lb + 1) for _ in range(2)]
    M[0][0] = 0.0
    for j in range(1, lb + 1):
        Y[0][j] = _OPEN + _EXTEND * (j - 1)
    for i in range(1, la + 1):
        c, p = i % 2, (i - 1) % 2
        M[c][0] = Y[c][0] = INF
        X[c][0] = _OPEN + _EXTEND * (i - 1)
        for j in range(1, lb + 1):
            sub = 0.0 if s[i - 1] == t[j - 1] else _MISMATCH
            M[c][j] = sub + min(M[p][j - 1], X[p][j - 1], Y[p][j - 1])
            X[c][j] = min(M[p][j] + _OPEN, X[p][j] + _EXTEND, Y[p][j] + _OPEN)
            Y[c][j] = min(M[c][j - 1] + _OPEN, X[c][j - 1] + _OPEN, Y[c][j - 1] + _EXTEND)
    last = la % 2
    return min(M[last][lb], X[last][lb], Y[last][lb])


def affine_gap_sim_scalar(s: str | None, t: str | None) -> float:
    """Normalized affine-gap similarity in [0,1]; 0.5 neutral on missing
    (same contract as :func:`string_similarity`)."""
    if s is None or t is None:
        return 0.5
    worst = _OPEN + _EXTEND * (max(len(s), len(t)) - 1) if max(len(s), len(t)) else 1.0
    return max(0.0, 1.0 - affine_gap_distance(s, t) / max(worst, 1e-12))


def affine_gap_similarity():
    """D1 exact-fidelity option: affine-gap edit similarity (Gotoh DP —
    opening a gap costs more than extending one, so 'Jon'/'Jonathan' is
    nearer than the same edits scattered). The reference's dedupe library
    uses this family for every String field. Arrow-batched pandas UDF
    (one Python call per batch); the default JVM levenshtein is the scale
    path — this is opt-in per field via metric='affine_gap'."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _sim(a: pd.Series, b: pd.Series) -> pd.Series:
        out = np.empty(len(a))
        for i, (s, t) in enumerate(zip(a, b)):
            out[i] = affine_gap_sim_scalar(s, t)
        return pd.Series(out)

    return _sim


def string_similarity(a: Column, b: Column) -> Column:
    """Normalized Levenshtein similarity in [0,1]; 0.5 neutral when missing
    (dedupe imputes missing-feature values at scoring time; a fixed neutral
    plus the missing indicator is the standard linear-model equivalent)."""
    maxlen = F.greatest(F.length(a), F.length(b))
    sim = 1.0 - F.levenshtein(a, b) / maxlen
    return F.when(a.isNull() | b.isNull(), F.lit(0.5)).otherwise(
        F.when(maxlen == 0, F.lit(1.0)).otherwise(sim)
    )


def exact_similarity(a: Column, b: Column) -> Column:
    return F.when(a.isNull() | b.isNull(), F.lit(0.5)).otherwise(
        (a == b).cast("double")
    )


def feature_columns(fields: list[FieldDef], interactions: list[tuple[str, str]] | None = None):
    """Returns (names, list[Column]) of pair features over `{f}_1`/`{f}_2`."""
    names: list[str] = []
    cols: list[Column] = []
    primary: dict[str, Column] = {}

    for fd in fields:
        a, b = F.col(f"{fd.field}_1"), F.col(f"{fd.field}_2")
        if fd.type == "Categorical":
            same = exact_similarity(a, b)
            primary[fd.field] = same
            names.append(f"{fd.field}_same")
            cols.append(same)
            for cat in fd.categories:
                names.append(f"{fd.field}_is_{cat}")
                # null-safe: a missing side is 0.0, not a NULL feature
                cols.append((a.eqNullSafe(cat) & b.eqNullSafe(cat)).cast("double"))
        elif fd.type == "Exact":
            sim = exact_similarity(a, b)
            primary[fd.field] = sim
            names.append(f"{fd.field}_sim")
            cols.append(sim)
        else:  # String
            if fd.metric == "affine_gap":
                sim = affine_gap_similarity()(a, b)
            else:
                sim = string_similarity(a, b)
            primary[fd.field] = sim
            names.append(f"{fd.field}_sim")
            cols.append(sim)
        if fd.has_missing:
            names.append(f"{fd.field}_missing")
            cols.append((a.isNull() | b.isNull()).cast("double"))

    for x, y in interactions or []:
        names.append(f"{x}_x_{y}")
        cols.append(primary[x] * primary[y])

    return names, cols


def assemble_features(pairs: DataFrame, fields: list[FieldDef],
                      interactions: list[tuple[str, str]] | None = None) -> DataFrame:
    names, cols = feature_columns(fields, interactions)
    return pairs.withColumn("features", F.array(*cols)), names
