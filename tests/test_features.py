"""D1 feature semantics: string metrics, missing handling, interactions."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pgdedupe_spark.ml.persistence import StaticClassifier
from pgdedupe_spark.operators.features import (
    FieldDef,
    affine_gap_similarity,
    assemble_features,
    string_similarity,
)
from pgdedupe_spark.operators.scoring import score_pairs


def _sims(spark, pairs, col):
    df = spark.createDataFrame(pairs, "a string, b string")
    return [r.s for r in df.select(col(F.col("a"), F.col("b")).alias("s")).collect()]


def test_affine_gap_basic_properties(spark):
    ag = affine_gap_similarity()
    sims = _sims(
        spark,
        [
            ("jonathan", "jonathan"),  # identical → 1.0
            ("jonathan", "jon"),       # one contiguous 5-char gap
            ("jonathan", "jntn"),      # scattered deletions (o, a, ha)
            ("abc", "xyz"),            # all mismatch
            (None, "abc"),             # missing → neutral 0.5
        ],
        lambda a, b: ag(a, b),
    )
    assert sims[0] == pytest.approx(1.0)
    assert sims[1] > sims[2], "contiguous gap must beat scattered edits"
    assert sims[3] < 0.5
    assert sims[4] == pytest.approx(0.5)
    assert all(0.0 <= s <= 1.0 for s in sims)


def test_affine_gap_vs_levenshtein_gap_preference(spark):
    """The defining affine-gap property: one long gap is cheaper than the
    same number of scattered single-char gaps; plain levenshtein can't tell
    them apart."""
    ag = affine_gap_similarity()
    # both drop 4 chars from abcdefgh: one contiguous gap (cdef) vs four
    # scattered single-char gaps (a, c, e, g)
    contiguous = _sims(spark, [("abcdefgh", "abgh")], lambda a, b: ag(a, b))[0]
    scattered = _sims(spark, [("abcdefgh", "bdfh")], lambda a, b: ag(a, b))[0]
    assert contiguous > scattered


def test_feature_assembly_with_affine_metric(spark):
    fields = [
        FieldDef("first_name", metric="affine_gap"),
        FieldDef("last_name"),
    ]
    pairs = spark.createDataFrame(
        [("jonathan", "jon", "smith", "smith")],
        "first_name_1 string, first_name_2 string, last_name_1 string, last_name_2 string",
    )
    feat, names = assemble_features(pairs, fields, interactions=[("first_name", "last_name")])
    row = feat.select("features").collect()[0][0]
    assert names == ["first_name_sim", "last_name_sim", "first_name_x_last_name"]
    assert row[1] == pytest.approx(1.0)            # identical last names
    assert 0.0 < row[0] < 1.0                      # gapped first name
    assert row[2] == pytest.approx(row[0] * row[1])  # interaction product


def test_levenshtein_metric_stays_jvm(spark):
    """Default metric must not introduce a Python UDF node."""
    from pgdedupe_spark.plans import explain_str

    pairs = spark.createDataFrame([("a", "b")], "f_1 string, f_2 string")
    feat, _ = assemble_features(pairs, [FieldDef("f")])
    plan = explain_str(feat)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_categorical_missing_side_is_scored_not_dropped(spark):
    """One side NULL, the other equal to a declared category: the dummy is
    0.0 (the labeled-pair fit and the d4_pair_scores oracle agree), not a
    NULL feature whose NULL score makes score_pairs drop the pair."""
    fields = [FieldDef("sex", type="Categorical", categories=["M", "F"], has_missing=True)]
    pairs = spark.createDataFrame(
        [(1, 2, None, "M")], "id1 long, id2 long, sex_1 string, sex_2 string"
    )
    feat, names = assemble_features(pairs, fields)
    assert names == ["sex_same", "sex_is_M", "sex_is_F", "sex_missing"]
    assert feat.select("features").collect()[0][0] == [0.5, 0.0, 0.0, 1.0]

    clf = StaticClassifier(np.ones(len(names)), 0.0)
    got = [(r.id1, r.id2) for r in score_pairs(feat, clf, threshold=0.0).collect()]
    assert got == [(1, 2)]
