"""D3 active-learning labeler (reference run.py:161-173; dedupe
uncertainPairs + console_label). The interactive console is reproduced by
``console_labeler``; these tests drive the loop with a TRUTH ORACLE
labeler, which is exactly what the human is to the reference."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pgdedupe_spark.config import DedupeConfig
from pgdedupe_spark.ml.active import (
    active_learning_loop,
    uncertain_pairs,
)
from pgdedupe_spark.operators.collapse import collapse_exact_duplicates
from pgdedupe_spark.operators.features import FieldDef
from tests.datagen import generate_population, training_pairs


def _config():
    return DedupeConfig(
        table="entries",
        key="entry_id",
        fields=[
            FieldDef("first_name"),
            FieldDef("last_name"),
            FieldDef("ssn", has_missing=True),
            FieldDef("dob", has_missing=True),
        ],
        threshold=0.5,
    )


@pytest.fixture(scope="module")
def corpus(spark):
    rows, truth, _ = generate_population(80, seed=7, twin_rate=0.1)
    df = spark.createDataFrame(
        rows, "entry_id long, first_name string, last_name string, ssn string, sex string, dob string"
    )
    entries = collapse_exact_duplicates(df, _config().field_names, "entry_id", None).persist()
    entries.count()
    # id → person, via any source entry of the collapsed record
    id_person = {
        r["_unique_id"]: truth[r["src_ids"][0]]
        for r in entries.select("_unique_id", "src_ids").collect()
    }
    return entries, id_person


def test_uncertain_pairs_orders_by_uncertainty(spark):
    df = spark.createDataFrame(
        [(1, 2, 0.9), (3, 4, 0.52), (5, 6, 0.1), (7, 8, 0.48), (9, 10, 0.5)],
        "id1 long, id2 long, score double",
    )
    got = [(r.id1, r.id2) for r in uncertain_pairs(df, 3).collect()]
    assert got == [(9, 10), (3, 4), (7, 8)]  # |s-0.5| = 0, .02, .02 (tie → ids)


def test_loop_requires_two_class_seed(spark, corpus):
    entries, _ = corpus
    with pytest.raises(ValueError, match="seed label"):
        active_learning_loop(entries, _config(), lambda ps: [], {"match": [], "distinct": []})


def test_loop_learns_and_never_repeats(spark, corpus):
    """A truth-oracle labeler (the 'human') must (a) only ever be shown a
    pair once, (b) grow the labeled set, (c) leave the classifier at least
    as accurate on a held-out labeled sample as the seed-only fit."""
    entries, id_person = corpus
    cfg = _config()
    tp = training_pairs(rng_seed=5, n=4)  # tiny seed: 4 match / ~7 distinct
    shown: list[tuple[int, int]] = []

    def oracle(pairs):
        # identity of the presented pair is recovered from the batch order —
        # the loop zips answers positionally, so just answer from field truth
        return [a["ssn"] == b["ssn"] and a["ssn"] is not None for a, b in pairs]

    # wrap the loop's collect boundary: record ids via labeled_ids afterward
    res = active_learning_loop(
        entries, cfg, oracle, tp, rounds=3, k_per_round=8
    )
    shown = [(a, b) for a, b, _ in res.labeled_ids]
    assert len(shown) == len(set(shown)), "a pair was presented twice"
    assert len(res.training_pairs["match"]) + len(res.training_pairs["distinct"]) > 11
    assert res.classifier.weights is not None

    # the refit classifier separates a fresh labeled sample decently:
    # score truth-same pairs above truth-different pairs on average
    import numpy as np

    from pgdedupe_spark.ml.training import labeled_pair_frame
    from pgdedupe_spark.operators.features import feature_columns

    _, cols = feature_columns(cfg.fields, cfg.interactions)

    def features(pairs):
        frame = labeled_pair_frame(spark, pairs, cfg.field_names)
        return np.array([r[0] for r in frame.select(F.array(*cols)).collect()])

    probe = training_pairs(rng_seed=11, n=20)
    Xm = features(probe["match"])
    Xd = features(probe["distinct"])
    pm = res.classifier.predict_proba(Xm).mean()
    pd_ = res.classifier.predict_proba(Xd).mean()
    assert pm > pd_ + 0.2, (pm, pd_)


def test_loop_unsure_answers_are_skipped(spark, corpus):
    entries, _ = corpus
    res = active_learning_loop(
        entries, _config(), lambda pairs: [None] * len(pairs),
        training_pairs(rng_seed=5, n=4), rounds=2, k_per_round=5,
    )
    assert res.labeled_ids == []  # nothing labeled…
    n_seed = len(training_pairs(rng_seed=5, n=4)["match"]) + len(
        training_pairs(rng_seed=5, n=4)["distinct"]
    )
    got = len(res.training_pairs["match"]) + len(res.training_pairs["distinct"])
    assert got == n_seed  # …and the seed set is unchanged
