"""D10 trained-model persistence — the last SURVEY §2 partial (VERDICT r8
#1). The reference trains once, pickles the deduper to ``settings_file``,
and reruns via ``use_saved_model`` / ``StaticDedupe``
(``pgdedupe/run.py:33,39,126-129,180-181``); these pins prove the Spark
analog: save→load round-trips the classifier bit-exactly, a saved-model
pipeline run reproduces the fit run (reference
``tests/test_reproducibility.py:13-75`` analog), and the CLI drives it
end-to-end without ``--training``."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from pgdedupe_spark.config import DedupeConfig
from pgdedupe_spark.ml.persistence import StaticClassifier, load_model, save_model
from pgdedupe_spark.ml.training import (
    create_model_definition,
    fit_classifier,
    filename_friendly_hash,
    write_training,
)
from pgdedupe_spark.operators.scoring import LogisticRegressionClassifier, score_pairs
from tests.datagen import generate_population, training_pairs
from tests.test_cli import CONFIG


def _fitted_config():
    config = DedupeConfig.from_dict(CONFIG)
    training = training_pairs()
    clf = fit_classifier(config, training)
    return config, training, clf


def test_save_load_roundtrip_is_bitexact(spark, tmp_path):
    config, training, clf = _fitted_config()
    path = str(tmp_path / "model.json")
    save_model(path, clf, config,
               model_hash=filename_friendly_hash(create_model_definition(config, training)))
    saved = load_model(path)
    assert isinstance(saved.classifier, StaticClassifier)
    assert saved.classifier_name == "logistic_regression"
    # float.hex round-trip: every weight and the bias are IDENTICAL floats
    assert np.array_equal(saved.classifier.weights, clf.weights)
    assert saved.classifier.bias == clf.bias
    # field schema + threshold survive
    assert [f.field for f in saved.fields] == [f.field for f in config.fields]
    assert saved.fields[2].has_missing is True
    assert saved.threshold == config.threshold
    assert saved.model_hash == filename_friendly_hash(
        create_model_definition(config, training)
    )
    # driver-side scoring surface agrees bit-exactly
    X = np.array([[0.1, 0.9, 0.5, 0.0, 0.3, 1.0], [1.0, 1.0, 1.0, 0.0, 1.0, 0.0]])
    assert np.array_equal(saved.classifier.predict_proba(X), clf.predict_proba(X))


def test_loaded_model_scores_pairs_bitexact(spark, tmp_path):
    """load→score ≡ fit→score on a JVM-scored pair frame (the
    d4_pair_scores surface): same weights as expression literals ⇒ the
    collected scores must be float-identical, not just close."""
    config, _training, clf = _fitted_config()
    path = str(tmp_path / "model.json")
    save_model(path, clf, config)
    saved = load_model(path)

    rng = np.random.RandomState(7)
    X = rng.rand(200, clf.weights.shape[0])
    rows = [(i, i + 10_000, [float(v) for v in X[i]]) for i in range(len(X))]
    pairs = spark.createDataFrame(rows, "id1 long, id2 long, features array<double>")
    got_fit = {r.id1: r.score for r in score_pairs(pairs, clf, threshold=0.0).collect()}
    got_saved = {
        r.id1: r.score
        for r in score_pairs(pairs, saved.classifier, threshold=0.0).collect()
    }
    assert got_fit == got_saved  # exact float equality


def test_block_rules_round_trip(spark, tmp_path):
    config, _training, clf = _fitted_config()
    rules = [("whole_field", "ssn", ()), ("first_chars", "last_name", (4,))]
    path = str(tmp_path / "model.json")
    save_model(path, clf, config, block_rules=rules)
    saved = load_model(path)
    assert saved.block_rules == rules
    # None means "derive defaults at run time" and must stay None
    save_model(path, clf, config, block_rules=None)
    assert load_model(path).block_rules is None


def test_save_requires_fit_and_load_rejects_foreign_json(spark, tmp_path):
    config, _training, _clf = _fitted_config()
    with pytest.raises(ValueError, match="not fitted"):
        save_model(str(tmp_path / "m.json"), LogisticRegressionClassifier(), config)
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"weights": [1.0]}))
    with pytest.raises(ValueError, match="not a pgdedupe_spark.model"):
        load_model(str(bad))


def test_saved_model_pipeline_reproduces_fit_run(spark, tmp_path):
    """Reference test_reproducibility.py analog, upgraded: the SAVED model
    must produce the identical entity map as the in-session fit (the
    reference only asserts two fresh fits agree)."""
    from pgdedupe_spark.pipeline import run_pipeline

    config, training, _ = _fitted_config()
    rows, _, _ = generate_population(80, seed=11)
    src = spark.createDataFrame(
        rows,
        "entry_id long, first_name string, last_name string, ssn string, sex string, dob string",
    )

    fit_run = run_pipeline(src, config, training)
    path = str(tmp_path / "model.json")
    save_model(path, fit_run.classifier, config)
    saved = load_model(path)
    saved_run = run_pipeline(src, config, None, classifier=saved.classifier)

    a = {(r.dedupe_id, r.entry_id) for r in fit_run.unique_map.collect()}
    b = {(r.dedupe_id, r.entry_id) for r in saved_run.unique_map.collect()}
    assert a == b


def test_pipeline_requires_training_or_classifier(spark):
    from pgdedupe_spark.pipeline import run_pipeline

    config, _, _ = _fitted_config()
    src = spark.createDataFrame(
        [(1, "a", "b", None, "M", "2000-01-01")],
        "entry_id long, first_name string, last_name string, ssn string, sex string, dob string",
    )
    with pytest.raises(ValueError, match="training_pairs required"):
        run_pipeline(src, config, None)


def test_cli_save_then_use_saved_model(spark, tmp_path, capsys):
    """End-to-end CLI parity with run.py:126-129,180-181: first run saves
    the settings artifact; second run consumes it WITHOUT --training and
    reproduces the identical unique_map."""
    from pgdedupe_spark.cli import main

    rows, _, _ = generate_population(60, seed=3)
    src = spark.createDataFrame(
        rows,
        "entry_id long, first_name string, last_name string, ssn string, sex string, dob string",
    )
    inp = str(tmp_path / "entries.parquet")
    src.write.parquet(inp)
    cfg = tmp_path / "config.json"
    cfg.write_text(json.dumps(CONFIG))
    tr = tmp_path / "training.json"
    write_training(str(tr), training_pairs())
    model = str(tmp_path / "settings.json")

    out1 = str(tmp_path / "out_fit")
    rc = main(
        ["--config", str(cfg), "--input", inp, "--output", out1,
         "--training", str(tr), "--save-model", model, "--model-hash"]
    )
    assert rc == 0
    text = capsys.readouterr().out
    assert f"saved model: {model}" in text
    assert "model definition hash:" in text
    stored_hash = load_model(model).model_hash
    assert stored_hash and stored_hash in text

    out2 = str(tmp_path / "out_saved")
    rc = main(
        ["--config", str(cfg), "--input", inp, "--output", out2,
         "--use-saved-model", model]  # no --training
    )
    assert rc == 0
    um1 = {
        (r.dedupe_id, r.entry_id)
        for r in spark.read.parquet(os.path.join(out1, "unique_map.parquet")).collect()
    }
    um2 = {
        (r.dedupe_id, r.entry_id)
        for r in spark.read.parquet(os.path.join(out2, "unique_map.parquet")).collect()
    }
    assert um1 == um2


def test_cli_missing_training_without_saved_model_errors():
    from pgdedupe_spark.cli import main

    with pytest.raises(SystemExit) as e:
        main(["--config", "c.json", "--input", "i", "--output", "o"])
    assert e.value.code != 0
