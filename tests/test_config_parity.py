"""Config → pipeline parity holes closed in r10 (VERDICT r9 missing #1/#2).

The reference's YAML drives EVERYTHING: ``classifier`` may be any dotted
import path (``pgdedupe/run.py:133-136``), and every tuning knob reaches the
engine. Pre-r10, ``DedupeConfig.from_dict`` silently dropped
``max_block_size`` (the load-bearing skew guard) and per-field ``metric``
(the affine-gap fidelity option), and a dotted classifier path raised
KeyError. These tests pin the round-trip end-to-end through run_pipeline.
"""

from __future__ import annotations

import pytest

from pgdedupe_spark.config import DedupeConfig
from pgdedupe_spark.operators.scoring import (
    CLASSIFIERS,
    LogisticRegressionClassifier,
    get_classifier,
)
from pgdedupe_spark.pipeline import run_pipeline
from tests.datagen import generate_population, training_pairs


def _yaml_style_dict():
    return {
        "schema": "dedupe",
        "table": "entries",
        "key": "entry_id",
        "fields": [
            {"field": "first_name", "type": "String", "metric": "affine_gap"},
            {"field": "last_name", "type": "String"},
            {"field": "ssn", "type": "String", "has missing": True},
        ],
        "interactions": [["first_name", "last_name"]],
        "threshold": 0.5,
        "classifier": "tests.plugin_classifier.CentroidGapClassifier",
        "hyperparameters": {"scale": 8.0},
        "max_block_size": 123,
    }


def test_from_dict_passes_every_knob():
    cfg = DedupeConfig.from_dict(_yaml_style_dict())
    assert cfg.max_block_size == 123
    metrics = {f.field: f.metric for f in cfg.fields}
    assert metrics == {
        "first_name": "affine_gap",
        "last_name": "levenshtein",
        "ssn": "levenshtein",
    }
    # default when the key is absent
    d = _yaml_style_dict()
    d.pop("max_block_size")
    cfg2 = DedupeConfig.from_dict(d)
    assert cfg2.max_block_size == 10000


@pytest.mark.parametrize(
    "bad",
    [
        {"type": "Price"},  # unknown type
        {"type": "String", "metric": "jaro"},  # unknown metric
        {"type": "Categorical"},  # no categories to one-hot
    ],
)
def test_from_dict_rejects_malformed_field(bad):
    """A field the feature expressions cannot honour fails loudly instead
    of silently becoming a Levenshtein String field."""
    d = _yaml_style_dict()
    d["fields"] = d["fields"] + [{"field": "sex", **bad}]
    with pytest.raises(ValueError, match="sex"):
        DedupeConfig.from_dict(d)


def test_get_classifier_registry_and_dotted_path():
    assert get_classifier("logistic_regression") is LogisticRegressionClassifier
    cls = get_classifier("tests.plugin_classifier.CentroidGapClassifier")
    from tests.plugin_classifier import CentroidGapClassifier

    assert cls is CentroidGapClassifier
    assert "tests.plugin_classifier.CentroidGapClassifier" not in CLASSIFIERS
    with pytest.raises(KeyError):
        get_classifier("no_such_name")
    with pytest.raises(KeyError):
        get_classifier("no.such.module.Classifier")


def test_yaml_roundtrip_affine_gap_plus_custom_classifier(spark):
    """The VERDICT's done-criterion: a reference-style config dict driving
    affine-gap comparators AND a dotted-path custom classifier end-to-end
    through run_pipeline — fit, block, score, cluster — with sane quality
    (planted duplicates recovered)."""
    rows, truth, _ = generate_population(80, seed=3)
    df = spark.createDataFrame(
        rows,
        "entry_id long, first_name string, last_name string, "
        "ssn string, sex string, dob string",
    )
    cfg = DedupeConfig.from_dict(_yaml_style_dict())
    res = run_pipeline(df, cfg, training_pairs())
    clusters = res.unique_map.collect()
    assert type(res.classifier).__name__ == "CentroidGapClassifier"
    assert len(clusters) == df.count()  # every source row mapped
    # planted duplicate pairs (same ground-truth person) should
    # overwhelmingly share a dedupe_id
    by_key = {int(r.entry_id): int(r.dedupe_id) for r in clusters}
    person_rows: dict = {}
    for entry_id, person in truth.items():
        person_rows.setdefault(person, []).append(entry_id)
    same = [
        1.0 if by_key[a] == by_key[b] else 0.0
        for members in person_rows.values()
        if len(members) > 1
        for a, b in zip(members, members[1:])
    ]
    assert same and sum(same) / len(same) >= 0.6


def test_pipeline_surfaces_block_audit(spark):
    """No silent caps end-to-end: run_pipeline exposes the block-size
    Observation, already filled when run_pipeline returns (the blocking
    checkpoint in plural_key is the action that counts the blocks)."""
    rows, _truth, _ = generate_population(40, seed=5)
    df = spark.createDataFrame(
        rows,
        "entry_id long, first_name string, last_name string, "
        "ssn string, sex string, dob string",
    )
    d = _yaml_style_dict()
    d["classifier"] = "logistic_regression"
    d["hyperparameters"] = {}
    res = run_pipeline(df, DedupeConfig.from_dict(d), training_pairs())
    res.entity_map.count()  # any action materializes the metrics
    audit = res.block_audit.get
    assert set(audit) == {"entries_dropped", "blocks_seen_max", "entries_seen"}
    assert audit["entries_seen"] > 0 and audit["entries_dropped"] == 0
