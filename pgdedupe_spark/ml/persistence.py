"""Trained-model persistence (SURVEY.md §2.7 D10).

The reference trains once, pickles the fitted deduper to ``settings_file``,
and reruns with ``use_saved_model: true`` via a ``StaticDedupe``
(``pgdedupe/run.py:33,39,126-129,180-181``). This module is that workflow
for the Spark pipeline. Every supported classifier — the numpy gradient fit
AND the MLlib adapter — reduces to ``(weights, bias)`` because scoring is
the JVM sigmoid expression either way (``operators/scoring.py``),
so the saved artifact is canonical JSON rather than a pickle:
engine-portable, human-diffable, and bit-exact on round-trip (float64
serialized via ``float.hex``; an MLlib ``model.save`` directory would pin
the artifact to one Spark version and still need the sidecar metadata).
Learned blocking rules (D5) ride along, so a saved-model rerun skips BOTH
fits — the nightly-dedup shape the reference's ``settings_file`` exists for.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np

from pgdedupe_spark.config import DedupeConfig
from pgdedupe_spark.operators.features import FieldDef
from pgdedupe_spark.operators.scoring import CLASSIFIERS, LinearClassifier

FORMAT = "pgdedupe_spark.model/v1"


class StaticClassifier(LinearClassifier):
    """A loaded classifier: scoring-only, mirroring the reference's
    ``StaticDedupe`` role (no ``fit``). Shares the
    ``(weights, bias, predict_proba)`` surface of the trainable classes in
    ``operators/scoring.py``, so ``score_pairs`` accepts it unchanged."""

    def __init__(self, weights: np.ndarray, bias: float):
        self.weights = np.asarray(weights, dtype=np.float64)
        self.bias = float(bias)


@dataclass
class SavedModel:
    classifier: StaticClassifier
    classifier_name: str
    hyperparameters: dict
    fields: list[FieldDef]
    interactions: list[tuple[str, str]]
    block_rules: list[tuple] | None
    threshold: float
    model_hash: str | None


def save_model(
    path: str,
    clf,
    config: DedupeConfig,
    block_rules: list[tuple] | None = None,
    model_hash: str | None = None,
) -> None:
    """Write the fitted classifier + the config slice scoring depends on.

    ``block_rules`` are the learned D5 predicates when rule learning ran
    (``None`` ⇒ a saved-model run derives the default rules from the field
    list, exactly as a fresh run would). ``model_hash`` is the D12
    model-definition hash, stored for provenance so a rerun can verify it
    is serving the model it thinks it is."""
    if clf.weights is None:
        raise ValueError("classifier is not fitted: nothing to save")
    doc = {
        "format": FORMAT,
        "classifier": next(
            (n for n, c in CLASSIFIERS.items() if isinstance(clf, c)),
            type(clf).__name__,
        ),
        "hyperparameters": _jsonable_hyperparams(clf),
        # float.hex round-trips float64 exactly; the plain repr column is
        # for human eyes only and is ignored on load
        "weights_hex": [float(w).hex() for w in np.asarray(clf.weights)],
        "bias_hex": float(clf.bias).hex(),
        "weights": [float(w) for w in np.asarray(clf.weights)],
        "bias": float(clf.bias),
        "threshold": config.threshold,
        "fields": [
            {
                "field": f.field,
                "type": f.type,
                "categories": f.categories,
                "has_missing": f.has_missing,
                "metric": f.metric,
            }
            for f in config.fields
        ],
        "interactions": [list(i) for i in config.interactions],
        "block_rules": (
            [[r[0], r[1], list(r[2])] for r in block_rules]
            if block_rules is not None
            else None
        ),
        "model_hash": model_hash,
    }
    with open(path, "w") as f:
        json.dump(doc, f, sort_keys=True, indent=1)


def load_model(path: str) -> SavedModel:
    """Load a :func:`save_model` artifact. Weights/bias come back
    bit-exact (``float.fromhex``), so load→score ≡ fit→score on the same
    candidate pairs (pinned in tests/test_mllib.py)."""
    with open(path) as f:
        doc = json.load(f)
    if doc.get("format") != FORMAT:
        raise ValueError(f"not a {FORMAT} artifact: {path}")
    clf = StaticClassifier(
        np.array([float.fromhex(h) for h in doc["weights_hex"]], dtype=np.float64),
        float.fromhex(doc["bias_hex"]),
    )
    fields = [
        FieldDef(
            field=f["field"],
            type=f["type"],
            categories=f.get("categories", []),
            has_missing=bool(f.get("has_missing", False)),
            metric=f.get("metric", "levenshtein"),
        )
        for f in doc["fields"]
    ]
    rules = doc.get("block_rules")
    return SavedModel(
        classifier=clf,
        classifier_name=doc["classifier"],
        hyperparameters=doc.get("hyperparameters", {}),
        fields=fields,
        interactions=[tuple(i) for i in doc.get("interactions", [])],
        block_rules=(
            [(r[0], r[1], tuple(r[2])) for r in rules] if rules is not None else None
        ),
        threshold=float(doc.get("threshold", 0.5)),
        model_hash=doc.get("model_hash"),
    )


def _jsonable_hyperparams(clf) -> dict:
    out = {}
    for k, v in vars(clf).items():
        if k in ("weights", "bias"):
            continue
        if isinstance(v, (int, float, str, bool)) or v is None:
            out[k] = v
    return out
