"""Training pairs: persistence, the classifier fit, model hash
(SURVEY.md §2.7 D4, D11, D12).

* Training JSON format is the reference's exactly
  (``tests/dedup_postgres_training.json``, read at ``pgdedupe/run.py:156-159``):
  ``{"distinct": [...], "match": [...]}`` where each element is
  ``{"__class__": "tuple", "__value__": [record, record]}``.
* The classifier is fit on the scoring plan's own feature expressions, as
  the reference's deduper fits on the distances it scores
  (``pgdedupe/run.py:133-136,178``).
* Model-definition hash reproduces ``pgdedupe/utils.py:20-44``: MD5 of the
  canonical JSON of the model-determining inputs.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from pgdedupe_spark.config import DedupeConfig
from pgdedupe_spark.operators.features import feature_columns
from pgdedupe_spark.operators.scoring import get_classifier


def read_training(path: str) -> dict[str, list[tuple[dict, dict]]]:
    with open(path) as f:
        raw = json.load(f)
    out = {}
    for label in ("distinct", "match"):
        pairs = []
        for item in raw.get(label, []):
            val = item["__value__"] if isinstance(item, dict) and "__value__" in item else item
            pairs.append((val[0], val[1]))
        out[label] = pairs
    return out


def write_training(path: str, pairs: dict[str, list[tuple[dict, dict]]]) -> None:
    enc = {
        label: [{"__class__": "tuple", "__value__": [a, b]} for a, b in pairs.get(label, [])]
        for label in ("distinct", "match")
    }
    with open(path, "w") as f:
        json.dump(enc, f, sort_keys=True)


def labeled_pair_frame(spark: SparkSession, pairs: list[tuple[dict, dict]],
                       fields: list[str]) -> DataFrame:
    """Labeled pairs shaped like candidate pairs: one row per pair, in
    order, string columns ``{f}_1``/``{f}_2``. Built from pandas, so Arrow
    ships it with no Python worker. Its readers collect one row per pair,
    so the guard bounds it at human scale (the reference's dedupe.train,
    run.py:175-178) rather than an OOM."""
    if len(pairs) > 100_000:
        raise ValueError(
            f"{len(pairs)} labeled pairs exceeds the driver-side bound "
            "(100k); labeled sets are human-scale by contract"
        )
    cols = {}
    for f in fields:
        cols[f"{f}_1"] = [a.get(f) for a, _ in pairs]
        cols[f"{f}_2"] = [b.get(f) for _, b in pairs]
    schema = StructType([StructField(c, StringType()) for c in cols])
    return spark.createDataFrame(pd.DataFrame(cols, dtype=object), schema)


def fit_classifier(config: DedupeConfig, training: dict[str, list[tuple[dict, dict]]]):
    """Fit the configured classifier on the labeled pairs: X is
    ``feature_columns`` (the scoring plan's features) over
    :func:`labeled_pair_frame`, collected with ``toArrow``; the fit itself
    is driver-side (see operators/scoring.py). Needs an active session."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("fit_classifier needs an active SparkSession")
    matches, distincts = training.get("match", []), training.get("distinct", [])
    _, cols = feature_columns(config.fields, config.interactions)
    frame = labeled_pair_frame(spark, matches + distincts, config.field_names)
    x = frame.select(F.array(*cols).alias("x")).toArrow().column("x")
    X = np.array(x.to_pylist(), dtype=np.float64)
    y = np.array([1.0] * len(matches) + [0.0] * len(distincts))
    # registry name or reference-style dotted import path (run.py:133-136)
    clf = get_classifier(config.classifier)(**config.hyperparameters)
    return clf.fit(X, y)


def create_model_definition(config: DedupeConfig, training: dict) -> dict:
    """Reference ``pgdedupe/utils.py:31-44`` parity."""
    return {
        "seed": config.seed,
        "classifier": config.classifier,
        "hyperparameters": config.hyperparameters,
        "fields": [
            # metric participates in the hash only when non-default: the
            # reference hashes the raw config field dicts (utils.py:31-44),
            # which carry a metric key only if the user wrote one — and
            # default-config hashes stay stable across this extension.
            {"field": f.field, "type": f.type, "categories": f.categories,
             "has_missing": f.has_missing,
             **({"metric": f.metric} if f.metric != "levenshtein" else {})}
            for f in config.fields
        ],
        "filter_condition": config.filter_condition,
        "interactions": [list(i) for i in config.interactions],
        "training_pairs": {
            k: [[a, b] for a, b in v] for k, v in sorted(training.items())
        },
        "recall": config.recall,
    }


def filename_friendly_hash(obj) -> str:
    """MD5 of canonical JSON (reference ``pgdedupe/utils.py:20-28``)."""

    def dt_handler(x):
        raise TypeError(f"unserializable: {type(x)}")

    return hashlib.md5(
        json.dumps(obj, default=dt_handler, sort_keys=True).encode("utf-8")
    ).hexdigest()
