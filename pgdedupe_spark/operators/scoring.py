"""Pair classification + threshold (SURVEY.md §2.7 D4, D8).

The reference fits a pluggable classifier (default regularized logistic
regression) on ~90 labeled pairs (``pgdedupe/run.py:133-136,178``) and scores
millions of candidate pairs with it. That asymmetry drives the design:

* **training** is driver-side numpy (the labeled set is tiny — a distributed
  fit would be all overhead) on X from the scoring plan's own feature
  expressions (``ml/training.fit_classifier``);
* **scoring** is a pure JVM column expression — sigmoid(w·x + b) as an
  ``aggregate``/``zip_with`` fold over the feature array, so candidate
  pairs never cross into Python/Arrow (both functions are
  ``CodegenFallback``: interpreted, not whole-stage codegen). An MLlib
  ``LogisticRegression`` model would work too but pays vector-UDT costs.

The classifier registry keeps the reference's pluggability
(``classifier`` dotted path + ``hyperparameters``, ``run.py:36-37``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class LinearClassifier:
    """The fitted ``(weights, bias)`` surface ``score_pairs`` consumes, plus
    ``predict_proba``: the same sigmoid in driver-side numpy, which tests
    use as the reference for ``score_expr``."""

    weights: np.ndarray | None = None
    bias: float = 0.0

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        z = np.asarray(X) @ self.weights + self.bias
        return 1.0 / (1.0 + np.exp(-z))


class LogisticRegressionClassifier(LinearClassifier):
    """L2-regularized logistic regression, full-batch gradient descent.
    Mirrors rlr.RegularizedLogisticRegression's role (run.py:36)."""

    def __init__(self, alpha: float = 1e-3, lr: float = 0.5, iters: int = 500, seed: int = 0):
        self.alpha, self.lr, self.iters, self.seed = alpha, lr, iters, seed
        self.weights: np.ndarray | None = None
        self.bias: float = 0.0

    def fit(self, X: np.ndarray, y: np.ndarray) -> "LogisticRegressionClassifier":
        X = np.asarray(X, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        n, d = X.shape
        w = np.zeros(d)
        b = 0.0
        for _ in range(self.iters):
            z = X @ w + b
            p = 1.0 / (1.0 + np.exp(-z))
            g = X.T @ (p - y) / n + self.alpha * w
            gb = float(np.mean(p - y))
            w -= self.lr * g
            b -= self.lr * gb
        self.weights, self.bias = w, b
        return self


class MLlibLogisticRegressionClassifier(LinearClassifier):
    """Adapter over ``pyspark.ml.classification.LogisticRegression`` —
    the same pluggable-classifier slot (D4), fitted through MLlib instead
    of the driver-side numpy loop. After ``fit`` it exposes the identical
    ``(weights, bias)`` surface, so SCORING still runs as the JVM sigmoid
    expression (``score_expr``): MLlib's vector-UDT row path never
    touches the hot candidate-pair scan, only the tiny labeled set.

    Requires an active SparkSession at ``fit`` time (always true inside the
    pipeline). L-BFGS converges to the same optimum as the numpy gradient
    fit on these convex problems; coefficients differ only in tolerance.
    """

    def __init__(self, reg_param: float = 1e-3, max_iter: int = 100,
                 elastic_net_param: float = 0.0):
        self.reg_param = reg_param
        self.max_iter = max_iter
        self.elastic_net_param = elastic_net_param
        self.weights: np.ndarray | None = None
        self.bias: float = 0.0

    def fit(self, X: np.ndarray, y: np.ndarray) -> "MLlibLogisticRegressionClassifier":
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.linalg import Vectors
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("MLlib classifier needs an active SparkSession")
        rows = [
            (Vectors.dense([float(v) for v in row]), float(lbl))
            for row, lbl in zip(np.asarray(X, dtype=np.float64), np.asarray(y))
        ]
        train = spark.createDataFrame(rows, ["features", "label"])
        model = LogisticRegression(
            regParam=self.reg_param,
            maxIter=self.max_iter,
            elasticNetParam=self.elastic_net_param,
            standardization=False,
        ).fit(train)
        self.weights = np.asarray(model.coefficients.toArray(), dtype=np.float64)
        self.bias = float(model.intercept)
        return self


CLASSIFIERS = {
    "logistic_regression": LogisticRegressionClassifier,
    "mllib_logistic_regression": MLlibLogisticRegressionClassifier,
}


def get_classifier(name: str) -> type:
    """Resolve a classifier by registry name OR dotted import path.

    The reference dynamically imports any ``classifier: module.ClassName``
    config string (``pgdedupe/run.py:133-136``: split on the last dot,
    ``__import__`` the module, ``getattr`` the class) — so a user's own
    classifier plugs in from YAML with no code change here. Registry names
    win on collision; the class only needs the duck-typed surface the
    pipeline consumes: ``fit(X, y)`` + ``weights``/``bias`` (scoring stays
    the JVM sigmoid expression regardless of who fitted it)."""
    if name in CLASSIFIERS:
        return CLASSIFIERS[name]
    if "." in name:
        import importlib

        mod_name, _, cls_name = name.rpartition(".")
        try:
            mod = importlib.import_module(mod_name)
            return getattr(mod, cls_name)
        except (ImportError, AttributeError) as e:
            raise KeyError(
                f"classifier {name!r}: not a registry name and dotted-path "
                f"import failed ({e}); registry has {sorted(CLASSIFIERS)}"
            ) from e
    raise KeyError(
        f"unknown classifier {name!r}; registry has {sorted(CLASSIFIERS)} "
        "(or pass a dotted import path like 'mypkg.MyClassifier')"
    )


def score_expr(weights: np.ndarray, bias: float, features_col: str = "features") -> Column:
    """sigmoid(w·features + b) as a single JVM expression. The dot product
    is an ``aggregate``/``zip_with`` fold; both are ``CodegenFallback``, so
    it is evaluated interpreted inside the stage, with no Python."""
    w = F.array(*[F.lit(float(x)) for x in weights])
    dot = F.aggregate(
        F.zip_with(F.col(features_col), w, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    z = dot + F.lit(float(bias))
    return 1.0 / (1.0 + F.exp(-z))


def score_pairs(pairs_with_features: DataFrame, clf, threshold: float = 0.5) -> DataFrame:
    """features → (id1, id2, score) filtered to score ≥ threshold (D8)."""
    return (
        pairs_with_features.withColumn("score", score_expr(clf.weights, clf.bias))
        .filter(F.col("score") >= threshold)
        .select("id1", "id2", "score")
    )
