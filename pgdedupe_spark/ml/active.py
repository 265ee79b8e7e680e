"""Active-learning labeler (SURVEY.md §2.7 D3 — the last reference
behavior without a counterpart, VERDICT r1 'What's missing' item 2).

Reference behavior (``pgdedupe/run.py:161-173``): dedupe's console loop —
present the candidate pair the current model is MOST UNCERTAIN about,
record the human's y/n, refit, repeat (dedupe ``uncertainPairs`` +
``console_label``).

Batch-idiomatic shape: selection is a distributed top-k over the scored
candidate-pair frame (``orderBy(|score-0.5|).limit(k)`` → Spark's
TakeOrderedAndProject — no full sort, no driver-side corpus). Only the k
selected pairs — human-scale by construction — are collected for
labeling. The labeler itself is pluggable: ``console_labeler`` reproduces
the reference's terminal UX; tests inject a truth oracle. Each round is
one fit (driver-side numpy over the labeled set, as the reference) + one
distributed score/select, so the loop costs rounds × one scan of the
candidate pairs and nothing in it grows with corpus size.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgdedupe_spark.config import DedupeConfig
from pgdedupe_spark.ml import training as T
from pgdedupe_spark.operators.blocking import blocking_chain, make_block_key_expr
from pgdedupe_spark.operators.features import assemble_features
from pgdedupe_spark.operators.pairs import candidate_pairs
from pgdedupe_spark.operators.scoring import score_expr

# labeler: list of (record_a, record_b) field dicts → list of True (match) /
# False (distinct) / None (skip — dedupe's 'unsure')
Labeler = Callable[[list[tuple[dict, dict]]], list[bool | None]]


def uncertain_pairs(
    scored: DataFrame, k: int, score_col: str = "score", id_cols: tuple[str, str] = ("id1", "id2")
) -> DataFrame:
    """The k candidate pairs the model is least sure about (dedupe
    ``uncertainPairs`` analog): smallest |score − 0.5| first, deterministic
    id tie-break. limit(k) after orderBy is a distributed partial top-k."""
    return scored.orderBy(
        F.abs(F.col(score_col) - F.lit(0.5)).asc(), *[F.col(c).asc() for c in id_cols]
    ).limit(k)


def console_labeler(fields: list[str]) -> Labeler:
    """The reference's terminal labeling UX (dedupe ``console_label`` via
    run.py:161-173): print both records field-by-field, read y/n/u/f."""

    def label(pairs: list[tuple[dict, dict]]) -> list[bool | None]:  # pragma: no cover — interactive
        out: list[bool | None] = []
        for a, b in pairs:
            for f in fields:
                print(f"{f:>16}: {a.get(f)!r:30} | {b.get(f)!r}")
            ans = ""
            while ans not in ("y", "n", "u", "f"):
                ans = input("same entity? (y)es / (n)o / (u)nsure / (f)inished: ").strip().lower()
            if ans == "f":
                out.extend([None] * (len(pairs) - len(out)))
                break
            out.append({"y": True, "n": False, "u": None}[ans])
        return out

    return label


@dataclass
class ActiveLearningResult:
    classifier: object
    training_pairs: dict[str, list[tuple[dict, dict]]]  # reference JSON shape
    labeled_ids: list[tuple[int, int, bool]] = dc_field(default_factory=list)


def active_learning_loop(
    entries_unique: DataFrame,
    config: DedupeConfig,
    labeler: Labeler,
    initial_pairs: dict[str, list[tuple[dict, dict]]],
    rounds: int = 3,
    k_per_round: int = 10,
    block_rules: list[tuple[str, str, tuple]] | None = None,
) -> ActiveLearningResult:
    """run.py:102-183 counterpart: seed labels → (fit → score → select
    uncertain → label) × rounds → final fit.

    ``initial_pairs`` must contain at least one match and one distinct
    (the reference seeds the loop from dedupe's sampled pairs the same
    way). Already-labeled id pairs are anti-joined out, so no pair is
    presented twice; the labeled set stays driver-side because it is
    human-scale (≤ initial + rounds·k)."""
    if not initial_pairs.get("match") or not initial_pairs.get("distinct"):
        raise ValueError("initial_pairs needs ≥1 'match' and ≥1 'distinct' seed label")

    fields = config.field_names
    tp = {
        "match": list(initial_pairs["match"]),
        "distinct": list(initial_pairs["distinct"]),
    }
    spark = entries_unique.sparkSession

    if block_rules is None:
        from pgdedupe_spark.pipeline import default_rules_for

        block_rules = default_rules_for(fields)
    smaller = blocking_chain(
        entries_unique,
        make_block_key_expr(block_rules),
        max_block_size=config.max_block_size,
    )[4]
    pairs = candidate_pairs(smaller, entries_unique, fields)
    feat, _names = assemble_features(pairs, config.fields, config.interactions)
    feat.persist()  # scored fresh each round with new weights; base is shared

    labeled_ids: list[tuple[int, int, bool]] = []
    seen: set[tuple[int, int]] = set()
    clf = T.fit_classifier(config, tp)
    try:
        for _ in range(rounds):
            scored = feat.withColumn("score", score_expr(clf.weights, clf.bias))
            if seen:
                seen_df = spark.createDataFrame(sorted(seen), "id1 long, id2 long")
                scored = scored.join(seen_df, ["id1", "id2"], "left_anti")
            batch = uncertain_pairs(scored, k_per_round).collect()
            if not batch:
                break
            asked = [
                (
                    {f: row[f"{f}_1"] for f in fields},
                    {f: row[f"{f}_2"] for f in fields},
                )
                for row in batch
            ]
            answers = labeler(asked)
            for row, pair, ans in zip(batch, asked, answers):
                seen.add((row["id1"], row["id2"]))
                if ans is None:
                    continue
                tp["match" if ans else "distinct"].append(pair)
                labeled_ids.append((row["id1"], row["id2"], ans))
            clf = T.fit_classifier(config, tp)
    finally:
        feat.unpersist()
    return ActiveLearningResult(classifier=clf, training_pairs=tp, labeled_ids=labeled_ids)
