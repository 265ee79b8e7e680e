"""The full 7-stage dedupe pipeline (SURVEY.md §3) as DataFrame dataflow.

Stage map vs the reference (``pgdedupe/run.py`` / ``cli.py``):

  1. preprocess      → collapse_exact_duplicates          (run.py:62-99)
  2. train           → fit_classifier on training JSON    (run.py:102-183;
                        the active-learning loop (D3) lives in
                        ml/active.py — uncertainty top-k + pluggable
                        labeler; the pipeline consumes its output JSON)
  3. create_blocking → blocking_chain                     (run.py:187-321)
                        (drops blocks over max_block_size, audited)
  4. cluster         → candidate_pairs → features → score → CC + HAC
                                                           (run.py:362-379)
  5. write_results   → entity_map                         (run.py:383-425)
  6. apply_results   → map / unique_map / dedupe_id cols  (run.py:429-491)
     + exact-merge CC relabels                            (exact_matches.py)

Every stage takes/returns DataFrames so each is independently testable
against a DuckDB oracle.

Materialization points. The reference writes each stage to a table, so
each runs once. Here a stage output is materialized with an eager
``localCheckpoint`` exactly when more than one downstream query reads it;
every other hand-off stays lazy. The checkpoint also truncates the
lineage, so later queries plan against a scan of the stored blocks
instead of re-analysing the whole pipeline. The four points:

  * ``entries_unique`` — read by blocking, both sides of the pair field
    attach, the mapping universe, exact-merge pass 1 and the dedupe_id
    writeback. Mirrors the reference's ``entries_unique`` table
    (run.py:62-99).
  * the scored pairs — read by connected components' edge frame and by
    the HAC join in ``cluster_components``. Transient, like the scores
    ``matchBlocks`` keeps in memory (run.py:362-379): its blocks are
    released as soon as ``entity_map`` is materialized.
  * ``entity_map`` — read by ``mapping`` and written by the CLI. Mirrors
    the reference's ``entity_map`` table (run.py:383-425).
  * ``unique_map`` after exact-merge pass 2 — read by ``deduped_source``
    and written by the CLI. Mirrors the reference's ``unique_map`` table
    (run.py:471-475, relabelled by pass 2 at run.py:477-483).

``mapping`` (the reference's ``map`` table, run.py:429-446) is the one
join of ``entries_unique`` (``_unique_id``, ``src_ids``) with
``entity_map``, and stays lazy over those two checkpoints. It carries
``src_ids`` through exact-merge pass 1's relabel, so the dedupe_id
writeback plus ``unique_map`` (run.py:463-475) is an ``explode`` of that
frame, not a second join with ``entries_unique``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgdedupe_spark.config import DedupeConfig
from pgdedupe_spark.ml import training as T
from pgdedupe_spark.operators.blocking import blocking_chain, make_block_key_expr
from pgdedupe_spark.operators.clustering import (
    _free_local_checkpoint,
    cluster_components,
)
from pgdedupe_spark.operators.collapse import collapse_exact_duplicates
from pgdedupe_spark.operators.exact_merge import merge_exact
from pgdedupe_spark.operators.features import assemble_features
from pgdedupe_spark.operators.pairs import candidate_pairs
from pgdedupe_spark.operators.scoring import score_pairs


def default_rules_for(fields: list[str]) -> list[tuple[str, str, tuple]]:
    rules = []
    for f in fields:
        rules.append(("whole_field", f, ()))
        rules.append(("first_chars", f, (4,)))
    return rules


@dataclass
class PipelineResult:
    """The pipeline's stage outputs. ``entries_unique``, ``entity_map`` and
    ``unique_map`` are local checkpoints: each was computed once inside
    ``run_pipeline`` and is never recomputed from source. ``mapping`` and
    ``deduped_source`` are lazy joins over those checkpoints. The
    checkpoint blocks live in executor storage and are released when the
    result (and every frame derived from it) is dropped."""

    entries_unique: DataFrame
    entity_map: DataFrame
    mapping: DataFrame        # reference table: {schema}.map
    unique_map: DataFrame     # dedupe_id per source key
    deduped_source: DataFrame  # source table + dedupe_id column
    classifier: object = None  # the fitted classifier (D10 save_model input)
    # the block audit (no silent caps): a pyspark.sql.Observation whose
    # .get reports entries_dropped / blocks_seen_max / entries_seen for
    # the max_block_size guard; the blocking checkpoint in plural_key
    # fills it before run_pipeline returns. None when
    # config.max_block_size is None.
    block_audit: object = None


def run_pipeline(
    source: DataFrame,
    config: DedupeConfig,
    training_pairs: dict | None,
    block_rules: list[tuple[str, str, tuple]] | None = None,
    classifier=None,
) -> PipelineResult:
    """``classifier`` (a fitted object exposing weights/bias) skips stage 2
    entirely — the reference's ``use_saved_model`` / ``StaticDedupe`` path
    (run.py:126-129); ``training_pairs`` may then be None.

    ``block_rules`` are the blocking rules; None blocks with
    :func:`default_rules_for` the config's fields. Learned rules (the
    reference's D5 path, run.py:175-178) come from
    ``ml.learning.learn_blocking_rules`` and are passed in here, as the
    CLI does so that it can save them."""
    fields = config.field_names

    # 1. preprocess (run.py:62-99)
    entries_unique = collapse_exact_duplicates(
        source, fields, config.key, config.filter_condition
    ).localCheckpoint(eager=True)

    # 2. train (run.py:102-183) — driver-side on the labeled JSON, unless a
    # saved model supplies the fit (StaticDedupe, run.py:126-129)
    if classifier is not None:
        clf = classifier
    else:
        if training_pairs is None:
            raise ValueError("training_pairs required when no classifier is given")
        clf = T.fit_classifier(config, training_pairs)

    # 3. blocking (run.py:187-321)
    rules = block_rules or default_rules_for(fields)
    block_keys = make_block_key_expr(rules)
    _, _, _, _, smaller, block_audit = blocking_chain(
        entries_unique, block_keys, max_block_size=config.max_block_size
    )

    # 4. cluster (run.py:362-379)
    pairs = candidate_pairs(smaller, entries_unique, fields)
    feat, _names = assemble_features(pairs, config.fields, config.interactions)
    scored = score_pairs(feat, clf, threshold=config.threshold).localCheckpoint(
        eager=True
    )
    entity_map = cluster_components(scored, threshold=config.threshold).localCheckpoint(
        eager=True
    )
    _free_local_checkpoint(scored)

    # 5./6. write + apply results (run.py:383-491): right-join semantics —
    # every entries_unique row gets a canon_id (itself if unclustered) and a
    # score (1.0 for singletons), J3. src_ids rides along for unique_map.
    mapping = (
        entries_unique.select("_unique_id", "src_ids")
        .join(entity_map, "_unique_id", "left")
        .select(
            F.coalesce("canon_id", "_unique_id").alias("canon_id"),
            "_unique_id",
            F.coalesce("cluster_score", F.lit(1.0)).alias("cluster_score"),
            "src_ids",
        )
    )

    # exact-merge pass 1: on collapsed table for merge columns that are
    # dedupe fields (run.py:452-460)
    field_merges = [m for m in config.merge_exact if all(c in fields for c in m)]
    mapping2 = merge_exact(
        mapping.withColumnRenamed("canon_id", "cluster"),
        entries_unique,
        "_unique_id",
        field_merges,
    ).withColumnRenamed("cluster", "canon_id")

    # dedupe_id writeback on entries_unique (run.py:463-467) then explode
    # src_ids → unique_map (run.py:471-475, F3)
    unique_map = mapping2.select(
        F.col("canon_id").alias("dedupe_id"), F.explode("src_ids").alias(config.key)
    )

    # exact-merge pass 2: on the full source table for merge columns outside
    # the dedupe fields (run.py:477-483)
    other_merges = [m for m in config.merge_exact if not all(c in fields for c in m)]
    unique_map2 = merge_exact(
        unique_map.withColumnRenamed("dedupe_id", "cluster"),
        source,
        config.key,
        other_merges,
    ).withColumnRenamed("cluster", "dedupe_id").localCheckpoint(eager=True)

    deduped_source = source.join(unique_map2, config.key, "left")

    return PipelineResult(
        entries_unique=entries_unique,
        entity_map=entity_map,
        mapping=mapping2.drop("src_ids"),
        unique_map=unique_map2,
        deduped_source=deduped_source,
        classifier=clf,
        block_audit=block_audit,
    )
