"""The workloads: input generation, the job each one runs, and the checks
on its output.

One job is what the command-line entry point does: read the input parquet,
run the workload's public entry point, and write the outputs as parquet.
The checks then read the outputs back. Why each workload exists is written
down in METRICS.md.
"""

from __future__ import annotations

import contextlib
import json
import os

import gen

# Sizes are fixed per workload; only the seed varies between runs.
SIZES = {
    "er_people": {"n_rows": 1550},
    "doc_near_dup": {"n_docs": 2000, "n_groups": 200},
}
WORKLOADS = list(SIZES)
# the union-find edge gate of connected_components at its default
CC_GATE_EDGES = 500_000
# The labeled pairs are one fixed input, like a user's training JSON: the
# blocking rules learned from them shape every plan, and a per-seed rule
# set made job time swing by 2x between seeds.
TRAINING_SEED = 0
# What learn_blocking_rules learns from those pairs, passed in as saved
# rules (the CLI's saved-settings path). Learning them in every job took
# 20-28 s per call on 4 cores, more than the rest of the job, and put the
# benchmark's runs over their time budget; the classifier is still fitted
# in every job.
ER_RULES = [("whole_field", "dob", ())]

ER_FIELDS = [
    {"field": "first_name"},
    {"field": "last_name"},
    {"field": "ssn", "has missing": True},
    {"field": "sex", "type": "Categorical", "categories": ["M", "F"], "has missing": True},
    {"field": "dob", "has missing": True},
]
ER_CONFIG = {
    "table": "entries", "key": "entry_id", "fields": ER_FIELDS,
    "interactions": [["first_name", "last_name"]],
    "filter_condition": "last_name is not null",
    # a column outside the dedupe fields: the merge pass that runs on the
    # full source table
    "merge_exact": [["phone"]],
    "threshold": 0.75,
}


def _write_parquet(path: str, rows: list[tuple], names: list[str], types: list) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows)) if rows else [[] for _ in names]
    table = pa.table({n: pa.array(c, type=t) for n, c, t in zip(names, cols, types)})
    pq.write_table(table, path)


def generate(workload: str, seed: int, work: str) -> dict:
    """Write the workload's inputs under ``work`` and return its metadata:
    the input regime and the ground truth the checks use."""
    import pyarrow as pa

    size = SIZES[workload]
    os.makedirs(work, exist_ok=True)
    s = pa.string()
    if workload == "doc_near_dup":
        rows, truth = gen.documents(seed, **size)
        _write_parquet(os.path.join(work, "docs.parquet"), rows, ["doc_id", "text"], [pa.int64(), s])
        groups: dict[int, int] = {}
        for g in truth.values():
            groups[g] = groups.get(g, 0) + 1
        regime = {
            "rows": len(rows),
            "distinct_rows": len({r[1] for r in rows}),
            "planted_pairs": sum(n * (n - 1) // 2 for n in groups.values()),
        }
        meta = {"truth": truth}
    else:
        rows, truth = gen.people(seed, **size)
        names = ["entry_id", "first_name", "last_name", "ssn", "sex", "dob", "phone"]
        types = [pa.int64()] + [s] * (len(names) - 1)
        _write_parquet(os.path.join(work, "source.parquet"), rows, names, types)
        _write_training(os.path.join(work, "training.json"), gen.training(TRAINING_SEED))
        by_person: dict[int, int] = {}
        for k, pid in truth.items():
            by_person[pid] = by_person.get(pid, 0) + 1
        filtered = [r[0] for r in rows if r[2] is not None]
        regime = {
            "rows": len(rows),
            "distinct_rows": len({r[1:6] for r in rows}),
            "planted_pairs": sum(n * (n - 1) // 2 for n in by_person.values()),
        }
        meta = {"truth": truth, "filtered": filtered}
    meta["regime"] = regime
    return meta


def _write_training(path: str, pairs: dict) -> None:
    enc = {
        label: [{"__class__": "tuple", "__value__": [a, b]} for a, b in pairs[label]]
        for label in ("distinct", "match")
    }
    with open(path, "w") as f:
        json.dump(enc, f, sort_keys=True)


# -- jobs -------------------------------------------------------------------


def run_job(spark, workload: str, work: str, out: str, tracer=None) -> dict:
    """Run one job; returns what the job observed without an extra Spark
    action (the block audit of the candidate-pair guard)."""
    if workload == "doc_near_dup":
        _doc_job(spark, work, out, tracer)
        return {}
    return _er_job(spark, work, out, tracer)


def _span(tracer, layer):
    return tracer.span(layer) if tracer is not None else contextlib.nullcontext()


def _er_job(spark, work: str, out: str, tracer) -> dict:
    from pgdedupe_spark.config import DedupeConfig
    from pgdedupe_spark.ml.training import read_training
    from pgdedupe_spark.pipeline import run_pipeline

    config = DedupeConfig.from_dict(ER_CONFIG)
    source = spark.read.parquet(os.path.join(work, "source.parquet"))
    training = read_training(os.path.join(work, "training.json"))
    result = run_pipeline(source, config, training, block_rules=ER_RULES)
    with _span(tracer, "write"):
        for name, frame in (
            ("unique_map", result.unique_map),
            ("entity_map", result.entity_map),
            ("deduped", result.deduped_source),
        ):
            frame.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))
    audit = result.block_audit.get
    return {
        "blocking.max_block": audit["blocks_seen_max"],
        "pairs.guard_dropped": audit["entries_dropped"],
    }


def _doc_job(spark, work: str, out: str, tracer) -> None:
    from pyspark.sql import functions as F

    from pgdedupe_spark.operators import clustering, dedup

    docs = spark.read.parquet(os.path.join(work, "docs.parquet"))
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text")
    # CC reads its edge input once per union branch: persist it first, as
    # the package's own near_duplicate_clusters does
    edges = pairs.select("id1", "id2").persist()
    labels = clustering.connected_components(edges)
    edges.unpersist()
    kept = (
        docs.join(labels.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .filter(F.col("component").isNull() | (F.col("component") == F.col("doc_id")))
        .select("doc_id", "text")
    )
    with _span(tracer, "write"):
        kept.write.mode("overwrite").parquet(os.path.join(out, "kept.parquet"))
        labels.write.mode("overwrite").parquet(os.path.join(out, "labels.parquet"))
    dedup.release_caches()


# -- output checks ----------------------------------------------------------


def _pair_counts(pred, true) -> tuple[float, float]:
    """Pairwise precision and recall of clustering ``pred`` against
    ``true`` (two aligned integer Series), from contingency counts:
    O(rows), never a materialized pair set."""
    import pandas as pd

    def pairs(sizes) -> int:
        n = sizes.to_numpy(dtype="int64")
        return int((n * (n - 1) // 2).sum())

    df = pd.DataFrame({"p": pred.to_numpy(), "t": true.to_numpy()})
    tp = pairs(df.groupby(["p", "t"]).size())
    predicted = pairs(df.groupby("p").size())
    actual = pairs(df.groupby("t").size())
    precision = tp / predicted if predicted else 1.0
    recall = tp / actual if actual else 1.0
    return precision, recall


def _frame_hash(df) -> str:
    """Order-insensitive hash of a two-column integer frame."""
    import pandas as pd

    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype="uint64")
    return f"{int(h.sum(dtype='uint64')):016x}:{len(df)}"


def check(spark, workload: str, out: str, meta: dict) -> dict:
    """Read the job's outputs back and check them. Returns ``{"ok",
    "errors", "hash", "precision", "recall"}``; the determinism hash is
    compared across jobs by the caller."""
    import pandas as pd

    truth = pd.Series({int(k): v for k, v in meta["truth"].items()})
    errors: list[str] = []
    if workload == "doc_near_dup":
        labels = spark.read.parquet(os.path.join(out, "labels.parquet")).toPandas()
        kept = spark.read.parquet(os.path.join(out, "kept.parquet")).select("doc_id").toPandas()
        cluster = pd.Series(truth.index.to_numpy(), index=truth.index)
        cluster.loc[labels["id"].to_numpy()] = labels["component"].to_numpy()
        if not labels["id"].is_unique:
            errors.append("a document has two cluster labels")
        ids = pd.Series(cluster.index.to_numpy(), index=cluster.index)
        want = set(ids.groupby(cluster.to_numpy()).min().tolist())
        if set(kept["doc_id"].tolist()) != want or len(kept) != len(want):
            errors.append(f"kept {len(kept)} documents, want one per cluster ({len(want)})")
        precision, recall = _pair_counts(cluster, truth.loc[cluster.index])
        if recall < 0.9:
            errors.append(f"planted-group recall {recall:.3f} < 0.9")
        digest = _frame_hash(pd.DataFrame({"id": cluster.index, "c": cluster.to_numpy()}))
    else:
        key = ER_CONFIG["key"]
        um = spark.read.parquet(os.path.join(out, "unique_map.parquet")).toPandas()
        n_deduped = spark.read.parquet(os.path.join(out, "deduped.parquet")).count()
        filtered = meta["filtered"]
        if len(um) != len(filtered) or not um[key].is_unique:
            errors.append(f"{len(um)} map rows for {len(filtered)} filtered source rows")
        elif set(um[key].tolist()) != set(filtered):
            errors.append("mapped keys differ from the filtered source keys")
        if um["dedupe_id"].isna().any():
            errors.append("a filtered source row has no dedupe_id")
        if n_deduped != len(truth):
            errors.append(f"deduped table has {n_deduped} rows, source {len(truth)}")
        um = um.dropna()
        precision, recall = _pair_counts(
            um["dedupe_id"].astype("int64"), truth.loc[um[key].to_numpy()]
        )
        digest = _frame_hash(um[[key, "dedupe_id"]].astype("int64"))
    return {
        "ok": not errors, "errors": errors, "hash": digest,
        "precision": precision, "recall": recall,
    }
