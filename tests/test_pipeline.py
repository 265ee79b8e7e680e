"""End-to-end pipeline quality + determinism gates — the Spark equivalents
of the reference's test_integration.py (quality bound) and
test_reproducibility.py (identical output across runs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pgdedupe_spark.config import DedupeConfig
from pgdedupe_spark.operators.features import FieldDef
from pgdedupe_spark.pipeline import run_pipeline
from tests.datagen import generate_population, training_pairs

N_PEOPLE = 150


@pytest.fixture(scope="module")
def source(spark):
    rows, truth, _ = generate_population(N_PEOPLE, seed=0)
    df = spark.createDataFrame(
        rows, "entry_id long, first_name string, last_name string, ssn string, sex string, dob string"
    )
    return df, truth


def _config():
    return DedupeConfig(
        table="entries",
        key="entry_id",
        fields=[
            FieldDef("first_name"),
            FieldDef("last_name"),
            FieldDef("ssn", has_missing=True),
            FieldDef("sex", type="Categorical", categories=["M", "F"], has_missing=True),
            FieldDef("dob", has_missing=True),
        ],
        interactions=[("first_name", "last_name")],
        filter_condition="last_name is not null",
        merge_exact=[["ssn"]],
        threshold=0.5,
    )


def test_quality(spark, source):
    """Mirror of reference test_integration.py:30 — the engine must merge
    substantially (distinct clusters well below row count, near person
    count), and must not over-merge to a handful of clusters."""
    df, truth = source
    res = run_pipeline(df, _config(), training_pairs())
    n_rows = df.count()
    n_clusters = res.unique_map.select("dedupe_id").distinct().count()
    assert n_clusters < n_rows * 0.7, f"barely merged: {n_clusters}/{n_rows}"
    assert n_clusters > N_PEOPLE * 0.3, f"over-merged: {n_clusters} for {N_PEOPLE} people"

    # precision proxy vs ground truth: majority-person purity of clusters
    um = res.unique_map.toPandas()
    um["person"] = um["entry_id"].map(truth)
    purity = (
        um.groupby("dedupe_id")["person"]
        .agg(lambda s: s.value_counts().iloc[0] / len(s))
        .mean()
    )
    assert purity > 0.85, f"cluster purity too low: {purity:.3f}"


def test_quality_hard_cases(spark):
    """The reference generator's precision traps (VERDICT r1 item 5):
    twins (same last name + dob, SSN off by one, different first/sex —
    generate_fake_dataset.py:171-183) must NOT merge, and married-name
    changes (same person, new last name on later records) must not
    collapse precision. DOB noise (the reference's munged_dob cascade —
    day/month swaps, ±1 day/month/year, N(0, 6 mo) drift) is ON, so the
    gate also proves dob disagreement between a person's own records
    doesn't break the boundary."""
    rows, truth, twins = generate_population(
        N_PEOPLE, seed=0, twin_rate=0.15, married_rate=0.2, dob_noise=True
    )
    df = spark.createDataFrame(
        rows, "entry_id long, first_name string, last_name string, ssn string, sex string, dob string"
    )
    res = run_pipeline(df, _config(), training_pairs())
    um = res.unique_map.toPandas()
    um["person"] = um["entry_id"].map(truth)

    # precision proxy must hold even with twins in the population
    purity = (
        um.groupby("dedupe_id")["person"]
        .agg(lambda s: s.value_counts().iloc[0] / len(s))
        .mean()
    )
    assert purity > 0.8, f"cluster purity too low with twins: {purity:.3f}"

    # no twin pair may share a cluster (each such merge is a wrong entity)
    clusters_of = um.groupby("person")["dedupe_id"].agg(set)
    assert len(twins) >= 10, "fixture must actually plant twins"
    merged = sum(
        1
        for a, b in twins
        if a in clusters_of.index
        and b in clusters_of.index
        and clusters_of[a] & clusters_of[b]
    )
    assert merged <= 0.1 * len(twins), (
        f"{merged}/{len(twins)} twin pairs wrongly merged"
    )


def test_metric_fidelity_parity(spark, source):
    """VERDICT r1 item 6 — the deliberate deviation contract: the default
    String metric is JVM Levenshtein (whole-stage codegen, the scale path)
    rather than the reference's affine-gap; because the classifier is
    RETRAINED on whatever metric is configured, the *decisions* stay
    equivalent. Pinned: same-cluster pair sets of the two metrics agree
    (Jaccard ≥ 0.75; measured 0.81) and both clusterings stay pure
    (measured 0.963 lev / 0.974 affine; pair recall 0.97 both). Exact
    fidelity remains opt-in via metric='affine_gap' per field.

    Re-measured in r10: before the training-fidelity fix the affine path
    TRAINED on levenshtein features while SCORING affine ones, which
    inflated cross-metric agreement to 0.93 — an artifact of the
    train/score mismatch, not a truer equivalence. With each classifier
    now fit on its own metric's features (ml/training._py_features honors
    FieldDef.metric), the honest agreement is 0.81 with purity IMPROVED
    on the affine side."""
    df, truth = source

    def config(metric):
        cfg = _config()
        for fd in cfg.fields:
            if fd.type == "String":
                fd.metric = metric
        return cfg

    def pairset(res):
        um = res.unique_map.toPandas()
        pairs = set()
        for _, grp in um.groupby("dedupe_id"):
            ids = sorted(grp["entry_id"])
            pairs |= {(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]}
        return pairs, um

    def purity(um):
        um = um.copy()
        um["person"] = um["entry_id"].map(truth)
        return (
            um.groupby("dedupe_id")["person"]
            .agg(lambda s: s.value_counts().iloc[0] / len(s))
            .mean()
        )

    p_lev, um_lev = pairset(run_pipeline(df, config("levenshtein"), training_pairs()))
    p_aff, um_aff = pairset(run_pipeline(df, config("affine_gap"), training_pairs()))
    jac = len(p_lev & p_aff) / len(p_lev | p_aff)
    assert jac >= 0.75, f"metric decisions diverged: pair-set jaccard {jac:.3f}"
    assert purity(um_lev) > 0.9 and purity(um_aff) > 0.9


def test_determinism(spark, source):
    """Reference test_reproducibility.py parity: two full runs, identical
    entity maps and unique maps."""
    df, _ = source
    cfg = _config()
    tp = training_pairs()
    r1 = run_pipeline(df, cfg, tp)
    r2 = run_pipeline(df, cfg, tp)
    a = sorted(map(tuple, r1.unique_map.collect()))
    b = sorted(map(tuple, r2.unique_map.collect()))
    assert a == b
    e1 = sorted(map(tuple, r1.entity_map.collect()))
    e2 = sorted(map(tuple, r2.entity_map.collect()))
    assert e1 == e2


def test_pipeline_with_learned_rules(spark, source):
    """D5 end-to-end: blocking rules learned from the labeled pairs (greedy
    set cover at config.recall) drive the full pipeline and still merge."""
    from pgdedupe_spark.ml.learning import learn_blocking_rules

    df, _ = source
    cfg = _config()
    tp = training_pairs()
    rules = learn_blocking_rules(spark, tp, cfg.field_names, recall=cfg.recall)
    res = run_pipeline(df, cfg, tp, block_rules=rules)
    n_rows = df.count()
    n_clusters = res.unique_map.select("dedupe_id").distinct().count()
    assert n_clusters < n_rows, "learned-rule blocking produced no merges"


def test_every_source_row_mapped(spark, source):
    df, _ = source
    res = run_pipeline(df, _config(), training_pairs())
    # rows passing the filter all get a dedupe_id; filtered rows get NULL
    n_filtered = df.filter("last_name is not null").count()
    assert res.unique_map.filter(F.col("dedupe_id").isNotNull()).count() == n_filtered


@pytest.mark.slow
def test_quality_at_reference_integration_scale(spark):
    """The reference's integration gate at the reference's own scale
    (tests/test_integration.py:18,30) — 2,000 persons (~8k entry rows at
    the generator's mean 4 records/person), full pipeline — tightened
    from the reference's loose count bound into measured metric floors
    vs ground truth (VERDICT r6 #8): pairwise precision/recall over
    co-clustered pairs and cluster plurality accuracy (the validation
    notebook's A7 question, "what fraction of entries sit in a cluster
    whose plurality person is theirs").

    Threshold note (measured in r7): at this scale the 560-combo name
    pool puts ~3.6 people behind every (first,last), and the suite's
    small-N default threshold=0.5 chains those namesakes — pairwise
    precision 0.545, plurality 0.788 — while recall stays 0.986. At
    threshold=0.75 the same trained model measures precision 0.967 /
    recall 0.982 / plurality 0.981. The scale gate therefore runs the
    user-facing knob where a 2,000-person deployment would set it and
    pins comfortable floors; the reference's own < 2× population bound
    is kept alongside (it was never informative — it passes even in the
    over-merged regime)."""
    n_people = 2000
    rows, truth, _ = generate_population(n_people, seed=0)
    df = spark.createDataFrame(
        rows,
        "entry_id long, first_name string, last_name string, ssn string, sex string, dob string",
    )
    cfg = _config()
    cfg.threshold = 0.75
    res = run_pipeline(df, cfg, training_pairs())
    n_rows = df.count()
    n_clusters = res.unique_map.select("dedupe_id").distinct().count()
    assert n_clusters < 2 * n_people, f"{n_clusters} clusters for {n_people} people"
    # every source row that passed the filter must be mapped exactly once
    assert res.unique_map.count() == res.unique_map.select("entry_id").distinct().count()

    from collections import defaultdict

    um = res.unique_map.toPandas()
    pred, true = defaultdict(list), defaultdict(list)
    for r in um.itertuples():
        if r.dedupe_id is not None:
            pred[r.dedupe_id].append(r.entry_id)
        true[truth[r.entry_id]].append(r.entry_id)

    def pairset(groups):
        s = set()
        for ids in groups.values():
            ids = sorted(ids)
            s |= {(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]}
        return s

    P, T = pairset(pred), pairset(true)
    precision = len(P & T) / len(P)
    recall = len(P & T) / len(T)
    hits = 0
    for ids in pred.values():
        ppl = [truth[i] for i in ids]
        top = max(set(ppl), key=ppl.count)
        hits += sum(1 for p in ppl if p == top)
    plurality = hits / sum(len(v) for v in pred.values())

    assert precision >= 0.9, f"pairwise precision {precision:.3f} < 0.9"
    assert recall >= 0.95, f"pairwise recall {recall:.3f} < 0.95"
    assert plurality >= 0.9, f"plurality accuracy {plurality:.3f} < 0.9"


def test_sorted_neighborhood_pairs_equal_naive_reference(spark):
    """The cell-banded equi-join composition must equal the naive
    row_number self-join exactly — including across range-partition
    boundaries (the classic SNM distributed-implementation bug)."""
    from pgdedupe_spark.operators.blocking import sorted_neighborhood_pairs

    rows = [(i, f"k{(i * 37) % 100:03d}") for i in range(100)]
    df = spark.createDataFrame(rows, "rid long, key string").repartition(7)
    w = 5
    got = sorted(
        map(tuple, sorted_neighborhood_pairs(df, "rid", ["key"], window=w)
            .select("id1", "id2", "rank_gap").collect())
    )
    # naive reference: python sort + all pairs within w ranks
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    want = sorted(
        (order[i][0], order[j][0], j - i)
        for i in range(len(order))
        for j in range(i + 1, min(i + w + 1, len(order)))
    )
    assert got == want
    n = len(rows)
    assert len(got) == n * w - w * (w + 1) // 2  # exact SNM pair count

    plan = (
        sorted_neighborhood_pairs(df, "rid", ["key"], window=w)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "PythonUDF" not in plan


def test_completeness_floor(spark, source):
    """VERDICT r8 #7 quality-gate extension — the notebook's cells 26-31
    run against the REAL fitted pipeline: per true identity, the
    plurality-cluster share (completeness_histogram over unique_map
    joined to ground truth, NULL dedupe_id = filter-excluded records).
    Floors: most identities resolve nearly whole, and split identities
    (< 0.5) stay rare."""
    from pgdedupe_spark.operators.survivorship import completeness_histogram

    df, truth = source
    res = run_pipeline(df, _config(), training_pairs())
    truth_df = spark.createDataFrame(
        list(truth.items()), "entry_id long, person long"
    )
    # LEFT join from the full source: records the filter excluded keep a
    # NULL dedupe_id and count as their own group (notebook semantics)
    entries = df.select("entry_id").join(
        res.unique_map, "entry_id", "left"
    ).join(truth_df, "entry_id")
    hist = completeness_histogram(entries, "person", "dedupe_id", bins=10)
    rows = {r["bucket"]: r for r in hist.collect()}
    n_total = sum(r["n_identities"] for r in rows.values())
    assert n_total == len(set(truth.values()))  # every identity counted once
    frac_sum = sum(r["frac_identities"] for r in rows.values())
    assert abs(frac_sum - 1.0) < 1e-9
    high = sum(r["n_identities"] for b, r in rows.items() if b >= 8) / n_total
    split = sum(r["n_identities"] for b, r in rows.items() if b <= 4) / n_total
    assert high >= 0.7, f"identities >=80% complete: {high:.3f} < 0.7"
    assert split <= 0.1, f"split identities (<50%): {split:.3f} > 0.1"


def test_stage_outputs_are_checkpointed(spark):
    """Every multiply-read stage output is computed once: the frames
    run_pipeline returns plan against the stage checkpoints, so neither
    the HAC (FlatMapGroupsInPandas) nor the candidate-pair self-join
    (smaller_ids) is re-planned by a downstream read or write. The stages
    checkpoint rather than persist, so a run leaves no frame registered
    in the CacheManager (a leaked persist grows it by one per call)."""
    rows, _truth, _ = generate_population(30, seed=3)
    df = spark.createDataFrame(
        rows, "entry_id long, first_name string, last_name string, ssn string, sex string, dob string"
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    cached_before = cache.cachedData().size()
    res = run_pipeline(df, _config(), training_pairs())
    assert cache.cachedData().size() == cached_before
    for name in ("entity_map", "mapping", "unique_map", "deduped_source"):
        plan = getattr(res, name)._jdf.queryExecution().optimizedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan, name
        assert "smaller_ids" not in plan, name
