"""Two-dataset record linkage (operators/linkage.py): symmetric best
match one-to-one assignment and the iterated-rounds greedy relaxation,
on crafted conflict scenarios with known answers. The registry row
er_record_linkage covers the blocking+scoring+assignment composition
against DuckDB at both SFs."""

from __future__ import annotations

from pgdedupe_spark.operators.linkage import best_match_links, linkage_rounds


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_l long, id_r long, score double")


def test_best_match_is_mutual_and_one_to_one(spark):
    # A(1) prefers B1(10); B1 prefers A. C(2) also wants B1 but loses.
    pairs = _pairs(
        spark,
        [(1, 10, 0.9), (2, 10, 0.85), (1, 11, 0.6), (2, 11, 0.8)],
    )
    out = {(r.id_l, r.id_r) for r in best_match_links(pairs, threshold=0.5).collect()}
    # round 1 of mutual best: (1,10) mutual; (2,11) also mutual (2's best
    # after 10 is... 2's best IS 10 (0.85) — not mutual, so 2 unmatched)
    assert out == {(1, 10)}


def test_best_match_threshold_and_ties(spark):
    # sub-threshold pair never matches; tie on score breaks to smaller id
    pairs = _pairs(spark, [(1, 10, 0.4), (2, 20, 0.7), (2, 21, 0.7)])
    out = {(r.id_l, r.id_r) for r in best_match_links(pairs, threshold=0.5).collect()}
    assert out == {(2, 20)}


def test_linkage_rounds_recovers_conflict_losers(spark):
    # Greedy: (1,10) at 0.9; then 2 (who lost 10) should take 11 at 0.8
    # in round 2 — single-round mutual best leaves 2 unmatched.
    pairs = _pairs(
        spark,
        [(1, 10, 0.9), (2, 10, 0.85), (2, 11, 0.8), (1, 11, 0.6)],
    )
    one = best_match_links(pairs, threshold=0.5).collect()
    assert {(r.id_l, r.id_r) for r in one} == {(1, 10)}
    multi = linkage_rounds(pairs, threshold=0.5, max_rounds=3).collect()
    got = {(r.id_l, r.id_r): r.match_round for r in multi}
    assert got == {(1, 10): 1, (2, 11): 2}
    # one-to-one across rounds
    ls = [r.id_l for r in multi]
    rs = [r.id_r for r in multi]
    assert len(set(ls)) == len(ls) and len(set(rs)) == len(rs)


# ---------------------------------------------------------------------------
# Gazetteer mode (new r12, VERDICT r11 #5)


def _gazetteer(spark, tmp_path, extra=()):
    from pgdedupe_spark.operators.linkage import write_gazetteer

    canon = spark.createDataFrame(
        [
            (100, "nyc", "acme corporation"),
            (101, "nyc", "globex incorporated"),
            (102, "sfo", "acme corporation"),
            (103, "sfo", "initech llc"),
            *extra,
        ],
        "ent_id long, city string, name string",
    )
    path = str(tmp_path / "gaz")
    write_gazetteer(canon, "ent_id", ["city"], ["name"], path, n_buckets=8)
    return canon, path


def _score():
    from pyspark.sql import functions as F

    a, b = F.col("name"), F.col("gaz_name")
    return F.lit(1.0) - F.levenshtein(a, b).cast("double") / F.greatest(
        F.length(a), F.length(b), F.lit(1)
    ).cast("double")


def test_gazetteer_one_way_conflict_tie_threshold(spark, tmp_path):
    """The dedupe Gazetteer contract: every batch record matches one-way
    against the canonical set — two batch records MAY share a canonical
    winner (conflict allowed), exact score ties break to the ascending
    canonical id, and sub-threshold candidates never match."""
    from pgdedupe_spark.operators.linkage import gazetteer_match

    _, path = _gazetteer(spark, tmp_path)
    batch = spark.createDataFrame(
        [
            (1, "nyc", "acme corpration"),     # typo → ent 100
            (2, "nyc", "acme corporation"),    # exact → ent 100 (conflict OK)
            (3, "sfo", "zzz totally unknown"), # below threshold → no row
            (4, "nyc", "globex incorporated"),
        ],
        "rec_id long, city string, name string",
    )
    out = {r.rec_id: r for r in gazetteer_match(
        spark, path, batch, "rec_id", _score(), threshold=0.6).collect()}
    assert out[1].gaz_id == 100 and out[2].gaz_id == 100  # shared winner
    assert out[4].gaz_id == 101
    assert 3 not in out
    assert all(r.rank == 1 for r in out.values())

    # blocking is real: an identical name in the WRONG city never matches
    wrong_block = spark.createDataFrame(
        [(9, "lax", "acme corporation")], "rec_id long, city string, name string"
    )
    assert gazetteer_match(
        spark, path, wrong_block, "rec_id", _score(), threshold=0.0
    ).count() == 0

    # exact tie: canonical 100 and 102 share the name; a batch record in
    # each city gets its own-block copy — craft an in-block tie instead
    canon2, path2 = _gazetteer(
        spark, tmp_path.joinpath("t2"), extra=[(104, "nyc", "acme corporation")]
    )
    tie = spark.createDataFrame(
        [(7, "nyc", "acme corporation")], "rec_id long, city string, name string"
    )
    got = gazetteer_match(spark, path2, tie, "rec_id", _score(), threshold=0.6).collect()
    assert len(got) == 1 and got[0].gaz_id == 100  # tie → ascending gaz_id


def test_gazetteer_unique_mode_and_topk(spark, tmp_path):
    """unique=True swaps the one-way rank for symmetric best match: a
    canonical entity wins at most ONE batch record; k>1 returns the
    ranked top-k candidate list per record."""
    from pgdedupe_spark.operators.linkage import gazetteer_match

    _, path = _gazetteer(spark, tmp_path)
    batch = spark.createDataFrame(
        [
            (1, "nyc", "acme corporation"),   # exact (1.0)
            (2, "nyc", "acme corporatio"),    # near (0.9375)
        ],
        "rec_id long, city string, name string",
    )
    uni = {r.rec_id: r for r in gazetteer_match(
        spark, path, batch, "rec_id", _score(), threshold=0.5, unique=True).collect()}
    # 100 goes to record 1 (higher score); record 2 falls to its next
    # mutual-best canonical — globex scores too low, so it is unmatched
    assert uni[1].gaz_id == 100
    assert 2 not in uni

    topk = gazetteer_match(
        spark, path, batch.filter("rec_id = 1"), "rec_id", _score(),
        threshold=0.0, k=2,
    ).collect()
    assert [(r.rank, r.gaz_id) for r in sorted(topk, key=lambda r: r.rank)] == [
        (1, 100), (2, 101),
    ]


def test_gazetteer_append_equals_rebuild_and_prunes(spark, tmp_path):
    """append ≡ rebuild bit-for-bit (stateless bucket hash), the probed
    bucket set pushes as a static PartitionFilter on the records scan,
    and an empty batch short-circuits to an empty typed frame."""
    import re

    from pgdedupe_spark.operators.linkage import (
        gazetteer_append,
        gazetteer_match,
        write_gazetteer,
    )

    canon, path = _gazetteer(spark, tmp_path)
    extra = spark.createDataFrame(
        [(200, "chi", "hooli inc"), (201, "nyc", "pied piper")],
        "ent_id long, city string, name string",
    )
    gazetteer_append(spark, path, extra)

    rebuilt = str(tmp_path / "gaz_rebuilt")
    write_gazetteer(
        canon.unionByName(extra), "ent_id", ["city"], ["name"], rebuilt, n_buckets=8
    )
    batch = spark.createDataFrame(
        [(1, "chi", "hooli inc"), (2, "nyc", "pied piper co")],
        "rec_id long, city string, name string",
    )
    a = gazetteer_match(spark, path, batch, "rec_id", _score(), threshold=0.5)
    b = gazetteer_match(spark, rebuilt, batch, "rec_id", _score(), threshold=0.5)
    rows_a = sorted(map(tuple, a.collect()))
    assert rows_a == sorted(map(tuple, b.collect()))
    assert {t[1] for t in rows_a} == {200, 201}

    plan = a._jdf.queryExecution().executedPlan().toString()
    pfs = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("bucket" in p for p in pfs), plan
    assert "PythonUDF" not in plan

    empty = gazetteer_match(
        spark, path, batch.filter("rec_id < 0"), "rec_id", _score(), threshold=0.5
    )
    assert empty.count() == 0
    assert empty.columns == ["rec_id", "gaz_id", "score", "rank"]

    # prune=False agrees (no bounded collect)
    c = gazetteer_match(
        spark, path, batch, "rec_id", _score(), threshold=0.5, prune=False
    )
    assert sorted(map(tuple, c.collect())) == rows_a


def test_gazetteer_compact_folds_overlay_and_preserves_matching(spark, tmp_path):
    """gazetteer_compact folds streamed growth epochs into the base
    bucket layer: the overlay directory disappears, record counts are
    conserved, and matching output is bit-identical before/after. No-op
    without an overlay."""
    import os as _os

    from pgdedupe_spark.operators.linkage import gazetteer_compact, gazetteer_match
    from pgdedupe_spark.streaming.ops import gazetteer_stream

    canon, path = _gazetteer(spark, tmp_path)
    store = str(tmp_path / "out")
    fn = gazetteer_stream(path, store, "ent_id", _score(), threshold=0.7)
    fn(spark.createDataFrame(
        [(300, "chi", "hooli inc")], "rec_id long, city string, name string"
    ).withColumnRenamed("rec_id", "ent_id"), 0)
    assert _os.path.exists(f"{path}/records_stream")

    batch = spark.createDataFrame(
        [(1, "chi", "hooli inc"), (2, "nyc", "acme corporation")],
        "rec_id long, city string, name string",
    )
    before = sorted(map(tuple, gazetteer_match(
        spark, path, batch, "rec_id", _score(), threshold=0.7).collect()))
    n_before = spark.read.parquet(f"{path}/records").count() + spark.read.parquet(
        f"{path}/records_stream"
    ).count()

    gazetteer_compact(spark, path)
    assert not _os.path.exists(f"{path}/records_stream")
    assert spark.read.parquet(f"{path}/records").count() == n_before
    after = sorted(map(tuple, gazetteer_match(
        spark, path, batch, "rec_id", _score(), threshold=0.7).collect()))
    assert after == before
    assert {t[1] for t in after} == {300, 100}

    gazetteer_compact(spark, path)  # idempotent no-op without overlay
    assert sorted(map(tuple, gazetteer_match(
        spark, path, batch, "rec_id", _score(), threshold=0.7).collect())) == before


def test_gazetteer_fuzzy_match_one_way_and_append(spark, tmp_path):
    """Fuzzy gazetteer (no block key): a perturbed batch record matches
    its canonical original one-way by banded-MinHash candidates + exact
    Jaccard; unrelated records match nothing; k=2 ranks; append grows
    the canonical set for the next batch; no all-pairs in the plan."""
    from pgdedupe_spark.operators.dedup import (
        minhash_index_append,
        write_minhash_index,
    )
    from pgdedupe_spark.operators.linkage import gazetteer_fuzzy_match

    base = "the quick brown fox jumps over the lazy dog again and again today"
    alt = "completely different canonical text about spark engines at scale ok"
    canon = spark.createDataFrame(
        [(100, base), (101, alt)], "ent_id long, text string"
    )
    path = str(tmp_path / "fgaz")
    write_minhash_index(
        canon, "ent_id", "text", path, n=5, num_hashes=64, bands=16
    )

    batch = spark.createDataFrame(
        [(1, base + " x"), (2, "nothing like any canonical entity whatsoever")],
        "rec_id long, text string",
    )
    out = gazetteer_fuzzy_match(spark, path, batch, "rec_id", threshold=0.6)
    rows = {r.rec_id: r for r in out.collect()}
    assert rows[1].gaz_id == 100 and rows[1].rank == 1
    assert 2 not in rows
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "PythonUDF" not in plan

    # k=2 with two near canonical variants: both ranked, jaccard desc
    canon2 = spark.createDataFrame(
        [(102, base + " y")], "ent_id long, text string"
    )
    minhash_index_append(spark, path, canon2)
    out2 = gazetteer_fuzzy_match(spark, path, batch, "rec_id", threshold=0.5, k=2)
    got = sorted(
        (r.rank, r.gaz_id) for r in out2.collect() if r.rec_id == 1
    )
    assert {g for _, g in got} == {100, 102}
    assert [r for r, _ in got] == [1, 2]
