"""Property-based tests (hypothesis): distributed operators vs tiny exact
reference implementations on randomized inputs. Few examples, small data —
each example is a full Spark job."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from pgdedupe_spark.operators.clustering import connected_components
from pgdedupe_spark.operators.dedup import ngram_jaccard_pairs


# --- reference implementations (pure python) -------------------------------


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def _shingles(s, n=3):
    # mirrors char_shingles: whole string (even "") when len ≤ n
    if len(s) <= n:
        return {s}
    return {s[i : i + n] for i in range(len(s) - n + 1)}


def _brute_jaccard_pairs(texts, n=3, t=0.5):
    out = set()
    items = sorted(texts.items())
    for i, (ida, a) in enumerate(items):
        sa = _shingles(a, n)
        if not sa:
            continue
        for idb, b in items[i + 1 :]:
            sb = _shingles(b, n)
            if not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if j >= t:
                out.add((ida, idb))
    return out


# --- properties ------------------------------------------------------------


edges_strategy = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=edges_strategy)
def test_connected_components_matches_union_find(spark, edges):
    df = spark.createDataFrame(edges, "id1 long, id2 long")
    got = {r.id: r.component for r in connected_components(df).collect()}
    want = _uf_components(edges)
    assert got == want  # min-id labeling on both sides


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=edges_strategy)
def test_cc_small_graph_path_matches_distributed(spark, edges):
    """r12: the size-gated driver union-find (default up to
    CC_SMALL_GRAPH_MAX_EDGES = 500k edges) must label exactly like the
    distributed fixpoint loop (return_rounds=True always runs the loop)."""
    df = spark.createDataFrame(edges, "id1 long, id2 long")
    small = {(r.id, r.component) for r in connected_components(df).collect()}
    labels, _rounds = connected_components(df, return_rounds=True)
    dist = {(r.id, r.component) for r in labels.collect()}
    assert small == dist


def test_cc_null_endpoint_edges_link_nothing(spark):
    """An edge with a NULL endpoint links nothing (SQL `=` never matches
    NULL): both the driver union-find and the distributed loop drop it,
    instead of the union-find comparing NULL with an id and the loop
    labelling a NULL vertex."""
    for edges in ([(1, None), (2, 3)], [(None, None), (2, 3)]):
        df = spark.createDataFrame(edges, "id1 long, id2 long")
        small = {(r.id, r.component) for r in connected_components(df).collect()}
        labels, _rounds = connected_components(df, return_rounds=True)
        dist = {(r.id, r.component) for r in labels.collect()}
        assert small == dist == {(2, 2), (3, 2)}, edges


texts_strategy = st.lists(
    st.text(alphabet="abcd", min_size=1, max_size=12), min_size=2, max_size=10
)


# --- exact-merge properties ------------------------------------------------


def _ref_merge(rows, merge_cols):
    """Pure-python mirror of merge_exact: rows = [(key, cluster, f1, f2)];
    link clusters sharing non-NULL values on each subset, relabel to the
    union-find min. Returns {key: cluster}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    fields = {"f1": 2, "f2": 3}
    for cols in merge_cols:
        groups = {}
        for r in rows:
            vals = tuple(r[fields[c]] for c in cols)
            if any(v is None for v in vals):
                continue
            groups.setdefault(vals, []).append(r[1])
        for members in groups.values():
            for m in members[1:]:
                union(members[0], m)
    return {r[0]: find(r[1]) for r in rows}


merge_rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 20),  # cluster id
        st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),  # f1
        st.one_of(st.none(), st.sampled_from(["x", "y"])),  # f2
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=merge_rows_strategy)
def test_merge_exact_matches_union_find_and_is_idempotent(spark, rows):
    from pgdedupe_spark.operators.exact_merge import merge_exact

    data = [(i, c, f1, f2) for i, (c, f1, f2) in enumerate(rows)]
    entries = spark.createDataFrame(
        [(k, f1, f2) for k, _, f1, f2 in data], "key long, f1 string, f2 string"
    )
    mapping = spark.createDataFrame(
        [(k, c) for k, c, _, _ in data], "key long, cluster long"
    )
    merge_cols = [["f1"], ["f2"], ["f1", "f2"]]
    merged = merge_exact(mapping, entries, "key", merge_cols)
    got = {r.key: r.cluster for r in merged.collect()}
    want = _ref_merge(data, merge_cols)
    assert got == want

    # idempotence: a second pass finds no new links (all group-mates already
    # share a label), so the mapping is a fixpoint
    again = merge_exact(merged, entries, "key", merge_cols)
    assert {r.key: r.cluster for r in again.collect()} == got


def _ref_exact_edges(rows, cols):
    """DuckDB running the reference's exact-merge edge query
    (exact_matches.py:70-83) over rows = [(cluster, f1, f2)]: group by the
    merge columns with HAVING count(*) > 1, join back, GROUP BY 1, 2."""
    import duckdb

    c = ", ".join(cols)
    with duckdb.connect() as con:
        con.execute("CREATE TABLE subset (cluster BIGINT, f1 VARCHAR, f2 VARCHAR)")
        con.executemany("INSERT INTO subset VALUES (?, ?, ?)", rows)
        return sorted(
            con.execute(
                f"""
                SELECT t1.cluster AS id1, t.id2
                FROM subset t1
                JOIN (SELECT min(cluster) AS id2, {c} FROM subset
                      GROUP BY {c} HAVING count(*) > 1) t USING ({c})
                WHERE t1.cluster > id2 GROUP BY 1, 2
                """
            ).fetchall()
        )


def test_exact_match_edges_match_reference_sql(spark):
    """The window form of J5 returns the reference SQL's edge list, row
    for row (no duplicates, no self-edges), on seeded frames with NULL
    merge values, NULL clusters, one cluster on many rows and keys, a key
    shared by many clusters, and a group whose only non-NULL cluster is
    its minimum."""
    import random

    from pgdedupe_spark.operators.exact_merge import exact_match_edges

    for seed in range(3):
        rng = random.Random(seed)
        rows = [
            (
                rng.choice([None, *range(12)]),
                rng.choice([None, "a", "b", "c", "d"]),
                rng.choice([None, "x", "y"]),
            )
            for _ in range(40)
        ]
        rows += [(7, "a", "x"), (7, "a", "x"), (7, "b", "y"), (7, None, "x")]
        rows += [(c, "hot", "x") for c in range(3, 12)]
        rows += [(None, "solo", "y"), (4, "solo", "y"), (4, "solo", "y")]
        rng.shuffle(rows)
        df = spark.createDataFrame(rows, "cluster long, f1 string, f2 string")
        for cols in (["f1"], ["f2"], ["f1", "f2"]):
            got = sorted((r.id1, r.id2) for r in exact_match_edges(df, cols).collect())
            assert got == _ref_exact_edges(rows, cols), (seed, cols)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=texts_strategy)
def test_ngram_jaccard_both_strategies_match_brute_force(spark, texts):
    """Both verify paths, forced by moving the vocabulary-size cutover:
    bitmap below it (a tiny corpus always is), array above it (cutover 0)."""
    from unittest import mock

    from pgdedupe_spark.operators import dedup

    corpus = {i: t for i, t in enumerate(texts)}
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    want = _brute_jaccard_pairs(corpus, n=3, t=0.5)
    for strategy, cutover in (("bitmap", dedup._BITMAP_MAX_VOCAB), ("array", 0)):
        with mock.patch.object(dedup, "_BITMAP_MAX_VOCAB", cutover):
            got = {
                (r.id1, r.id2)
                for r in ngram_jaccard_pairs(
                    df, "doc_id", "text", n=3, threshold=0.5
                ).collect()
            }
        assert got == want, f"strategy={strategy}"


def test_cc_gate_edges_take_each_path_and_cache_nothing(spark, monkeypatch):
    """The small-graph gate counts raw edge rows: at the ceiling the
    union-find labels them, one past it the distributed loop runs (over a
    graph with duplicate and reversed edges). Both label like union-find,
    and neither leaves a cached frame in the CacheManager."""
    from pgdedupe_spark.operators import clustering

    monkeypatch.setattr(clustering, "CC_SMALL_GRAPH_MAX_EDGES", 3)
    cache = spark._jsparkSession.sharedState().cacheManager()
    cases = (
        ([(1, 2), (2, 3), (7, 8)], False),
        ([(1, 2), (2, 1), (1, 2), (3, 4), (4, 5)], True),
    )
    for edges, loop in cases:
        df = spark.createDataFrame(edges, "id1 long, id2 long")
        before = cache.cachedData().size()
        labels = clustering.connected_components(df)
        assert cache.cachedData().size() == before, edges
        plan = labels._jdf.queryExecution().optimizedPlan().toString()
        # the loop's labels are a local checkpoint; union-find's a local relation
        assert ("LogicalRDD" in plan) == loop, plan
        got = {r.id: r.component for r in labels.collect()}
        assert got == _uf_components(edges), edges


def test_cluster_components_across_arrow_batch_boundaries(spark):
    """With 3-row Arrow batches nearly every component straddles batches,
    so the per-partition HAC pass must carry the open component across
    them. Its rows, float scores included, equal a driver-side reference:
    union-find components, then _hac_average_linkage per component. The
    graphs have tied scores and scores exactly at the threshold."""
    import random

    import numpy as np

    from pgdedupe_spark.operators.clustering import (
        _hac_average_linkage,
        cluster_components,
    )

    threshold = 0.5
    rng = random.Random(11)
    scored = {}
    base = 0
    for _ in range(12):
        n = rng.randint(2, 60)
        ids = list(range(base, base + n))
        base += n + rng.randint(1, 5)
        # a random spanning tree plus extra pairs, so each is one component
        links = [(rng.choice(ids[:i]), ids[i]) for i in range(1, n)]
        links += [tuple(rng.sample(ids, 2)) for _ in range(rng.randint(0, n))]
        for a, b in links:
            score = rng.choice([threshold, 0.75, 0.75, 0.9, round(rng.uniform(threshold, 1.0), 3)])
            scored[(min(a, b), max(a, b))] = score
    rows = [(a, b, s) for (a, b), s in scored.items()]

    comp = _uf_components([(a, b) for a, b, _ in rows])
    by_comp = {}
    for a, b, s in rows:
        by_comp.setdefault(comp[a], {})[(a, b)] = 1.0 - s
    want = []
    for dist in by_comp.values():
        ids = np.unique([x for p in dist for x in p])
        for mids, scores in _hac_average_linkage(ids, dist, cutoff=1.0 - threshold):
            want += [(int(m), int(min(mids)), sc) for m, sc in zip(mids, scores)]
    assert len(want) > 100, "test premise: most members cluster"

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        df = spark.createDataFrame(rows, "id1 long, id2 long, score double")
        got = [tuple(r) for r in cluster_components(df, threshold=threshold).collect()]
    finally:
        spark.conf.set(key, saved)
    assert sorted(got) == sorted(want)


# --- HAC heap implementation vs exhaustive-rescan reference ----------------


def _ref_hac(ids, dist, cutoff):
    """The O(n^3) dense rescan formulation — kept as the semantic reference
    for the sparse heap-based merge loop."""
    import numpy as np

    n = len(ids)
    d = np.ones((n, n)); np.fill_diagonal(d, 0.0)
    pos = {v: i for i, v in enumerate(ids)}
    for (a, b), v in dist.items():
        i, j = pos[a], pos[b]
        d[i, j] = d[j, i] = v
    clusters = {i: [i] for i in range(n)}
    active = set(clusters)
    cd = d.copy()
    while len(active) > 1:
        best, bi, bj = None, None, None
        act = sorted(active)
        for x in range(len(act)):
            for y in range(x + 1, len(act)):
                i, j = act[x], act[y]
                if best is None or cd[i, j] < best:
                    best, bi, bj = cd[i, j], i, j
        if best is None or best > cutoff:
            break
        ni, nj = len(clusters[bi]), len(clusters[bj])
        for k in active:
            if k in (bi, bj):
                continue
            cd[bi, k] = cd[k, bi] = (ni * cd[bi, k] + nj * cd[bj, k]) / (ni + nj)
        clusters[bi].extend(clusters[bj])
        active.discard(bj)
    out = []
    for i in sorted(active):
        members = clusters[i]
        if len(members) < 2:
            continue
        mids = [ids[m] for m in members]
        scores = []
        for m in members:
            others = [d[m, o] for o in members if o != m]
            scores.append(1.0 - float(np.mean(others)))
        out.append((mids, scores))
    return out


hac_strategy = st.lists(
    st.tuples(
        st.integers(0, 9),
        st.integers(0, 9),
        # the two ends get drawn often: 1.0 is the unscored-pair distance
        st.one_of(st.sampled_from([0.0, 1.0]), st.floats(0.0, 1.0)),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
)


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=hac_strategy)
def test_hac_heap_matches_rescan_reference(edges):
    """Exact equality (member order and float scores) with the dense
    reference, including stored distances of exactly 0.0 and 1.0 and the
    cutoff of 1.0 (threshold 0) at which unscored pairs merge too."""
    import numpy as np

    from pgdedupe_spark.operators.clustering import _hac_average_linkage

    dist = {}
    for a, b, v in edges:
        dist[(min(a, b), max(a, b))] = round(v, 3)
    ids = np.unique([x for p in dist for x in p])
    for cutoff in (0.25, 0.5, 0.9, 1.0):
        got = _hac_average_linkage(ids, dist, cutoff)
        want = _ref_hac(ids, dist, cutoff)
        assert got == want, (cutoff, dist)


# --- as-of join vs brute-force reference -----------------------------------


asof_strategy = st.tuples(
    st.lists(  # left: (key, t)
        st.tuples(st.integers(0, 3), st.integers(0, 20)), min_size=1, max_size=15
    ),
    st.lists(  # right: (key, t, payload)
        st.tuples(st.integers(0, 3), st.integers(0, 20), st.integers(100, 999)),
        min_size=0,
        max_size=15,
    ),
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=asof_strategy)
def test_asof_join_matches_brute_force(spark, data):
    from pgdedupe_spark.operators.temporal import asof_join

    lrows, rrows = data
    # right must be unique per (key, t): keep max payload (documented contract)
    rbest = {}
    for k, t, p in rrows:
        rbest[(k, t)] = max(p, rbest.get((k, t), -1))
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lrows)], "lid long, k long, t long"
    )
    right = spark.createDataFrame(
        [(k, t, p) for (k, t), p in rbest.items()] or [(None, None, None)],
        "k long, t long, payload long",
    ).filter("k IS NOT NULL")
    got = {
        r.lid: r.payload
        for r in asof_join(left, right, ["k"], "t", ["payload"]).collect()
    }
    want = {}
    for i, (k, t) in enumerate(lrows):
        best = None
        for (rk, rt), p in rbest.items():
            if rk == k and rt <= t and (best is None or rt > best[0]):
                best = (rt, p)
        want[i] = best[1] if best else None
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=asof_strategy)
def test_range_join_matches_brute_force(spark, data):
    """Reuses the asof generator shapes: left rows become points, right rows
    become [t, t+width] intervals; every inclusive containment pair must
    surface exactly once."""
    from pgdedupe_spark.operators.temporal import range_join

    prows, rrows = data
    points = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(prows)], "pid long, k long, t long"
    )
    ranges = spark.createDataFrame(
        [(j, k, t, t + p % 7) for j, (k, t, p) in enumerate(rrows)]
        or [(None, None, None, None)],
        "rid long, k long, lo long, hi long",
    ).filter("k IS NOT NULL")
    got = sorted(
        (r.pid, r.rid)
        for r in range_join(points, ranges, ["k"], "t", "lo", "hi", bucket_width=5).collect()
    )
    want = sorted(
        (i, j)
        for i, (pk, t) in enumerate(prows)
        for j, (rk, rt, p) in enumerate(rrows)
        if pk == rk and rt <= t <= rt + p % 7
    )
    assert got == want


# ---------------------------------------------------------------------------
# Round-4 operators: weighted mixing and time-weighted average.
# ---------------------------------------------------------------------------

mix_rows_strategy = st.lists(
    st.tuples(st.integers(0, 10_000), st.sampled_from(["a", "b", "c"])),
    min_size=1,
    max_size=60,
    unique_by=lambda r: r[0],
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=mix_rows_strategy, r_lo=st.sampled_from([0.1, 0.3, 0.5]))
def test_weighted_mix_monotone_and_boundary(spark, rows, r_lo):
    """The growth-stability contract, directly: the kept set at a LOWER
    rate is a subset of the kept set at a higher rate (the hash threshold
    only moves one way), rate=1.0 keeps everything, rate=0.0 keeps
    nothing — for every group."""
    from pgdedupe_spark.operators.curation import weighted_mix

    df = spark.createDataFrame(rows, "doc_id long, source string")
    all_groups = {"a", "b", "c"}

    def kept(rate):
        out = weighted_mix(df, "source", "doc_id", {g: rate for g in all_groups})
        return {r.doc_id for r in out.collect()}

    assert kept(1.0) == {r[0] for r in rows}
    assert kept(0.0) == set()
    assert kept(r_lo) <= kept(min(1.0, r_lo + 0.3))


twa_rows_strategy = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 10_000), st.integers(-50, 50)),
    min_size=2,
    max_size=60,
    unique_by=lambda r: (r[0], r[1]),
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=twa_rows_strategy, shift=st.integers(0, 1_000_000))
def test_time_weighted_avg_invariants(spark, rows, shift):
    """TWA must (1) equal the constant for a constant series, (2) be
    invariant under a uniform time shift, (3) be invariant under input
    row order (the decimal accumulation is order-independent), and
    (4) sit inside [min, max] of the values."""
    from pgdedupe_spark.operators.temporal import time_weighted_avg

    schema = "k long, ts long, v double"

    def run(data):
        df = spark.createDataFrame(data, schema)
        return {
            r.k: r.twa_value
            for r in time_weighted_avg(df, "k", "ts", "v", tiebreak_col="ts").collect()
        }

    data = [(k, t, float(v)) for k, t, v in rows]
    base = run(data)

    # (1) constant series
    const = run([(k, t, 7.5) for k, t, _ in rows])
    for k, twa in const.items():
        if twa is not None:
            assert abs(twa - 7.5) < 1e-9, (k, twa)

    # (2) uniform time shift
    shifted = run([(k, t + shift, v) for k, t, v in data])
    assert shifted == base

    # (3) row-order invariance
    assert run(list(reversed(data))) == base

    # (4) bounded by min/max (quantization tolerance 1e-4)
    by_key = {}
    for k, t, v in data:
        by_key.setdefault(k, []).append(v)
    for k, twa in base.items():
        if twa is not None:
            assert min(by_key[k]) - 1e-4 <= twa <= max(by_key[k]) + 1e-4


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=twa_rows_strategy, width=st.sampled_from([1, 7, 100, 5000]))
def test_time_weighted_avg_bucketed_path_identical(spark, rows, width):
    """The hot-key scale path (bucket_width pre-aggregation) must produce
    EXACTLY the single-pass result — same decimal sums, same one division,
    bit-identical doubles — for every bucket width, including widths that
    put every sample in its own bucket (1) and all in one bucket (5000+)."""
    from pgdedupe_spark.operators.temporal import time_weighted_avg

    df = spark.createDataFrame(
        [(k, t, float(v)) for k, t, v in rows], "k long, ts long, v double"
    )
    base = {
        (r.k, r.n_samples): r.twa_value
        for r in time_weighted_avg(df, "k", "ts", "v", tiebreak_col="ts").collect()
    }
    bucketed = {
        (r.k, r.n_samples): r.twa_value
        for r in time_weighted_avg(
            df, "k", "ts", "v", tiebreak_col="ts", bucket_width=width
        ).collect()
    }
    assert bucketed == base


def test_time_weighted_avg_no_int64_overflow(spark):
    """Regression (ADVICE r4): the per-trapezoid product (q+nq)·Δt must be
    computed in decimal, not int64. |v|≈15 at scale=10000 with a year-scale
    µs gap gives (150000+150000)·3.2e13 ≈ 9.6e18 > 2^63 — the old int64
    multiply wrapped silently; the decimal-first product stays exact and
    the TWA of a constant series remains the constant."""
    from pgdedupe_spark.operators.temporal import time_weighted_avg

    year_us = 32_000_000_000_000  # ~1 year in microseconds
    rows = [(1, 0, 15.0), (1, year_us, 15.0), (1, 2 * year_us, 15.0)]
    df = spark.createDataFrame(rows, "k long, ts long, v double")
    out = {r.k: r.twa_value for r in
           time_weighted_avg(df, "k", "ts", "v", tiebreak_col="ts").collect()}
    assert abs(out[1] - 15.0) < 1e-9, out


# ---------------------------------------------------------------------------
# MERGE/CDC properties: the snapshot-rewrite algebra a warehouse MERGE
# guarantees — apply-twice == apply-once, empty feed == identity, and the
# final state is a pure function of the compacted feed (order of the raw
# feed is irrelevant once latest_change_per_key ran).
# ---------------------------------------------------------------------------

cdc_feed_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=8),  # key
        st.sampled_from(["U", "D", "I"]),  # op
        st.integers(min_value=0, max_value=100),  # payload
    ),
    min_size=0,
    max_size=20,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(feed=cdc_feed_strategy)
def test_cdc_apply_is_idempotent_and_order_free(spark, feed):
    from pgdedupe_spark.operators.merge import apply_cdc, latest_change_per_key

    target = spark.createDataFrame(
        [(k, 1000 + k) for k in range(1, 5)], "id long, bal long"
    )
    rows = [(k, op, v, seq) for seq, (k, op, v) in enumerate(feed, start=1)]
    if not rows:
        rows = [(99, "D", 0, 1)]  # delete of an absent key: identity
    changes = spark.createDataFrame(rows, "id long, op string, bal long, seq int")
    compacted = latest_change_per_key(changes, ["id"], "seq").drop("seq")

    once = apply_cdc(target, compacted, ["id"])
    got_once = sorted(map(tuple, once.collect()))

    # idempotence: re-applying the same compacted feed to the result is a
    # no-op (upserts rewrite identical rows, deletes hit absent keys)
    twice = apply_cdc(once, compacted, ["id"])
    assert sorted(map(tuple, twice.collect())) == got_once

    # reference semantics: dict-replay of the compacted feed
    state = {k: 1000 + k for k in range(1, 5)}
    final = {}
    for k, op, v, _seq in rows:
        final[k] = (op, v)
    for k, (op, v) in final.items():
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v
    assert got_once == sorted((k, v) for k, v in state.items())


# --- distributed prefix sum (operators/packing.py) ---------------------------

prefix_strategy = st.lists(
    st.integers(min_value=0, max_value=500), min_size=0, max_size=60
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(toks=prefix_strategy, nparts=st.integers(min_value=1, max_value=9))
def test_prefix_sum_matches_python_cumsum(spark, toks, nparts):
    """For any token-count list and any partition count, the distributed
    prefix sum equals the sequential exclusive cumsum, and pack slices
    conserve tokens with every non-final pack exactly full."""
    from pgdedupe_spark.operators.packing import pack_assignments, prefix_sum
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(toks)], "doc_id long, n_tok long"
    )
    got = {
        r.doc_id: r.cum_before
        for r in prefix_sum(
            df, [F.col("doc_id").asc()], "n_tok", num_partitions=nparts
        ).collect()
    }
    acc, want = 0, {}
    for i, n in enumerate(toks):
        want[i] = acc
        acc += n
    assert got == want

    ctx = 7
    per_pack: dict[int, int] = {}
    for r in pack_assignments(
        df, "doc_id", "n_tok", ctx=ctx, num_partitions=nparts
    ).collect():
        per_pack[r.pack_id] = per_pack.get(r.pack_id, 0) + r.n_tok_in_pack
    total = sum(toks)
    assert sum(per_pack.values()) == total
    if per_pack:
        last = max(per_pack)
        assert all(v == ctx for k, v in per_pack.items() if k != last)


def test_connected_components_pointer_doubling_round_count(spark):
    """Convergence pin (VERDICT r5 #5): a 300-vertex chain has diameter
    299, so plain min-label propagation needs ~299 rounds — the
    pointer-doubling term must close it in O(log d). The bound below
    (log2(299)+4 ≈ 12) fails loudly if the label-of-label join is ever
    dropped or broken; cc_scale_probe measures the same observable at
    10M edges in bench."""
    import math

    from pyspark.sql import functions as F

    n = 300
    chain = spark.range(n - 1).select(
        F.col("id").alias("id1"), (F.col("id") + 1).alias("id2")
    )
    labels, rounds = connected_components(chain, return_rounds=True)
    assert rounds <= int(math.log2(n)) + 4, rounds
    got = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("component").alias("c"),
        F.max("component").alias("m"),
    ).collect()[0]
    assert (got.n, got.c, got.m) == (n, 1, 0)


def test_cc_checkpoint_blocks_are_released_each_round(spark):
    """O(1)-checkpoint claim, asserted not trusted (ADVICE r6): from round
    2 onward `labels` is a .drop() PROJECTION over the checkpointed frame,
    so the old exact-LogicalRDD class check silently no-op'd and blocks
    accumulated O(rounds). Run a multi-round CC (chain ⇒ ≥3 rounds) and
    assert the persistent-RDD count afterwards is bounded by the leftover
    live frames (final checkpoint + initial), NOT by the round count —
    i.e. each superseded round's RDD really left getPersistentRDDs."""
    from pyspark.sql import functions as F

    from pgdedupe_spark.operators.clustering import _free_local_checkpoint

    sc = spark.sparkContext
    jmap = sc._jsc.getPersistentRDDs()  # java.util.Map → py4j dict-like
    for k in list(jmap):
        jmap[k].unpersist(False)
    n = 300
    chain = spark.range(n - 1).select(
        F.col("id").alias("id1"), (F.col("id") + 1).alias("id2")
    )
    labels, rounds = connected_components(chain, return_rounds=True)
    assert rounds >= 3, "test premise: need a multi-round run"
    leftover = len(sc._jsc.getPersistentRDDs())
    # live: the final round's checkpoint (labels still references it).
    # Anything O(rounds) means the per-round release regressed again.
    assert leftover <= 2, f"{leftover} persistent RDDs after {rounds} rounds"
    # and the projection-unwrap itself: freeing via a derived frame must
    # reach the underlying LogicalRDD and report success.
    assert _free_local_checkpoint(labels) is True
    assert len(sc._jsc.getPersistentRDDs()) <= leftover - 1


chunk_cases = st.lists(st.integers(0, 60), min_size=1, max_size=8)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(n_toks=chunk_cases, chunk=st.integers(1, 12), data=st.data())
def test_chunk_documents_invariants(spark, n_toks, chunk, data):
    """For arbitrary document sizes and (chunk, overlap) combos: zero-token
    docs vanish, chunk intervals tile [0, n_tok) with stride chunk-overlap
    and no gaps, every chunk but the last is full when the doc allows."""
    from pgdedupe_spark.operators.packing import chunk_documents

    overlap = data.draw(st.integers(0, chunk - 1))
    df = spark.createDataFrame(list(enumerate(n_toks)), "doc_id long, n_tok long")
    rows = chunk_documents(df, "doc_id", "n_tok", chunk, overlap).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.start_tok, r.n_tok_in_chunk))
    stride = chunk - overlap
    for doc_id, n_tok in enumerate(n_toks):
        got = sorted(by_doc.get(doc_id, []))
        if n_tok == 0:
            assert got == []
            continue
        assert got, (doc_id, n_tok)
        assert [i for i, _, _ in got] == list(range(len(got)))
        covered = 0
        for idx, (i, s, ln) in enumerate(got):
            assert s == i * stride
            assert 1 <= ln <= chunk
            assert s <= covered          # no gap
            covered = max(covered, s + ln)
            if idx < len(got) - 1:
                assert ln == chunk       # only the last chunk may truncate
        assert covered == n_tok


def test_cc_incremental_equals_full_recompute(spark):
    """connected_components_incremental(labels(old), new) must equal
    connected_components(old ∪ new) exactly — including singletons from
    the standing labeling and components merged ACROSS old components by
    a new edge."""
    from pgdedupe_spark.operators.clustering import (
        connected_components,
        connected_components_incremental,
    )

    old = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11), (20, 21), (30, 30)], "id1 long, id2 long"
    )
    new = spark.createDataFrame(
        [(2, 10), (21, 40), (50, 51)], "id1 long, id2 long"
    )
    labels = connected_components(old)
    got = {
        (r.id, r.component)
        for r in connected_components_incremental(labels, new).collect()
    }
    want = {
        (r.id, r.component)
        for r in connected_components(old.union(new)).collect()
    }
    assert got == want
    # cross-component merge actually happened
    lab = dict(got)
    assert lab[11] == lab[0] == 0
    assert lab[40] == 20
    assert lab[30] == 30  # untouched singleton survives


def test_cc_incremental_round_collapse(spark):
    """The point of incrementality: on a 300-vertex chain the full CC
    needs ~log2(300) pointer-doubling rounds; updating its converged
    labeling with one bridging edge must converge in ≤ 3 rounds (the
    standing labels are depth-1 stars)."""
    from pyspark.sql import functions as F

    from pgdedupe_spark.operators.clustering import (
        connected_components,
        connected_components_incremental,
    )

    n = 300
    chain = spark.range(n - 1).select(
        F.col("id").alias("id1"), (F.col("id") + 1).alias("id2")
    )
    chain2 = spark.range(n - 1).select(
        (F.col("id") + 1000).alias("id1"), (F.col("id") + 1001).alias("id2")
    )
    labels, full_rounds = connected_components(
        chain.union(chain2), return_rounds=True
    )
    bridge = spark.createDataFrame([(n - 1, 1000)], "id1 long, id2 long")
    merged, inc_rounds = connected_components_incremental(
        labels, bridge, return_rounds=True
    )
    assert full_rounds >= 4, full_rounds
    assert inc_rounds <= 3, inc_rounds
    got = merged.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("component").alias("c"),
        F.max("component").alias("m"),
    ).collect()[0]
    assert (got.n, got.c, got.m) == (2 * n, 1, 0)


# ---------------------------------------------------------------------------
# Bloom membership layer (new r7): the exactness half of the contract on
# arbitrary unicode keys — membership can NEVER false-negative, and the
# screened incremental dedup equals a plain exact join on any input.
# ---------------------------------------------------------------------------

bloom_keys_strategy = st.lists(
    st.text(min_size=0, max_size=30), min_size=1, max_size=40, unique=True
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(keys=bloom_keys_strategy)
def test_bloom_never_false_negative_property(spark, keys):
    from pyspark.sql import functions as F

    from pgdedupe_spark.operators.sketches import bloom_build, bloom_might_contain

    bits, hashes = 1 << 12, 4
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    bloom = bloom_build(df, "k", bits, hashes)
    out = bloom_might_contain(
        df.withColumn("id", F.col("k")), "k", bloom, bits, hashes, "id"
    )
    assert out.filter(~F.col("might_contain")).count() == 0


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    corpus=st.lists(st.text(min_size=0, max_size=12), min_size=1, max_size=25),
    batch=st.lists(st.text(min_size=0, max_size=12), min_size=1, max_size=25),
)
def test_incremental_exact_flags_equal_plain_join_property(spark, corpus, batch):
    """Screening is semantically invisible on ARBITRARY text (including
    whitespace-only strings that normalize to the same key)."""
    from pyspark.sql import functions as F

    from pgdedupe_spark.operators.dedup import incremental_exact_flags, normalize_text

    c = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(batch)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.is_dup, r.corpus_id)
        for r in incremental_exact_flags(c, b, "doc_id", "text", 1 << 12, 4).collect()
    }
    ref_rows = (
        b.select("doc_id", normalize_text(F.col("text")).alias("_n"))
        .join(
            c.select(normalize_text(F.col("text")).alias("_n"), "doc_id")
            .groupBy("_n").agg(F.min("doc_id").alias("cid")),
            "_n", "left",
        )
        .collect()
    )
    ref = {r.doc_id: (r.cid is not None, r.cid) for r in ref_rows}
    assert got == ref


def test_rolling_robust_z_plants_and_contracts(spark):
    """A flat-ish series with one planted spike: only the spike flags
    (strictly-before baseline ⇒ the spike can't dilute itself); the
    first window_rows rows are NULL-scored; IQR=0 stretches score NULL
    but don't flag; one hash exchange total (all window exprs share the
    partitioning)."""
    import pytest
    from pyspark.sql import functions as F

    from pgdedupe_spark.operators.temporal import rolling_robust_z

    vals = [10.0 + (i % 5) for i in range(40)]
    vals[30] = 500.0  # the anomaly
    df = spark.createDataFrame(
        [("a", i, v) for i, v in enumerate(vals)], "k string, t long, v double"
    )
    out = rolling_robust_z(df, ["k"], ["t"], "v", window_rows=8, k=4.0)
    rows = {r["t"]: r for r in out.collect()}
    assert [t for t, r in rows.items() if r["is_anomaly"]] == [30]
    for t in range(8):  # short trailing window -> unscored, unflagged
        assert rows[t]["robust_z"] is None and not rows[t]["is_anomaly"]
    assert rows[29]["roll_med"] == 12.0  # median of the 5-cycle

    # constant series: IQR 0 -> NULL z, never flags
    const = spark.createDataFrame(
        [("c", i, 7.0) for i in range(20)], "k string, t long, v double"
    )
    cz = rolling_robust_z(const, ["k"], ["t"], "v", window_rows=8).collect()
    assert all(r["robust_z"] is None and not r["is_anomaly"] for r in cz)

    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both
    assert final.count("Window [") == 1, final  # all exprs share one pass
    assert final.count("Sort ") == 1, final
    assert "PythonUDF" not in final

    with pytest.raises(ValueError, match="robust_z"):
        rolling_robust_z(out, ["k"], ["t"], "v")
