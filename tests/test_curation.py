"""Semantic unit tests for the curation operator family
(pgdedupe_spark/operators/curation.py + dedup.near_duplicate_clusters) on
hand-built micro-corpora with known answers. The registry oracle queries
cover the same operators against DuckDB at scale; these pin the contracts
on crafted edge cases (planted contamination, short docs, transitivity)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from pgdedupe_spark.operators.curation import (
    decontaminate,
    label_centroids,
    pii_redact,
    quota_sample,
    repetition_signals,
    word_ngrams,
)
from pgdedupe_spark.operators.dedup import near_duplicate_clusters


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_ngrams_short_doc_empty(spark):
    df = _docs(spark, [(1, "one two"), (2, "a b c d"), (3, "")])
    out = {
        r.doc_id: r.ngs
        for r in df.select("doc_id", word_ngrams(F.col("text"), 3).alias("ngs")).collect()
    }
    assert out[1] == []  # 2 tokens < n
    assert out[2] == ["a b c", "b c d"]
    assert out[3] == []


def test_decontaminate_flags_planted_overlap(spark):
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon")])
    corpus = _docs(
        spark,
        [
            (1, "alpha beta gamma delta zeta"),  # shares 2 of 3 3-grams -> flagged
            (2, "one two three four five"),  # disjoint -> clean
            (3, "x y"),  # too short: zero ngrams -> clean, kept
        ],
    )
    out = {r.doc_id: r for r in decontaminate(corpus, bench, "doc_id", "text", n=3).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].contaminated == 1 and out[1].n_hits == 2 and out[1].n_ngrams == 3
    assert out[2].contaminated == 0 and out[2].n_hits == 0
    assert out[3].contaminated == 0 and out[3].n_ngrams == 0


def test_repetition_signals_counts(spark):
    df = _docs(spark, [(1, "go go go go stop"), (2, "all words here differ"), (3, "x")])
    out = {r.doc_id: r for r in repetition_signals(df, "doc_id", "text").collect()}
    # doc 1: tokens=5 distinct=2; bigrams: "go go"x3, "go stop"x1
    assert out[1].n_tokens == 5 and out[1].n_distinct == 2
    assert out[1].n_bigrams == 4 and out[1].top_bigram_n == 3
    assert out[1].dup_word_heavy == 1 and out[1].top_bigram_heavy == 1
    assert out[2].dup_word_heavy == 0 and out[2].top_bigram_heavy == 0
    # single-token doc: zero bigrams, never bigram-heavy
    assert out[3].n_bigrams == 0 and out[3].top_bigram_heavy == 0


def test_pii_redact_digit_runs(spark):
    df = spark.createDataFrame(
        [(1, "call 1234567 or 987654321 now"), (2, "no ids, just 12345")],
        "id long, body string",
    )
    out = {r.id: r for r in pii_redact(df, "id", "body").collect()}
    assert out[1].body_redacted == "call [ID] or [ID] now"
    assert out[1].n_pii_hits == 2
    assert out[2].body_redacted == "no ids, just 12345"  # 5 digits: below run length
    assert out[2].n_pii_hits == 0


def test_quota_sample_bound_and_determinism(spark):
    rows = [(i, f"g{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out1 = quota_sample(df, "grp", "doc_id", quota=5)
    counts = {r.grp: r.n for r in out1.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert counts == {"g0": 5, "g1": 5, "g2": 5}
    assert sorted(map(tuple, out1.collect())) == sorted(
        map(tuple, quota_sample(df, "grp", "doc_id", quota=5).collect())
    )


def test_label_centroids_vs_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(30, 4)).round(3)
    labels = [int(i % 3) for i in range(30)]
    df = spark.createDataFrame(
        [(labels[i], [float(x) for x in vecs[i]]) for i in range(30)],
        "label int, embedding array<double>",
    )
    out = {r.label: r for r in label_centroids(df, "label", "embedding", dim=4).collect()}
    for lab in range(3):
        q = np.round(vecs[np.array(labels) == lab] * 10000)
        s = q.sum(axis=0)
        n = (np.array(labels) == lab).sum()
        want_norm = math.sqrt(float((s * s).sum())) / (n * 10000)
        assert out[lab].n_vecs == n
        assert abs(out[lab].centroid_norm - want_norm) < 1e-12
        assert abs(out[lab].mean_c0 - s[0] / (n * 10000)) < 1e-12


def test_near_dup_clusters_transitive(spark):
    # a~b and b~c by 5-gram Jaccard, a!~c directly; one cluster of 3 expected
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = _docs(
        spark,
        [
            (1, base),
            (2, base + " x"),
            (3, base + " x y"),
            (4, "completely unrelated text about spark query engines at scale"),
        ],
    )
    out = near_duplicate_clusters(df, "doc_id", "text", n=5, threshold=0.6).collect()
    by_id = {r.doc_id: r for r in out}
    assert 4 not in by_id
    assert {by_id[i].cluster for i in (1, 2, 3)} == {1}
    assert all(by_id[i].cluster_size == 3 for i in (1, 2, 3))


def test_incremental_jaccard_cross_set_only(spark):
    from pgdedupe_spark.operators.dedup import (
        incremental_jaccard_pairs,
        ngram_jaccard_pairs,
        shingle_index,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = _docs(spark, [(1, base), (2, base + " extra"), (3, "nothing like the others at all")])
    new = _docs(spark, [(10, base + " x"), (11, "totally fresh content never seen before")])

    out = sorted(
        (r.new_id, r.corpus_id) for r in
        incremental_jaccard_pairs(corpus, new, "doc_id", "text", n=5, threshold=0.6).collect()
    )
    # new doc 10 is near base docs 1 and 2; doc 11 matches nothing; no
    # corpus-corpus (1,2) pair may appear (cross-set contract)
    assert out == [(10, 1), (10, 2)]

    # parity with the batch operator run on the union, restricted cross-set
    both = corpus.union(new)
    union_pairs = {
        tuple(sorted((r.id1, r.id2)))
        for r in ngram_jaccard_pairs(both, "doc_id", "text", n=5, threshold=0.6).collect()
    }
    cross_union = {p for p in union_pairs if (p[0] <= 3) != (p[1] <= 3)}
    assert {tuple(sorted(p)) for p in out} == cross_union

    # precomputed-index path gives identical answers
    idx = shingle_index(corpus, "doc_id", "text", n=5)
    out2 = sorted(
        (r.new_id, r.corpus_id) for r in
        incremental_jaccard_pairs(
            corpus, new, "doc_id", "text", n=5, threshold=0.6, corpus_shingles=idx
        ).collect()
    )
    assert out2 == out


def test_duplicated_spans_islands(spark):
    from pgdedupe_spark.operators.curation import duplicated_spans

    shared = "one two three four five six seven"
    df = _docs(
        spark,
        [
            (1, shared + " tail a b c d e f g h i j " + shared),
            (2, shared + " something else entirely here now ok"),
            (3, "no overlap with anything at all whatsoever friends"),
        ],
    )
    out = duplicated_spans(df, "doc_id", "text", k=5).collect()
    spans = {}
    for r in out:
        spans.setdefault(r.doc_id, []).append((r.span_start, r.span_len, r.n_kgrams))
    # the 7-token shared run appears twice in doc 1 (positions 1 and 18+)
    assert 3 not in spans
    assert sorted(spans[1])[0] == (1, 7, 3)  # 3 k-grams: pos 1..3 -> len 7
    assert len(spans[1]) == 2
    assert spans[2] == [(1, 7, 3)]


def test_csv_source_roundtrip(spark, tmp_path):
    """S4: typed CSV load (reference tests/initialize_db.py:20-37)."""
    from pgdedupe_spark.sources.io import read_csv_source

    p = str(tmp_path / "people.csv")
    with open(p, "w") as f:
        f.write("uuid,first_name,ssn,entry_id\n")
        f.write("u1,ann,123-45-6789,1\n")
        f.write("u2,,987-65-4321,2\n")  # empty -> NULL
    df = read_csv_source(
        spark, p, "uuid string, first_name string, ssn string, entry_id int"
    )
    rows = {r.uuid: r for r in df.collect()}
    assert len(rows) == 2
    assert rows["u2"].first_name is None
    assert rows["u1"].entry_id == 1 and isinstance(rows["u1"].entry_id, int)


def test_jsonl_source_roundtrip(spark, tmp_path):
    """JSONL (the LLM-corpus interchange format): typed load with explicit
    schema — malformed lines yield all-NULL rows rather than failing the
    read (poison-pill tolerance), and a full write→read roundtrip of the
    documents shape is lossless."""
    from pgdedupe_spark.sources.io import read_json_source

    p = str(tmp_path / "docs.jsonl")
    with open(p, "w") as f:
        f.write('{"doc_id": 1, "source": "src0", "text": "hello world", "n_chars": 11}\n')
        f.write('{"doc_id": 2, "source": "src1", "text": null, "n_chars": 0}\n')
        f.write("not json at all\n")
    schema = "doc_id long, source string, text string, n_chars long"
    df = read_json_source(spark, p, schema)
    rows = {r.doc_id: r for r in df.collect()}
    assert len(rows) == 3  # 2 good + 1 all-NULL poison line
    assert rows[1].text == "hello world" and rows[1].n_chars == 11
    assert rows[2].text is None
    assert None in rows and rows[None].source is None

    # write→read roundtrip of a real documents slice stays typed and equal
    docs = spark.createDataFrame(
        [(10, "srcA", "alpha beta", 10), (11, "srcB", "gamma", 5)], schema
    )
    out = str(tmp_path / "out_jsonl")
    docs.write.mode("overwrite").json(out)
    back = read_json_source(spark, out, schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))


def test_orc_source_roundtrip(spark, tmp_path):
    """ORC (the other columnar interchange format Spark reads natively):
    a typed write→read roundtrip of the documents shape is lossless —
    covers the S-family beyond parquet/csv/jsonl with zero new code
    (spark.read.orc is the same declarative scan surface, with the same
    pushdown/pruning behavior)."""
    schema = "doc_id long, source string, text string, n_chars long"
    docs = spark.createDataFrame(
        [(10, "srcA", "alpha beta", 10), (11, "srcB", None, 0)], schema
    )
    out = str(tmp_path / "docs_orc")
    docs.write.mode("overwrite").orc(out)
    back = spark.read.schema(schema).orc(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))
    assert back.schema.simpleString() == docs.schema.simpleString()


def test_cosine_pairs_guard(spark):
    import pytest as _pytest

    from pgdedupe_spark.operators.similarity import cosine_pairs

    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(30)], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="O\\(n²\\) exact verifier|max_rows"):
        cosine_pairs(df, "vec_id", "embedding", max_rows=10)
    assert cosine_pairs(df, "vec_id", "embedding", max_rows=100).count() == 435


def test_corpus_split_deterministic_growth_stable_and_proportional(spark):
    from pgdedupe_spark.operators.curation import corpus_split

    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    docs = spark.range(20_000).select(F.col("id").alias("doc_id"))
    a = {r.doc_id: r.split for r in corpus_split(docs, "doc_id", weights).collect()}
    # deterministic across runs
    b = {r.doc_id: r.split for r in corpus_split(docs, "doc_id", weights).collect()}
    assert a == b
    # growth-stable: the same ids keep their split in a larger corpus
    grown = spark.range(40_000).select(F.col("id").alias("doc_id"))
    g = {r.doc_id: r.split for r in corpus_split(grown, "doc_id", weights).collect()}
    assert all(g[k] == v for k, v in a.items())
    # proportions within ~2% absolute of the weights at n=20k
    from collections import Counter

    frac = {k: v / len(a) for k, v in Counter(a.values()).items()}
    for name, w in weights.items():
        assert abs(frac.get(name, 0.0) - w) < 0.02, (name, frac)
    # zero-shuffle plan: the decision is a scan-local projection
    plan = corpus_split(docs, "doc_id", weights)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_corpus_split_rejects_bad_weights(spark):
    import pytest as _pytest

    from pgdedupe_spark.operators.curation import corpus_split

    docs = spark.range(10).select(F.col("id").alias("doc_id"))
    with _pytest.raises(ValueError):
        corpus_split(docs, "doc_id", {"train": 0.5, "val": 0.1})


def test_corpus_shuffle_order_is_seeded_permutation(spark):
    from pgdedupe_spark.operators.curation import corpus_shuffle_order

    docs = spark.range(5_000).select(F.col("id").alias("doc_id"))
    k0 = corpus_shuffle_order(docs, "doc_id", seed=0)
    k1 = corpus_shuffle_order(docs, "doc_id", seed=1)
    o0 = [r.doc_id for r in docs.orderBy(k0).collect()]
    o0b = [r.doc_id for r in docs.orderBy(corpus_shuffle_order(docs, "doc_id", 0)).collect()]
    o1 = [r.doc_id for r in docs.orderBy(k1).collect()]
    assert o0 == o0b            # reproducible for a seed
    assert o0 != o1             # different epoch, different permutation
    assert sorted(o0) == sorted(o1) == list(range(5_000))  # true permutations
    # decorrelated from ingest order: long runs of consecutive ids don't survive
    runs = sum(1 for x, y in zip(o0, o0[1:]) if y == x + 1)
    assert runs < 50


def test_substring_dedup_keep_first_end_to_end(spark):
    """removable_duplicate_spans + strip_spans: exactly one copy of every
    duplicated passage survives, in its earliest document; unaffected
    documents keep their original text byte-for-byte."""
    from pgdedupe_spark.operators.curation import (
        removable_duplicate_spans,
        strip_spans,
    )

    shared = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, f"intro one {shared} ending alpha"),
        (2, f"intro TWO {shared} closing beta"),        # later copy → removable
        (3, "totally unrelated Text! with, punctuation."),
        (4, f"prefix four {shared} finale gamma"),      # another later copy
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = removable_duplicate_spans(df, "doc_id", "text", k=5)
    got_spans = {(r.doc_id, r.span_start, r.span_len) for r in spans.collect()}
    # docs 2 and 4 contain the 10-token shared passage at positions 3..12
    assert got_spans == {(2, 3, 10), (4, 3, 10)}

    out = {r.doc_id: r for r in strip_spans(df, spans, "doc_id", "text").collect()}
    assert out[1].clean_text == rows[0][1]              # earliest copy untouched
    assert out[3].clean_text == rows[2][1]              # no spans → original text
    assert out[1].n_tokens_removed == 0
    assert out[2].clean_text == "intro two closing beta"  # rebuilt from kept tokens
    assert out[4].clean_text == "prefix four finale gamma"
    assert out[2].n_tokens_removed == 10 and out[4].n_tokens_removed == 10

    # idempotence: a second detect pass on the cleaned corpus finds nothing
    clean = strip_spans(df, spans, "doc_id", "text").select(
        "doc_id", F.col("clean_text").alias("text")
    )
    assert removable_duplicate_spans(clean, "doc_id", "text", k=5).count() == 0


def test_strip_spans_empty_spans_is_identity(spark):
    from pgdedupe_spark.operators.curation import strip_spans

    df = spark.createDataFrame(
        [(1, "Keep ALL of this, punctuation too!"), (2, None)],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame([], "doc_id long, span_start int, span_len int")
    out = {r.doc_id: r for r in strip_spans(df, spans, "doc_id", "text").collect()}
    assert out[1].clean_text == "Keep ALL of this, punctuation too!"
    assert out[1].n_tokens_removed == 0
    assert out[2].clean_text is None and out[2].n_tokens_removed == 0


def test_decontaminate_embeddings_lsh_vs_exact(spark):
    """Semantic decontamination: benchmark = every 10th base vector; the
    planted near-duplicates (vec_id % 10 == 1, cosine ≈0.95 to vec_id-1)
    must be flagged by the exact path, and the LSH candidate stage must
    recover ≥0.9 of the exact path's contaminated set while clean rows
    stay clean on both paths."""
    from pgdedupe_spark.corpus import hash_embeddings
    from pgdedupe_spark.operators.curation import decontaminate_embeddings

    emb = hash_embeddings(spark, n_vecs=1000, dim=64)
    bench = emb.filter("vec_id % 10 = 0").withColumnRenamed("vec_id", "bid")
    corpus = emb.filter("vec_id % 10 <> 0")

    def flagged(**kw):
        out = decontaminate_embeddings(
            corpus, bench, "vec_id", "embedding",
            bench_id_col="bid", bench_vec_col="embedding",
            threshold=0.9, **kw,
        )
        rows = out.collect()
        assert len(rows) == corpus.count()  # every corpus row present once
        return {r.vec_id for r in rows if r.contaminated}

    # independent oracle: numpy brute force over the collected vectors
    # (1000×64 — driver-trivial). The planted twins cluster near cosine
    # 0.95 but the per-component jitter is random, so membership at the
    # 0.9 threshold is data-determined — the oracle, not the plant list,
    # defines truth.
    import numpy as np

    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    bench_ids = [i for i in vecs if i % 10 == 0]
    corp_ids = [i for i in vecs if i % 10 != 0]
    B = np.stack([vecs[i] for i in bench_ids])
    C = np.stack([vecs[i] for i in corp_ids])
    sims = (C @ B.T) / (
        np.linalg.norm(C, axis=1)[:, None] * np.linalg.norm(B, axis=1)[None, :]
    )
    want = {cid for row, cid in zip(sims >= 0.9, corp_ids) if row.any()}
    assert want, "fixture drifted: no contaminated rows at threshold 0.9"

    exact = flagged(exact=True)
    assert exact == want, (sorted(exact ^ want)[:10], len(exact), len(want))

    approx = flagged()
    assert len(approx & exact) / len(exact) >= 0.9
    assert approx <= exact                           # verify stage is exact


def test_decontaminate_embeddings_plan_shape(spark):
    """The LSH candidate stage must never cross-product the corpus: the
    executed plan joins bucketed sides on (table, bucket) with the
    benchmark broadcast, and CartesianProduct appears only in the
    explicitly-guarded exact certifier."""
    from pgdedupe_spark.corpus import hash_embeddings
    from pgdedupe_spark.operators.curation import decontaminate_embeddings

    emb = hash_embeddings(spark, n_vecs=200, dim=64)
    bench = emb.filter("vec_id % 10 = 0").withColumnRenamed("vec_id", "bid")
    corpus = emb.filter("vec_id % 10 <> 0")
    out = decontaminate_embeddings(
        corpus, bench, "vec_id", "embedding",
        bench_id_col="bid", bench_vec_col="embedding",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# Line-level boilerplate dedup (new r7)
# ---------------------------------------------------------------------------

from pgdedupe_spark.operators.curation import (  # noqa: E402
    boilerplate_lines,
    strip_boilerplate,
)

_BP_DOCS = [
    # domain A: shared cookie banner + nav line, distinct bodies
    (0, "a", "Accept our cookies\nHome | About | Contact\nalpha body text"),
    (1, "a", "accept OUR cookies\nHome | About | Contact\nbeta body text"),
    (2, "a", "Accept our  cookies\nHome | About | Contact\ngamma body text"),
    # domain B: its own repeated footer; also contains A's banner ONCE
    (3, "b", "delta body\nCopyright 2026\nAccept our cookies"),
    (4, "b", "epsilon body\nCopyright 2026"),
    (5, "b", "zeta body\nCopyright 2026"),
]


def _ref_strip(docs, min_docs):
    import re

    def norm(s):
        return re.sub(r"\s+", " ", s.strip()).lower()

    from collections import defaultdict

    seen = defaultdict(set)
    for i, g, t in docs:
        for ln in t.split("\n"):
            if norm(ln):
                seen[(g, norm(ln))].add(i)
    bl = {k for k, v in seen.items() if len(v) >= min_docs}
    out = {}
    for i, g, t in docs:
        lines = t.split("\n")
        kept = [ln for ln in lines if (g, norm(ln)) not in bl]
        out[i] = ("\n".join(kept), len(lines), len(lines) - len(kept))
    return bl, out


def test_boilerplate_lines_counts_distinct_docs_per_group(spark):
    df = spark.createDataFrame(_BP_DOCS, "doc_id long, source string, text string")
    got = {
        (r.source, r.line): r.n_docs
        for r in boilerplate_lines(df, "doc_id", "text", "source", 3).collect()
    }
    # normalization folds case + internal whitespace; counts are per-domain
    assert got == {
        ("a", "accept our cookies"): 3,
        ("a", "home | about | contact"): 3,
        ("b", "copyright 2026"): 3,
    }


def test_strip_boilerplate_matches_reference_and_respects_groups(spark):
    df = spark.createDataFrame(_BP_DOCS, "doc_id long, source string, text string")
    _, ref = _ref_strip(_BP_DOCS, 3)
    got = {
        r.doc_id: (r.text_clean, r.n_lines, r.n_removed)
        for r in strip_boilerplate(df, "doc_id", "text", "source", 3).collect()
    }
    assert got == ref
    # the group fence concretely: A's banner appears once in doc 3 (domain
    # b) and must SURVIVE there while being stripped from every domain-a doc
    assert "Accept our cookies" in got[3][0]
    assert all("cookies" not in got[i][0] for i in (0, 1, 2))
    # surviving lines keep their original, un-normalized form
    assert got[1][0] == "beta body text"


def test_strip_boilerplate_min_docs_boundary_and_global_mode(spark):
    # banner in exactly 2 docs: kept at min_docs=3, stripped at 2
    docs = [(0, "x\nshared"), (1, "y\nshared"), (2, "z")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    keep = strip_boilerplate(df, "doc_id", "text", min_docs=3)
    assert all(r.n_removed == 0 for r in keep.collect())
    strip = {r.doc_id: r.text_clean for r in strip_boilerplate(df, "doc_id", "text", min_docs=2).collect()}
    assert strip == {0: "x", 1: "y", 2: "z"}


def test_strip_boilerplate_plan_has_no_doc_keyed_shuffle(spark):
    """The scale contract: the DOCUMENT side never shuffles — the
    per-group boilerplate arrays broadcast to it (no SortMergeJoin), so
    docs stay in their input partitions and the removal is codegen array
    ops. Line ROWS shuffle once in the counting layer (that is the count
    aggregate's job) — only the doc frame's own key must never appear in
    an Exchange. No Python anywhere."""
    df = spark.createDataFrame(_BP_DOCS, "doc_id long, source string, text string")
    plan = (
        strip_boilerplate(df, "doc_id", "text", "source", 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "doc_id" not in m.group(1), m.group(0)


def test_strip_boilerplate_refuses_output_column_clash(spark):
    import pytest

    df = spark.createDataFrame(
        [(0, "x", "y")], "doc_id long, text string, text_clean string"
    )
    with pytest.raises(ValueError, match="text_clean"):
        strip_boilerplate(df, "doc_id", "text")


def test_weighted_sample_dominance_and_determinism(spark):
    """A-ES semantics: (a) per-group size bound and 1-based dense ranks,
    (b) two runs identical (hash-uniform, no RNG), (c) weight dominance
    — a row whose weight dwarfs the rest is effectively always kept,
    and zero/negative weights never appear."""
    from pgdedupe_spark.operators.curation import weighted_sample

    rows = [(i, "g", 1.0) for i in range(200)] + [
        (900, "g", 1e9), (901, "g", 0.0), (902, "g", -3.0)
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string, wt double")
    out = weighted_sample(df, "doc_id", "wt", k=10, group_col="grp")
    got = sorted((r.doc_id, r.sample_rank) for r in out.collect())
    assert len(got) == 10
    assert sorted(r for _, r in got) == list(range(1, 11))
    kept = {d for d, _ in got}
    assert 900 in kept  # ln(u)/1e9 ≈ 0 — the heaviest row always wins
    assert 901 not in kept and 902 not in kept
    again = sorted((r.doc_id, r.sample_rank) for r in
                   weighted_sample(df, "doc_id", "wt", k=10, group_col="grp").collect())
    assert again == got
    # different seed draws a different sample (statistically certain here)
    other = {r.doc_id for r in
             weighted_sample(df, "doc_id", "wt", k=10, group_col="grp", seed=1).collect()}
    assert other != kept


def test_weighted_sample_inclusion_tracks_weight(spark):
    """Statistical sanity over many disjoint groups: rows with weight 9
    must be kept far more often than weight-1 rows at k=1 (exact
    expected rate 0.9); pin a generous band, not the exact value."""
    from pgdedupe_spark.operators.curation import weighted_sample

    rows = []
    for g in range(300):  # one heavy + one light row per group, k=1
        rows += [(2 * g, f"g{g}", 9.0), (2 * g + 1, f"g{g}", 1.0)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, wt double")
    out = weighted_sample(df, "doc_id", "wt", k=1, group_col="grp")
    heavy = out.filter(F.col("doc_id") % 2 == 0).count()
    assert out.count() == 300
    assert 0.8 <= heavy / 300 <= 0.97, heavy / 300


def test_weighted_sample_refuses_column_clash(spark):
    import pytest

    from pgdedupe_spark.operators.curation import weighted_sample

    df = spark.createDataFrame([(1, 1.0, 2)], "doc_id long, wt double, sample_rank int")
    with pytest.raises(ValueError, match="sample_rank"):
        weighted_sample(df, "doc_id", "wt", k=1)


def test_strip_boilerplate_regex_special_delimiter(spark):
    """F.split takes a regex: a literal '|' delimiter must not explode
    into per-character splits (quoted via \\Q...\\E in both the count
    and strip passes)."""
    docs = [(0, "keep me|SHARED|one"), (1, "other|SHARED|two"),
            (2, "third|SHARED|three")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bl = {r.line for r in
          boilerplate_lines(df, "doc_id", "text", min_docs=3, delim="|").collect()}
    assert bl == {"shared"}
    out = {r.doc_id: r.text_clean
           for r in strip_boilerplate(df, "doc_id", "text", min_docs=3, delim="|").collect()}
    assert out == {0: "keep me|one", 1: "other|two", 2: "third|three"}


def test_weighted_sample_global_mode_take_ordered(spark):
    """Ungrouped draws must not funnel the corpus through one window
    partition: the global path plans as TakeOrderedAndProject and
    matches the grouped path run on a single synthetic group."""
    from pgdedupe_spark.operators.curation import weighted_sample

    rows = [(i, 1.0 + (i % 7)) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, wt double")
    out = weighted_sample(df, "doc_id", "wt", k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    got = sorted((r.doc_id, r.sample_rank) for r in out.collect())
    grouped = weighted_sample(
        df.withColumn("g", F.lit("all")), "doc_id", "wt", k=5, group_col="g"
    )
    want = sorted((r.doc_id, r.sample_rank) for r in grouped.collect())
    assert got == want


def test_pseudonymize_join_preservation_and_nulls(spark):
    """The operator's reason to exist: the same value under the same
    secret tokenizes identically across frames (joins survive), a
    different secret breaks linkage, and NULL stays NULL."""
    from pgdedupe_spark.operators.curation import pseudonymize

    a = spark.createDataFrame([(1, 10), (2, 20), (3, None)], "k long, uid long")
    b = spark.createDataFrame([(10, "x"), (20, "y"), (30, "z")], "uid long, v string")
    ta = pseudonymize(a, ["uid"], secret="s1")
    tb = pseudonymize(b, ["uid"], secret="s1")
    joined = ta.join(tb, "uid")
    assert sorted(r["k"] for r in joined.collect()) == [1, 2]

    tb2 = pseudonymize(b, ["uid"], secret="OTHER")
    assert ta.join(tb2, "uid").count() == 0

    rows = {r["k"]: r["uid"] for r in ta.collect()}
    assert rows[3] is None
    assert rows[1] is not None and len(rows[1]) == 64  # sha-256 hex

    import pytest

    with pytest.raises(ValueError, match="nope"):
        pseudonymize(a, ["nope"], secret="s")


def test_pseudonymize_is_pure_projection(spark):
    from pgdedupe_spark.operators.curation import pseudonymize

    df = spark.createDataFrame([(1, "a")], "k long, uid string")
    plan = (
        pseudonymize(df, ["uid"], secret="s")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "PythonUDF" not in plan


# ---------------------------------------------------------------------------
# DSIR importance resampling (new r10)
# ---------------------------------------------------------------------------


def test_dsir_weights_favor_target_like_docs(spark):
    """Docs that share vocabulary with the target corpus must out-weigh
    docs that don't: that is the whole DSIR contract."""
    from pgdedupe_spark.operators.curation import dsir_weights

    target = _docs(
        spark,
        [(100 + i, "the quick brown fox jumps over the lazy dog") for i in range(5)],
    )
    raw = _docs(
        spark,
        [
            (1, "the quick brown fox jumps high"),   # target-like
            (2, "quick brown dog and lazy fox"),     # target-like
            (3, "zzz qqq xxx www vvv uuu"),          # alien vocabulary
            (4, "mmm nnn ooo ppp rrr sss"),          # alien vocabulary
        ],
    )
    w = {
        r.doc_id: r.log_weight
        for r in dsir_weights(raw, "doc_id", "text", target).collect()
    }
    assert len(w) == 4
    assert min(w[1], w[2]) > max(w[3], w[4])


def test_dsir_weights_empty_doc_is_zero(spark):
    from pgdedupe_spark.operators.curation import dsir_weights

    target = _docs(spark, [(100, "hello world")])
    raw = _docs(spark, [(1, "hello world"), (2, ""), (3, "!!! ???")])
    rows = {r.doc_id: r for r in dsir_weights(raw, "doc_id", "text", target).collect()}
    assert rows[2].log_weight == 0.0 and rows[2].n_feats == 0
    assert rows[3].log_weight == 0.0 and rows[3].n_feats == 0  # no [a-z0-9] tokens
    assert rows[1].n_feats == 3  # hello, world, "hello world"


def test_dsir_sample_shifts_mass_toward_target(spark, sf_dir):
    """On the documents table with target = the English slice, the top-100
    DSIR draw must be more English than the corpus base rate, ranks must
    be 1..k exactly, and the draw must replay bit-identically (seeded
    hash-uniform, no RNG)."""
    from pgdedupe_spark.operators.curation import dsir_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tgt = docs.filter(F.col("lang") == "en")
    out = dsir_sample(docs, "doc_id", "text", tgt, k=100)
    pdf = out.join(docs.select("doc_id", "lang"), "doc_id").toPandas()
    assert sorted(pdf["sample_rank"]) == list(range(1, len(pdf) + 1))
    n = docs.count()
    base = tgt.count() / n
    drawn = (pdf["lang"] == "en").mean()
    assert drawn > base, (drawn, base)
    replay = dsir_sample(docs, "doc_id", "text", tgt, k=100).toPandas()
    a = pdf[["doc_id", "sample_rank"]].sort_values("sample_rank").values.tolist()
    b = replay[["doc_id", "sample_rank"]].sort_values("sample_rank").values.tolist()
    assert a == b


def test_c4_clean_planted_rules(spark):
    """Each C4 rule trips: unterminated lines drop, short lines drop,
    lorem-ipsum and brace pages drop wholesale, <3 surviving lines drop,
    and a clean 3-line page passes with only its good lines kept."""
    from pgdedupe_spark.operators.curation import c4_clean

    good_line = "this is a perfectly normal sentence with many words."
    pages = [
        (1, "\n".join([good_line] * 3 + ["no terminal punctuation here", "tiny line."])),
        (2, "\n".join([good_line] * 3) + "\nsome lorem ipsum filler."),
        (3, "\n".join([good_line] * 3) + "\ncode { block }."),
        (4, "\n".join([good_line] * 2)),  # only 2 survivors
        (5, None),
    ]
    df = spark.createDataFrame(pages, "page_id long, text string")
    out = {r.page_id: r for r in c4_clean(df, "page_id", "text").collect()}
    assert out[1].keep_doc == 1 and out[1].n_lines_kept == 3
    assert out[1].text_clean == "\n".join([good_line] * 3)  # bad lines stripped
    assert out[2].keep_doc == 0  # lorem ipsum
    assert out[3].keep_doc == 0  # curly brace
    assert out[4].keep_doc == 0 and out[4].n_lines_kept == 2
    assert out[5].keep_doc == 0 and out[5].n_lines_total == 1 and out[5].text_clean == ""


def test_dsir_scoring_job_explodes_corpus_once(spark, sf_dir):
    """The DSIR fit is materialized (bounded ≤num_buckets-row collect, its
    own job); the SCORING plan must therefore contain exactly one corpus
    explode and no recomputed model subtree — left in-plan, Catalyst
    duplicates the rb/tb subtree under the totals crossJoin and a
    join-pushed isnotnull defeats ReuseExchange (five explodes, measured
    r10)."""
    from pyspark.sql import functions as F

    from pgdedupe_spark.operators.curation import dsir_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = dsir_weights(docs, "doc_id", "text", docs.filter(F.col("lang") == "en"))
    w.count()
    plan = w._jdf.queryExecution().executedPlan().toString()
    # the featurization is ONE MapInArrow stage (explode+aggregate folded
    # per doc), so the scoring plan carries exactly one corpus
    # featurization — never the five recomputed subtrees of the
    # unmaterialized r10 shape.
    n_explode = plan.count("Generate explode")
    n_arrow = plan.count("MapInArrow")
    assert (n_explode, n_arrow) == (0, 1), (n_explode, n_arrow)
    assert "PythonUDF" not in plan


def test_dsir_declarative_model_equals_materialized_fit(spark, sf_dir):
    """The public declarative dsir_logratio_table and the materialized
    fit inside dsir_weights must produce bit-identical (bucket, logratio)
    models — same counts, same literal-vs-column double arithmetic."""
    from pyspark.sql import functions as F

    from pgdedupe_spark.operators.curation import (
        dsir_logratio_table,
        hashed_ngram_counts,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tgt = docs.filter(F.col("lang") == "en")
    decl = {
        r["bucket"]: r["logratio"]
        for r in dsir_logratio_table(docs, tgt, "doc_id", "text").collect()
    }
    # replicate the materialized path: collected dim -> literal totals
    feats = hashed_ngram_counts(docs, "doc_id", "text")
    tfeats = hashed_ngram_counts(tgt, "doc_id", "text")
    rb = feats.groupBy("bucket").agg(F.sum("c").alias("cr"))
    tb = tfeats.groupBy("bucket").agg(F.sum("c").alias("ct"))
    rows = (
        rb.join(tb, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("cr", F.lit(0)).alias("cr"),
            F.coalesce("ct", F.lit(0)).alias("ct"),
        )
        .collect()
    )
    tr = sum(r["cr"] for r in rows)
    tt = sum(r["ct"] for r in rows)
    local = spark.createDataFrame(
        [(r["bucket"], r["cr"], r["ct"]) for r in rows], "bucket long, cr long, ct long"
    )
    lr = (
        F.log((F.col("ct") + F.lit(1.0)) / (F.lit(float(tt)) + F.lit(4096.0)))
        - F.log((F.col("cr") + F.lit(1.0)) / (F.lit(float(tr)) + F.lit(4096.0)))
    )
    mat = {
        r["bucket"]: r["logratio"]
        for r in local.select(
            "bucket", F.round(lr, 12).cast("decimal(28,12)").alias("logratio")
        ).collect()
    }
    assert decl == mat


def test_temperature_quotas_largest_remainder_hand_check(spark):
    """n=[4,4,1], k=5, tau=1: weights 4e6/4e6/1e6, bases [2,2,0],
    remainders [2e6,2e6,5e6] → the leftover seat goes to the small group.
    Quotas always sum to exactly k."""
    from pgdedupe_spark.operators.curation import temperature_quotas

    rows = [("a", i) for i in range(4)] + [("b", i) for i in range(4)] + [("c", 0)]
    df = spark.createDataFrame(rows, "src string, doc_id int")
    q = {r["src"]: r for r in temperature_quotas(df, "src", k=5, tau=1.0).collect()}
    assert q["a"]["quota"] == 2 and q["b"]["quota"] == 2 and q["c"]["quota"] == 1
    assert sum(r["quota"] for r in q.values()) == 5
    assert q["a"]["w_scaled"] == 4_000_000 and q["c"]["w_scaled"] == 1_000_000


def test_temperature_flattens_toward_uniform(spark):
    """[100,1,1] groups: tau=1 gives the big group nearly everything;
    tau=2 shifts mass to the small groups; huge tau ≈ uniform."""
    from pgdedupe_spark.operators.curation import temperature_quotas

    rows = (
        [("big", i) for i in range(100)]
        + [("s1", i) for i in range(1)]
        + [("s2", i) for i in range(1)]
    )
    df = spark.createDataFrame(rows, "src string, doc_id int")

    def quotas(tau):
        return {
            r["src"]: r["quota"]
            for r in temperature_quotas(df, "src", k=30, tau=tau).collect()
        }

    q1, q2, qinf = quotas(1.0), quotas(2.0), quotas(100.0)
    for q in (q1, q2, qinf):
        assert sum(q.values()) == 30
    assert q1["big"] > q2["big"] > qinf["big"]
    assert q2["s1"] >= 1  # sqrt temper keeps low-resource groups alive
    assert abs(qinf["big"] - qinf["s1"]) <= 1  # ~uniform at huge tau


def test_temperature_sample_respects_quotas_and_determinism(spark):
    from pgdedupe_spark.operators.curation import (
        temperature_quotas,
        temperature_sample,
    )

    rows = (
        [("big", i) for i in range(60)]
        + [("mid", i) for i in range(20)]
        + [("tiny", i) for i in range(2)]
    )
    df = spark.createDataFrame(rows, "src string, doc_id int")
    out = temperature_sample(df, "src", "doc_id", k=24, tau=2.0).collect()
    quotas = {
        r["src"]: r["quota"]
        for r in temperature_quotas(df, "src", k=24, tau=2.0).collect()
    }
    sizes = {"big": 60, "mid": 20, "tiny": 2}
    by_src = {}
    for r in out:
        by_src.setdefault(r["src"], []).append(r)
    for src, members in by_src.items():
        assert len(members) == min(quotas[src], sizes[src]), (src, quotas)
        assert all(r["quota"] == quotas[src] for r in members)
        assert sorted(r["sample_rank"] for r in members) == list(
            range(1, len(members) + 1)
        )
    again = temperature_sample(df, "src", "doc_id", k=24, tau=2.0).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_curation_scale_probe_self_checks(spark):
    """Same code path as the bench heavy tier, at the sf0.001 floor: the
    gopher-full counts must scale exactly x10 and the ccnet tercile sizes
    must equal the closed-form NTILE split of 10n (NOT 10x the base tier
    sizes — n mod 3 != 0 redistributes the remainder; the probe's first
    run caught that)."""
    from pgdedupe_spark import registry

    row = registry.QUERIES["curation_scale_probe"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert row["gopher_exact_10x"] is True
    assert row["ccnet_tiers_exact_10x"] is True


def test_leakage_safe_split_clusters_never_straddle(spark):
    """Near-duplicates land on the same side; singletons get exactly the
    plain corpus_split assignment (same salt ⇒ same hash interval)."""
    from pgdedupe_spark.operators.curation import corpus_split, leakage_safe_split

    rows = []
    # 10 near-dup clusters of 3 (one-char perturbations) with DISJOINT
    # vocabularies so clusters can't merge, 20 singletons
    for c in range(10):
        t = " ".join(f"c{c}w{k}token{(c * 7 + k) % 13}" for k in range(20)) * 2
        rows += [(c * 10 + j, t + "x" * j) for j in range(3)]
    for s in range(20):
        # char-shingle-disjoint: varied words, no repeated token blocks
        rows.append(
            (1000 + s, " ".join(f"z{s}q{k}m{(s * 31 + k * 7) % 97}" for k in range(25)))
        )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = leakage_safe_split(df, "doc_id", "text", w).collect()
    assert len(out) == len(rows)
    by_key = {}
    for r in out:
        by_key.setdefault(r["split_key"], set()).add(r["split"])
    assert all(len(v) == 1 for v in by_key.values())
    # the 3 members of each planted cluster share one key and one split
    got = {r["doc_id"]: r for r in out}
    for c in range(10):
        keys = {got[c * 10 + j]["split_key"] for j in range(3)}
        assert len(keys) == 1, (c, keys)
        assert keys == {c * 10}  # min-id representative
    # singletons == plain corpus_split
    plain = {
        r["doc_id"]: r["split"]
        for r in corpus_split(df, "doc_id", w).collect()
    }
    for s in range(20):
        assert got[1000 + s]["split"] == plain[1000 + s]
    # determinism
    again = leakage_safe_split(df, "doc_id", "text", w).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_temperature_quotas_decimal_survives_bigint_overflow(spark):
    """ADVICE r10: k·w_scaled rides DECIMAL(38,0) — with BIGINT the
    product wraps silently (ANSI off) once it exceeds 2^63. k=1e15 over
    groups [4,4,1] at tau=1 puts k·w at 4e21; the quotas must still be
    the exact largest-remainder apportionment and sum to exactly k."""
    from pgdedupe_spark.operators.curation import temperature_quotas

    rows = [("a", i) for i in range(4)] + [("b", i) for i in range(4)] + [("c", 0)]
    df = spark.createDataFrame(rows, "src string, doc_id int")
    k = 10**15
    got = {r["src"]: r for r in temperature_quotas(df, "src", k=k, tau=1.0).collect()}

    # replay the apportionment in exact Python ints
    w = {"a": 4_000_000, "b": 4_000_000, "c": 1_000_000}
    assert all(got[g]["w_scaled"] == v for g, v in w.items())
    wsum = sum(w.values())
    base = {g: (k * v) // wsum for g, v in w.items()}
    rem = {g: (k * v) % wsum for g, v in w.items()}
    assert any(k * v > 2**63 for v in w.values())  # the overflow regime
    left = k - sum(base.values())
    order = sorted(w, key=lambda g: (-rem[g], g))
    expect = {g: base[g] + (1 if i < left else 0) for i, g in enumerate(order)}
    assert {g: got[g]["quota"] for g in w} == expect
    assert sum(r["quota"] for r in got.values()) == k


def test_temperature_sample_quotas_sidecar_identical_one_scan(spark):
    """Production one-scan path (VERDICT r10 #2): passing a precomputed
    quotas= frame leaves the member draw as the ONLY corpus pass, and the
    sample is row-identical to the declarative 5-scan form."""
    import re

    from pgdedupe_spark.operators.curation import (
        temperature_quotas,
        temperature_sample,
    )
    from pgdedupe_spark.plans import explain_str

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    decl = temperature_sample(df, "source", "doc_id", k=100, tau=2.0)
    quotas = temperature_quotas(df, "source", k=100, tau=2.0).localCheckpoint(
        eager=True  # stands in for the written G-row sidecar
    )
    served = temperature_sample(df, "source", "doc_id", k=100, tau=2.0, quotas=quotas)
    assert sorted(map(tuple, served.collect())) == sorted(map(tuple, decl.collect()))

    def scans(d):
        return len(set(re.findall(r"\((\d+)\) Scan parquet", explain_str(d))))

    assert scans(served) == 1, explain_str(served)
    assert scans(decl) > 1  # the shape the sidecar exists to avoid


def test_dedup_scale_probe_self_checks(spark):
    """Same code path as the bench heavy tier, at the sf0.001 floor: the
    MinHash bucket census must scale exactly x10 and the distinct
    candidate pairs must equal 100*p_base + 45*n_sig (the same-text
    cross-replica term is the part a naive x100 story misses)."""
    from pgdedupe_spark import registry

    row = registry.QUERIES["dedup_scale_probe"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert row["buckets_exact_10x"] is True
    assert row["pairs_closed_form_exact"] is True
    assert row["scaled_pairs"] > row["base_pairs"]


def test_llm_prep_materialized_identical_and_fewer_scans(spark):
    """The stage-boundary materialization path for the 16-scan composite
    (PLANS.md): llm_prep(materialize=True) checkpoints the survivor
    frame between dedup and DSIR selection — output bit-identical, the
    selection stage's corpus re-derivations gone."""
    import re

    from pgdedupe_spark.operators.curation import llm_prep
    from pgdedupe_spark.plans import explain_str

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    recrawl = docs.filter(F.col("source") == "src0").withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    corpus = docs.unionByName(recrawl)
    kw = dict(target=F.col("lang") == "en", k=50, chars_col="n_chars")
    decl = llm_prep(corpus, "doc_id", "text", **kw)
    mat = llm_prep(corpus, "doc_id", "text", materialize=True, **kw)
    assert sorted(map(tuple, mat.collect())) == sorted(map(tuple, decl.collect()))

    def scans(d):
        return len(set(re.findall(r"\((\d+)\) Scan parquet", explain_str(d))))

    assert scans(mat) < scans(decl), (scans(mat), scans(decl))
    assert scans(mat) <= 2  # the materialized survivors replace the subtree


def test_token_budget_epochs_water_filling_hand_check(spark):
    """big=10000/mid=2000/tiny=200 tokens at tau=3, budget 20000, cap 4
    epochs: tiny caps at 800; the remaining 19200 splits over big/mid by
    exact largest remainder on the tempered weights — replayed here in
    exact Python ints. Totals always equal the budget when any group is
    uncapped; the all-capped case surfaces the shortfall instead."""
    import math

    from pgdedupe_spark.operators.curation import token_budget_epochs

    rows = (
        [("big", i, 100) for i in range(100)]
        + [("mid", i, 100) for i in range(20)]
        + [("tiny", i, 100) for i in range(2)]
    )
    df = spark.createDataFrame(rows, "src string, doc_id int, n_tok int")
    out = {r.src: r for r in token_budget_epochs(
        df, "src", "n_tok", budget=20000, max_epochs=4, tau=3.0).collect()}
    assert out["tiny"].capped == 1 and out["tiny"].tokens_alloc == 800
    w = {g: int(math.floor((n ** (1 / 3.0)) * 1e6 + 0.5))
         for g, n in (("big", 10000), ("mid", 2000))}
    r_ = 20000 - 800
    wsum = sum(w.values())
    base = {g: (r_ * v) // wsum for g, v in w.items()}
    rem = {g: (r_ * v) % wsum for g, v in w.items()}
    left = r_ - sum(base.values())
    order = sorted(w, key=lambda g: (-rem[g], g))
    want = {g: base[g] + (1 if i < left else 0) for i, g in enumerate(order)}
    for g in ("big", "mid"):
        assert out[g].capped == 0 and out[g].tokens_alloc == want[g], g
    assert sum(r.tokens_alloc for r in out.values()) == 20000
    assert abs(out["tiny"].epochs - 4.0) < 1e-12

    # all-capped: budget exceeds 4x the corpus — shortfall visible
    full = token_budget_epochs(df, "src", "n_tok", budget=10**9, max_epochs=4).collect()
    assert all(r.capped == 1 for r in full)
    assert sum(r.tokens_alloc for r in full) == 4 * 12200


def test_token_budget_epochs_single_pass_and_determinism(spark):
    """The corpus is read exactly once (the checkpointed G-row token-sum
    aggregate) — the returned plan carries ZERO parquet scans; and the
    allocation is bit-stable across runs."""
    import re

    from pgdedupe_spark.operators.curation import token_budget_epochs
    from pgdedupe_spark.plans import explain_str

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = token_budget_epochs(df, "source", "n_chars", budget=550_000, tau=8.0)
    assert not re.findall(r"\(\d+\) Scan parquet", explain_str(out)), explain_str(out)
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, token_budget_epochs(
        df, "source", "n_chars", budget=550_000, tau=8.0).collect()))
    assert a == b


def test_token_budget_epochs_decimal_survives_bigint_overflow(spark):
    """VERDICT r11 #6: w_scaled = floor(n^(1/tau)·1e6) used to cast to
    LONG, so a single group above ~9e12 tokens at tau=1 errored loudly
    under ANSI. The DECIMAL(38,0) ride-through must allocate exactly:
    with tau=1 the weights are proportional to token counts, so the
    uncapped split is ∝ n_g, checked in exact Python ints."""
    from pgdedupe_spark.operators.curation import token_budget_epochs

    # 10^13-token group → w_scaled = 10^19 > LONG max (both counts exact
    # doubles, so the pow/quantize path is bit-predictable)
    rows = [("huge", 10_000_000_000_000), ("small", 2_500_000_000_000)]
    df = spark.createDataFrame(rows, "src string, n_tok long")
    budget = 1_000_000
    out = {r.src: r for r in token_budget_epochs(
        df, "src", "n_tok", budget=budget, max_epochs=4, tau=1.0).collect()}
    w = {"huge": 10_000_000_000_000 * 10**6, "small": 2_500_000_000_000 * 10**6}
    assert int(out["huge"].w_scaled) == w["huge"]  # 10^19: over the LONG ceiling
    wsum = sum(w.values())
    base = {g: (budget * v) // wsum for g, v in w.items()}
    rem = {g: (budget * v) % wsum for g, v in w.items()}
    left = budget - sum(base.values())
    order = sorted(w, key=lambda g: (-rem[g], g))
    want = {g: base[g] + (1 if i < left else 0) for i, g in enumerate(order)}
    for g in w:
        assert out[g].capped == 0
        assert out[g].tokens_alloc == want[g], (g, out[g].tokens_alloc, want[g])
    assert sum(r.tokens_alloc for r in out.values()) == budget


def test_token_budget_epochs_drops_zero_token_groups(spark):
    """ADVICE r11: a group whose token sum is 0 used to ride through as
    fill ratio 0/0 = NaN and leak epochs = NaN. Zero-token groups are
    now dropped at the aggregate; the survivors' allocation is
    unchanged and NaN-free."""
    import math

    from pgdedupe_spark.operators.curation import token_budget_epochs

    rows = [("a", 1000), ("a", 1000), ("b", 500), ("empty", 0), ("empty", 0)]
    df = spark.createDataFrame(rows, "src string, n_tok long")
    out = token_budget_epochs(df, "src", "n_tok", budget=3000, max_epochs=4).collect()
    assert {r.src for r in out} == {"a", "b"}
    assert all(not math.isnan(r.epochs) for r in out)
    no_empty = token_budget_epochs(
        df.filter("src <> 'empty'"), "src", "n_tok", budget=3000, max_epochs=4
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, no_empty))


def test_llm_prep_generic_id_and_default_chars(spark):
    """Review r11 regressions: (a) a non-doc_id id column must work end
    to end (the gate helper used to hard-code doc_id); (b) the default
    chars path (no chars_col) must not overflow INT arithmetic in the
    longest-wins tie-break — and must actually pick the LONGER text."""
    from pgdedupe_spark.operators.curation import llm_prep

    base = " ".join(f"tok{i} word{i} item{i}" for i in range(20))  # 60 words
    rows = [
        (1, base, "en"),
        (2, base + "  ", "en"),  # same normalized text, longer raw — wins
        (3, base + " extra trailing words here now", "en"),
    ]
    df = spark.createDataFrame(rows, "rec_id long, body string, lg string")
    out = llm_prep(df, "rec_id", "body", target=F.col("lg") == "en", k=10)
    ids = {r.rec_id for r in out.collect()}
    assert 1 not in ids  # shorter duplicate lost the canonical pick
    assert 2 in ids and 3 in ids


def test_llm_prep_tiebreak_survives_huge_and_negative_ids(spark):
    """ADVICE r11: the longest-wins tie-break used the arithmetic key
    chars·1e9 + id, which silently assumed 0 <= id < 1e9 — an id at or
    above 1e9 (or negative) could let a SHORTER duplicate win the
    canonical pick. The struct-ordered max_by must pick the longer text
    regardless of id magnitude or sign, and break exact-length ties by
    the larger id."""
    from pgdedupe_spark.operators.curation import llm_prep

    base = " ".join(f"tok{i} word{i} item{i}" for i in range(20))
    b2 = base + " q unique"
    b3 = base + " tie"
    rows = [
        # group 1 (same normalized text, raw differs by padding): the
        # SHORT raw carries a HUGE id, the LONG raw a tiny id. Under the
        # old key, chars·1e9 + 5e18 beats (chars+3)·1e9 + 1 — the
        # shorter duplicate won. Struct ordering picks the longer.
        (5_000_000_000_000_000_000, base, "en"),
        (1, base + "   ", "en"),
        # group 2: negative id on the longer raw must still win
        (7, b2, "en"),
        (-3, b2 + "  ", "en"),
        # group 3: exact tie on raw length → larger id wins
        (10, b3, "en"),
        (11, b3, "en"),
    ]
    df = spark.createDataFrame(rows, "rec_id long, body string, lg string")
    out = llm_prep(df, "rec_id", "body", target=F.col("lg") == "en", k=10)
    ids = {r.rec_id for r in out.collect()}
    assert 5_000_000_000_000_000_000 not in ids and 1 in ids
    assert 7 not in ids and -3 in ids
    assert 10 not in ids and 11 in ids


def test_release_materialized_frees_checkpoints(spark):
    """materialize=True operators attach their eager checkpoints to the
    result; release_materialized() must actually free the RDD blocks
    (SCALE.md rule 7 — they outlive unpersist and leak per call)."""
    from pgdedupe_spark.operators.curation import llm_prep, release_materialized
    from pgdedupe_spark.operators.text import ccnet_buckets

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = llm_prep(
        df, "doc_id", "text", target=F.col("lang") == "en", k=10,
        chars_col="n_chars", materialize=True,
    )
    out.collect()
    assert out._materialized_checkpoints
    release_materialized(out)
    assert not out._materialized_checkpoints
    cc = ccnet_buckets(df, "doc_id", "text", lang_col="lang", materialize=True)
    cc.collect()
    assert cc._materialized_checkpoints
    release_materialized(cc)
    assert not cc._materialized_checkpoints


def test_llm_prep_scale_probe_self_checks(spark):
    """The end-to-end LLM-prep composition probe's exact self-checks at
    sf0.001 (same code path as the bench tier): selection count is
    scale-INVARIANT under verbatim ×10 replication (dedup collapses
    replicas to one canonical survivor per normalized text), the splits
    partition the selected set, the token budget conserves, and pack
    sizing is exact."""
    from pgdedupe_spark.registry import QUERIES

    row = QUERIES["llm_prep_scale_probe"](spark, "/root/testdata/sf0.001").collect()[0]
    assert row.selection_scale_invariant, (row.base_selected, row.scaled_selected)
    assert row.splits_partition_exact
    assert row.budget_conserved
    assert row.packs_exact
    assert row.base_selected > 0
