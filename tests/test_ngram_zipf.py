"""The ngram-Jaccard ARRAY path (the 100 TB regime) on a NON-degenerate
Zipfian-vocabulary corpus — VERDICT r1 watch item (a).

Pins three things the degenerate driver corpus never exercised:
1. the vocabulary-size switch actually selects the sorted-int-array
   verify (vocab above the bitmap cutover);
2. the AllPairs prefix + length + PPJoin positional filters PRUNE in
   their design regime (high threshold): candidates are a ≤2% fraction
   of the n(n-1)/2 pair space at t=0.8 (measured 0.36% at n=500);
3. the result is EXACT — identical pair set and Jaccard values vs a
   Python brute force over the collected corpus, at both thresholds.

Measured context (kept for the record): at t=0.6 the prefix covers the
rarest 40% of each doc's shingles and hot-token boundary shingles make
pruning corpus-bound (~6× on this corpus) — that is inherent to exact
AllPairs on natural-ish text, and why the declared 100 TB path fronts
this verifier with MinHash-LSH candidates.
"""

from __future__ import annotations

import pytest

from pgdedupe_spark.corpus import zipf_corpus
from pgdedupe_spark.operators.dedup import (
    _BITMAP_MAX_VOCAB,
    _ngram_docs_and_candidates,
    ngram_jaccard_pairs,
)

N_DOCS, DOC_LEN, VOCAB, DUP_EVERY, MUTATE_PCT = 500, 60, 100_000, 5, 5
N = 5
PLANTED = {(d - 1, d) for d in range(1, N_DOCS) if d % DUP_EVERY == 1}


def _shingles(text: str) -> frozenset[str]:
    # mirror char_shingles: distinct n-grams, whole string when shorter
    if len(text) < N:
        return frozenset([text])
    return frozenset(text[i : i + N] for i in range(len(text) - N + 1))


@pytest.fixture(scope="module")
def corpus(spark):
    df = zipf_corpus(
        spark,
        n_docs=N_DOCS,
        doc_len=DOC_LEN,
        vocab=VOCAB,
        dup_every=DUP_EVERY,
        mutate_pct=MUTATE_PCT,
    ).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def brute_force(corpus):
    """(id1, id2) -> jaccard for every pair with J >= 0.5."""
    rows = corpus.collect()
    sets = {r.doc_id: _shingles(r.text) for r in rows}
    ids = sorted(sets)
    out = {}
    for i, id1 in enumerate(ids):
        s1 = sets[id1]
        for id2 in ids[i + 1 :]:
            s2 = sets[id2]
            inter = len(s1 & s2)
            j = inter / (len(s1) + len(s2) - inter)
            if j >= 0.5:
                out[(id1, id2)] = j
    return out


def test_auto_selects_array_strategy_and_prefix_filter_prunes(corpus):
    docs, cands, use_bitmap = _ngram_docs_and_candidates(
        corpus, "doc_id", "text", N, 0.8
    )
    assert not use_bitmap, (
        f"Zipfian corpus must exceed the bitmap cutover ({_BITMAP_MAX_VOCAB})"
    )
    n_cands = cands.count()
    total_pairs = N_DOCS * (N_DOCS - 1) // 2
    # design regime (t=0.8): candidates ≪ n², yet no true pair lost
    assert n_cands <= 0.02 * total_pairs, (
        f"prefix filter did not prune: {n_cands} candidates of {total_pairs} pairs"
    )
    assert n_cands >= len(PLANTED) * 0.8


@pytest.mark.parametrize("threshold", [0.6, 0.8])
def test_array_path_matches_brute_force(corpus, brute_force, threshold):
    got = {
        (r.id1, r.id2): r.jaccard
        for r in ngram_jaccard_pairs(
            corpus, "doc_id", "text", n=N, threshold=threshold
        ).collect()
    }
    expected = {p: j for p, j in brute_force.items() if j >= threshold}
    assert set(got) == set(expected)
    for pair, j in expected.items():
        assert got[pair] == pytest.approx(j, abs=1e-12)
    # planted near-dups (5% token mutation → shingle J ≈ 0.85+) are found
    assert len(PLANTED & set(got)) >= 0.8 * len(PLANTED)
