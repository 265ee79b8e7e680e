"""Gopher repetition battery (curation.gopher_repetition): brute-force
reference parity, hand-checked values, threshold flag matrix, union (not
sum) semantics on overlapping duplicated n-grams, and the zero-shuffle
plan pin. Reference semantics: Rae et al. 2021 table A1."""

from __future__ import annotations

import random
import re
from collections import Counter

import pytest

from pgdedupe_spark.operators.curation import (
    _GOPHER_DUP_PCT,
    _GOPHER_TOP_PCT,
    gopher_repetition,
)

TOP_NS = (2, 3, 4)
DUP_NS = (5, 10)


def _run_stats(items):
    c = Counter(items)
    total = len(items)
    chars = sum(len(x) for x in items)
    dup_n = sum(v for v in c.values() if v >= 2)
    dup_c = sum(v * len(k) for k, v in c.items() if v >= 2)
    return total, chars, dup_n, dup_c


def ref_repetition(doc_id, text):
    """Independent first-principles reference for one document."""
    t = text or ""
    lines = [x.strip() for x in t.split("\n") if x.strip()]
    paras = [x.strip() for x in re.split("\n{2,}", t) if x.strip()]
    w = re.findall("[a-z0-9]+", t.lower())
    out = {"doc_id": doc_id}
    (
        out["n_lines"],
        out["line_chars"],
        out["dup_line_n"],
        out["dup_line_char_n"],
    ) = (lambda s: (s[0], s[1], s[2], s[3]))(_run_stats(lines))
    (
        out["n_paras"],
        out["para_chars"],
        out["dup_para_n"],
        out["dup_para_char_n"],
    ) = (lambda s: (s[0], s[1], s[2], s[3]))(_run_stats(paras))
    out["n_tokens"] = len(w)
    out["token_chars"] = sum(len(x) for x in w)
    for n in TOP_NS:
        grams = [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]
        if not grams:
            out[f"top{n}_char_n"] = 0
        else:
            c = Counter(grams)
            mc = max(c.values())
            out[f"top{n}_char_n"] = max(
                v * (len(g) - (n - 1)) for g, v in c.items() if v == mc
            )
    for n in DUP_NS:
        grams = [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]
        c = Counter(grams)
        covered: set[int] = set()
        for i, g in enumerate(grams):
            if c[g] >= 2:
                covered |= set(range(i, i + n))
        out[f"dup{n}_char_n"] = sum(len(w[j]) for j in covered)
    out["keep_dup_line"] = int(out["dup_line_n"] * 10 <= out["n_lines"] * 3)
    out["keep_dup_para"] = int(out["dup_para_n"] * 10 <= out["n_paras"] * 3)
    out["keep_dup_line_char"] = int(out["dup_line_char_n"] * 5 <= out["line_chars"])
    out["keep_dup_para_char"] = int(out["dup_para_char_n"] * 5 <= out["para_chars"])
    for n in TOP_NS:
        out[f"keep_top{n}"] = int(
            out[f"top{n}_char_n"] * 100 <= out["token_chars"] * _GOPHER_TOP_PCT[n]
        )
    for n in DUP_NS:
        out[f"keep_dup{n}"] = int(
            out[f"dup{n}_char_n"] * 100 <= out["token_chars"] * _GOPHER_DUP_PCT[n]
        )
    flags = (
        ["keep_dup_line", "keep_dup_para", "keep_dup_line_char", "keep_dup_para_char"]
        + [f"keep_top{n}" for n in TOP_NS]
        + [f"keep_dup{n}" for n in DUP_NS]
    )
    out["repetition_keep"] = int(all(out[k] for k in flags))
    return out


def _random_docs():
    """Deterministic corpus mixing duplicate lines/paragraphs, repeated
    phrases, and degenerate shapes."""
    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "k9", "x", "yy"]
    docs = []
    for i in range(40):
        n_lines = rng.randint(0, 8)
        lines = []
        for _ in range(n_lines):
            n_tok = rng.randint(1, 12)
            words = [rng.choice(vocab) for _ in range(n_tok)]
            if rng.random() < 0.4 and len(words) >= 4:
                # plant a repeated phrase inside the line
                words += words[:4]
            lines.append(" ".join(words))
        if lines and rng.random() < 0.5:
            lines.append(rng.choice(lines))  # duplicate line
        sep = "\n\n" if rng.random() < 0.5 else "\n"
        text = sep.join(lines)
        if rng.random() < 0.3 and lines:
            text = text + "\n\n" + lines[0]  # extra paragraph
        docs.append((i, text))
    docs.append((100, ""))
    docs.append((101, None))
    docs.append((102, "a a a a a a"))
    docs.append((103, "x1 x2 x3 x4 x5 x1 x2 x3 x4 x5"))
    docs.append((104, "Hello world.\nHello world.\nUnique line."))
    return docs


def test_matches_brute_force_reference(spark):
    docs = _random_docs()
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_repetition(
            df, "doc_id", "text", top_ns=TOP_NS, dup_ns=DUP_NS
        ).collect()
    }
    assert len(got) == len(docs)
    for doc_id, text in docs:
        exp = ref_repetition(doc_id, text)
        assert got[doc_id] == exp, (doc_id, text, got[doc_id], exp)


def test_overlap_union_not_sum(spark):
    """'a a a a a a': both 5-grams are duplicated and overlap on 4 tokens;
    the union covers 6 chars, a naive per-gram sum would claim 10."""
    df = spark.createDataFrame([(1, "a a a a a a")], "doc_id int, text string")
    row = gopher_repetition(df, "doc_id", "text", dup_ns=(5,)).collect()[0]
    assert row["dup5_char_n"] == 6
    # disjoint repeat: both occurrences of the 5-gram fully covered
    df2 = spark.createDataFrame(
        [(1, "x1 x2 x3 x4 x5 x1 x2 x3 x4 x5")], "doc_id int, text string"
    )
    row2 = gopher_repetition(df2, "doc_id", "text", dup_ns=(5,)).collect()[0]
    assert row2["dup5_char_n"] == 20 and row2["keep_dup5"] == 0


def test_each_rule_trips_on_a_planted_doc(spark):
    """One document per rule engineered to fail exactly that family."""
    # every token unique → zero repeated n-grams, no duplicate lines
    filler = "\n".join(
        " ".join(f"w{i}x{j}" for j in range(11)) + "." for i in range(20)
    )
    docs = [
        # >30% duplicate lines (and >20% duplicate line chars)
        (1, "\n".join(["same line content here"] * 4 + [filler.split("\n")[0]])),
        # >30% duplicate paragraphs
        (2, "\n\n".join(["para one is here"] * 3 + ["another para entirely"])),
        # top-2-gram heavy
        (3, " ".join(["hot pair"] * 30)),
        # duplicated 5-grams heavy
        (4, " ".join(["q1 q2 q3 q4 q5"] * 6)),
        # clean control
        (5, filler),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_repetition(
            df, "doc_id", "text", top_ns=TOP_NS, dup_ns=DUP_NS
        ).collect()
    }
    assert got[1]["keep_dup_line"] == 0 and got[1]["keep_dup_line_char"] == 0
    assert got[2]["keep_dup_para"] == 0 and got[2]["keep_dup_para_char"] == 0
    assert got[3]["keep_top2"] == 0
    assert got[4]["keep_dup5"] == 0
    assert got[5]["repetition_keep"] == 1, got[5]


def test_zero_shuffle_plan(spark):
    """The whole battery stays one scan-local pipeline: projections plus
    exactly one MapInArrow stage for the gram stats — no Exchange, no
    join, no Python UDF anywhere in the physical plan."""
    df = spark.range(10).selectExpr(
        "id AS doc_id", "concat('w', id, ' w w w w w w') AS text"
    )
    plan = (
        gopher_repetition(df, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "PythonUDF" not in plan, plan


def test_arrow_plan_single_stage_no_shuffle(spark):
    """The gram stats for every requested n run in exactly one MapInArrow
    stage over the scan, whatever top_ns / dup_ns are asked for — no extra
    Python stage per n, no Exchange, no Join."""
    df = spark.range(10).selectExpr(
        "id AS doc_id", "concat('w', id, ' w w w w w w') AS text"
    )
    for top_ns, dup_ns in [((2,), (5,)), (TOP_NS, DUP_NS), ((2, 3, 4), (5, 6, 7, 8, 9, 10))]:
        plan = (
            gopher_repetition(df, "doc_id", "text", top_ns=top_ns, dup_ns=dup_ns)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("MapInArrow") == 1, (top_ns, dup_ns, plan)
        assert "Exchange" not in plan and "Join" not in plan, plan


def test_undefined_threshold_rejected(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    with pytest.raises(ValueError):
        gopher_repetition(df, "doc_id", "text", top_ns=(7,))
    with pytest.raises(ValueError):
        gopher_repetition(df, "doc_id", "text", dup_ns=(3,))
