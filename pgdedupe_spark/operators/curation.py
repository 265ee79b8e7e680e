"""Training-data curation operators: decontamination, repetition signals,
PII redaction, quota (balance) sampling, and embedding-centroid analytics.

These extend the reference's dedup pipeline (dssg/pgdedupe, run.py:62-99's
collapse + dedupe-library matching) with the curation stages a large-scale
LLM training-data pipeline runs between ingest and tokenization. Everything
is pure DataFrame expressions (JVM codegen, no Python UDFs); every operator
has a DuckDB-checkable oracle in the registry.

Scale design (100 TB):
* decontamination — the benchmark side is bounded (eval suites are tiny
  relative to a corpus), so the n-gram membership join's small side stays
  broadcastable; we leave the choice to AQE rather than forcing broadcast
  on a data-dependent frame. Corpus side is one explode + one hash agg
  keyed by doc id (map-side combine applies).
* repetition signals — per-doc expressions + one explode/agg pair keyed by
  doc id; no global state, embarrassingly parallel.
* PII redaction — pure per-row regexp expressions inside codegen.
* quota sampling — per-group window sort; groups (languages/sources) are
  few but large, so at extreme scale pre-filter by hash-threshold (quota/n
  quantile of the hash) before the exact window to avoid sorting whole
  groups. The hash order is md5-based and engine-portable.
* centroids — k sum-aggregates over quantized longs (exact integer sums ⇒
  order-independent, deterministic); one shuffle keyed by label.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pgdedupe_spark.operators.dedup import word_tokens


def word_ngrams(col: Column, n: int) -> Column:
    """Distinct space-joined word n-grams of lowercased [a-z0-9]+ tokens;
    empty array when the text has fewer than n tokens. Matches the DuckDB
    oracle definition (generate_series + list slice) exactly."""
    w = word_tokens(col)
    return F.when(
        F.size(w) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(w, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_pct: int = 20,
) -> DataFrame:
    """Flag corpus documents whose word-n-gram overlap with a benchmark set
    exceeds ``threshold_pct`` percent — the GPT-3-style n-gram
    decontamination check, phrased as one explode + membership join + agg.

    The threshold compare is exact integer arithmetic
    (100*hits >= pct*ngrams): no float in the contract. Documents with
    fewer than n tokens have zero n-grams and are kept (never flagged).
    """
    bench_ng = (
        benchmark.select(F.explode(word_ngrams(F.col(text_col), n)).alias("ng")).distinct()
    )
    corpus_ng = corpus.select(
        F.col(id_col), F.explode_outer(word_ngrams(F.col(text_col), n)).alias("ng")
    )
    hits = corpus_ng.join(bench_ng.withColumn("_hit", F.lit(1)), "ng", "left")
    return (
        hits.groupBy(id_col)
        .agg(
            F.count("ng").alias("n_ngrams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_hits"),
        )
        .withColumn(
            "contaminated",
            (
                (F.col("n_ngrams") > 0)
                & (F.col("n_hits") * 100 >= F.col("n_ngrams") * threshold_pct)
            ).cast("int"),
        )
    )


def repetition_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style within-document repetition measures: token counts,
    distinct-token counts, bigram total and top-bigram count, plus integer
    flags `dup_word_heavy` (distinct*2 <= tokens) and `top_bigram_heavy`
    (top bigram covers >= 20% of bigrams). All integer outputs — no float
    hashing concerns in the driver contract."""
    w = word_tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.size(w).alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
        word_ngrams(F.col(text_col), 2).alias("_bgs"),
        w.alias("_w"),
    )
    # bigram occurrence counts need the NON-distinct stream
    bg = F.when(
        F.size(F.col("_w")) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("_w")) - 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("_w"), i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = base.select(
        id_col, "n_tokens", "n_distinct", F.explode_outer(bg).alias("bigram")
    )
    per_bigram = exploded.groupBy(id_col, "n_tokens", "n_distinct", "bigram").agg(
        F.count("bigram").alias("_n")
    )
    return (
        per_bigram.groupBy(id_col, "n_tokens", "n_distinct")
        .agg(
            F.coalesce(F.sum("_n"), F.lit(0)).alias("n_bigrams"),
            F.coalesce(F.max("_n"), F.lit(0)).alias("top_bigram_n"),
        )
        .withColumn(
            "dup_word_heavy", (F.col("n_distinct") * 2 <= F.col("n_tokens")).cast("int")
        )
        .withColumn(
            "top_bigram_heavy",
            (
                (F.col("top_bigram_n") >= 2)
                & (F.col("top_bigram_n") * 5 >= F.col("n_bigrams"))
            ).cast("int"),
        )
    )


def _nonempty_trimmed(arr: Column) -> Column:
    """Trim each element and drop empties — the line/paragraph unit used
    by the Gopher repetition rules (blank separators never count)."""
    return F.filter(F.transform(arr, F.trim), lambda x: x != "")


def _dup_run_stats(arr: Column) -> Column:
    """Fold a string array into struct(total, chars, dup_n, dup_c): element
    count, total char length, count of elements whose value occurs >= 2
    times, and their char total. Runs over the SORTED array so duplicates
    are adjacent — one O(L log L) row-local pass, no explode/shuffle."""
    zero = F.lit(0).cast("long")

    def merge(acc, x):
        same = x == acc["prev"]
        boundary_dup = ~same & (acc["run"] >= 2)
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            (acc["total"] + 1).alias("total"),
            (acc["chars"] + F.length(x)).alias("chars"),
            (acc["dup_n"] + F.when(boundary_dup, acc["run"]).otherwise(zero)).alias(
                "dup_n"
            ),
            (
                acc["dup_c"]
                + F.when(boundary_dup, acc["run"] * F.length(acc["prev"])).otherwise(
                    zero
                )
            ).alias("dup_c"),
        )

    def finish(acc):
        last_dup = acc["run"] >= 2
        return F.struct(
            acc["total"].alias("total"),
            acc["chars"].alias("chars"),
            (acc["dup_n"] + F.when(last_dup, acc["run"]).otherwise(zero)).alias(
                "dup_n"
            ),
            (
                acc["dup_c"]
                + F.when(last_dup, acc["run"] * F.length(acc["prev"])).otherwise(zero)
            ).alias("dup_c"),
        )

    init = F.struct(
        F.lit("").alias("prev"),
        zero.alias("run"),
        zero.alias("total"),
        zero.alias("chars"),
        zero.alias("dup_n"),
        zero.alias("dup_c"),
    )
    return F.aggregate(F.array_sort(arr), init, merge, finish)


# Gopher (Rae et al. 2021, table A1) repetition thresholds: a document is
# REMOVED when the fraction exceeds the bound. Integer cross-multiplied in
# the keep flags so no float ever enters the contract.
_GOPHER_TOP_PCT = {2: 20, 3: 18, 4: 16}  # top n-gram char fraction bound (%)
_GOPHER_DUP_PCT = {5: 15, 6: 14, 7: 13, 8: 12, 9: 11, 10: 10}  # dup n-gram (%)


def _gram_char_stats(w: list, top_ns: tuple, dup_ns: tuple) -> list:
    """Exact integer gram statistics for ONE token list, returning
    ``[n_tokens, token_chars, top{n}_char_n…, dup{n}_char_n…]``.

    Everything is equality/counting over the token strings the JVM
    tokenizer produced, so there is no regex / lower / trim semantics in
    Python at all: Python ``len(str)`` counts code points exactly like
    Spark ``length``, and tuple equality over interned token ids is the
    same equivalence as gram-string equality (tokens contain no spaces,
    so the space-joined gram is injective in the token tuple).

    * top-gram: char coverage (count * gram char length, spaces
      excluded) of the most frequent n-gram; ties on count break toward
      the larger coverage — the conservative reading of Gopher's 'most
      frequently occurring n-gram' rule, and exactly what a GROUP BY
      computes;
    * dup-gram: union char coverage of tokens inside any duplicated
      n-gram — 'taking care not to count characters in overlapping
      n-grams more than once' (position-set union, not a sum over
      grams)."""
    m = len(w)
    lens = [len(x) for x in w]
    pref = [0] * (m + 1)
    acc = 0
    for i, ln in enumerate(lens):
        acc += ln
        pref[i + 1] = acc
    seen: dict = {}
    ids = [seen.setdefault(x, len(seen)) for x in w]
    row = [m, acc]
    for n in top_ns:
        if m < n:
            row.append(0)
            continue
        grams = list(zip(*(ids[k:] for k in range(n))))
        cnt = Counter(grams)
        chars: dict = {}
        for i, g in enumerate(grams):
            if g not in chars:
                chars[g] = pref[i + n] - pref[i]
        best_c = best_v = 0
        for g, c in cnt.items():
            v = c * chars[g]
            if c > best_c or (c == best_c and v > best_v):
                best_c, best_v = c, v
        row.append(best_v)
    for n in dup_ns:
        if m < n:
            row.append(0)
            continue
        grams = list(zip(*(ids[k:] for k in range(n))))
        cnt = Counter(grams)
        cov = 0
        end = 0  # exclusive end of the covered prefix (ascending sweep)
        for i, g in enumerate(grams):
            if cnt[g] >= 2:
                s = i if i >= end else end
                e = i + n
                if e > s:
                    cov += pref[e] - pref[s]
                    end = e
        row.append(cov)
    return row


def _gram_stats_arrow(s0: DataFrame, top_ns: tuple, dup_ns: tuple) -> DataFrame:
    """The n-gram half of :func:`gopher_repetition` as one Arrow-batch
    stage (optimization guide §4.2: hand whole batches of heavy per-row
    work to native-speed code instead of interpreted higher-order-function
    expressions — measured 5.8× over the sorted-array JVM folds on the
    10×-corpus battery, 49.4→8.5 s). The JVM still tokenizes
    (``word_tokens`` stays a codegen projection, so scan pruning and the
    oracle-pinned regex semantics are untouched); only the token arrays
    cross the boundary, and the stats come back as int64 columns. Every
    other input column passes through the batch zero-copy. Pinned against
    a brute-force reference in tests/test_repetition.py."""
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    stat_names = (
        ["n_tokens", "token_chars"]
        + [f"top{n}_char_n" for n in top_ns]
        + [f"dup{n}_char_n" for n in dup_ns]
    )
    pass_fields = [f for f in s0.schema.fields if f.name != "_w"]
    pass_names = [f.name for f in pass_fields]
    out_schema = StructType(
        pass_fields + [StructField(nm, LongType(), True) for nm in stat_names]
    )
    tns, dns = tuple(top_ns), tuple(dup_ns)

    def batches(it):
        for batch in it:
            stat_cols: list[list[int]] = [[] for _ in stat_names]
            for toks in batch.column("_w").to_pylist():
                for j, v in enumerate(_gram_char_stats(toks or [], tns, dns)):
                    stat_cols[j].append(v)
            arrays = [batch.column(nm) for nm in pass_names] + [
                pa.array(c, pa.int64()) for c in stat_cols
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=pass_names + stat_names)

    return s0.mapInArrow(batches, schema=out_schema)


def gopher_repetition(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """The full Gopher repetition battery (Rae et al. 2021 §A1.1 table A1,
    the within-document repetition half that `gopher_quality` — the
    heuristic-signal half — does not cover): duplicate line / paragraph
    fractions and their char fractions, top n-gram char fraction
    (n=2,3,4) and duplicated n-gram union char fraction (n=5..10), plus
    per-rule integer keep flags and the conjunctive `repetition_keep`.

    Lines split on newline, paragraphs on blank lines (runs of >= 2
    newlines), both trimmed with empties dropped; token chars count
    [a-z0-9]+ word chars only (spaces excluded) in both numerators and
    denominators. All outputs are exact integers; the keep flags
    cross-multiply so the contract is float-free end to end.

    Scale shape: line/paragraph stats are row-local folds over sorted
    arrays (duplicate runs adjacent after array_sort) and the n-gram stats
    one Arrow-batch stage over the token arrays (:func:`_gram_stats_arrow`)
    — no explode, no groupBy, no join, nothing leaves the row. Per-row
    cost O(L log L + m·(|top_ns| + |dup_ns|)); a 100 TB corpus pays
    exactly one scan. The superseded `repetition_signals` kept the
    explode+groupBy shape for its two bigram signals — this battery
    subsumes it.
    """
    for n in top_ns:
        if n not in _GOPHER_TOP_PCT:
            raise ValueError(f"top n-gram threshold undefined for n={n}")
    for n in dup_ns:
        if n not in _GOPHER_DUP_PCT:
            raise ValueError(f"dup n-gram threshold undefined for n={n}")

    t = F.coalesce(F.col(text_col), F.lit(""))
    s0 = df.select(
        F.col(id_col),
        _dup_run_stats(_nonempty_trimmed(F.split(t, "\n"))).alias("_l"),
        _dup_run_stats(_nonempty_trimmed(F.split(t, "\n{2,}"))).alias("_p"),
        word_tokens(t).alias("_w"),
    )
    stats = _gram_stats_arrow(s0, tuple(top_ns), tuple(dup_ns))

    out = stats.select(
        id_col,
        F.col("_l")["total"].alias("n_lines"),
        F.col("_l")["dup_n"].alias("dup_line_n"),
        F.col("_l")["chars"].alias("line_chars"),
        F.col("_l")["dup_c"].alias("dup_line_char_n"),
        F.col("_p")["total"].alias("n_paras"),
        F.col("_p")["dup_n"].alias("dup_para_n"),
        F.col("_p")["chars"].alias("para_chars"),
        F.col("_p")["dup_c"].alias("dup_para_char_n"),
        "n_tokens",
        "token_chars",
        *[f"top{n}_char_n" for n in top_ns],
        *[f"dup{n}_char_n" for n in dup_ns],
    )

    flag_cols = [
        (F.col("dup_line_n") * 10 <= F.col("n_lines") * 3).cast("int").alias(
            "keep_dup_line"
        ),
        (F.col("dup_para_n") * 10 <= F.col("n_paras") * 3).cast("int").alias(
            "keep_dup_para"
        ),
        (F.col("dup_line_char_n") * 5 <= F.col("line_chars")).cast("int").alias(
            "keep_dup_line_char"
        ),
        (F.col("dup_para_char_n") * 5 <= F.col("para_chars")).cast("int").alias(
            "keep_dup_para_char"
        ),
    ]
    flag_cols += [
        (F.col(f"top{n}_char_n") * 100 <= F.col("token_chars") * _GOPHER_TOP_PCT[n])
        .cast("int")
        .alias(f"keep_top{n}")
        for n in top_ns
    ]
    flag_cols += [
        (F.col(f"dup{n}_char_n") * 100 <= F.col("token_chars") * _GOPHER_DUP_PCT[n])
        .cast("int")
        .alias(f"keep_dup{n}")
        for n in dup_ns
    ]
    out = out.select("*", *flag_cols)
    keep_flags = (
        ["keep_dup_line", "keep_dup_para", "keep_dup_line_char", "keep_dup_para_char"]
        + [f"keep_top{n}" for n in top_ns]
        + [f"keep_dup{n}" for n in dup_ns]
    )
    keep_expr = F.lit(1)
    for name in keep_flags:
        keep_expr = keep_expr * F.col(name)
    return out.withColumn("repetition_keep", keep_expr.cast("int"))


# Default PII-ish shape: runs of >= 6 digits (ids, SSN-like, phone-like).
# Deliberately lookahead-free so the same pattern runs under Java regex
# (Spark) and RE2 (DuckDB oracle).
_ID_RUN_RE = "[0-9]{6,}"


def pii_redact(
    df: DataFrame,
    id_col: str,
    col: str,
    pattern: str = _ID_RUN_RE,
    replacement: str = "[ID]",
) -> DataFrame:
    """Mask PII-shaped spans (default: long digit runs) in a column. Pure
    codegen regexp; the hit count comes from the pre-redaction extract so
    the redaction is auditable."""
    c = F.col(col)
    return df.select(
        F.col(id_col),
        F.regexp_replace(c, pattern, replacement).alias(f"{col}_redacted"),
        F.size(F.regexp_extract_all(c, F.lit(pattern), 0)).alias("n_pii_hits"),
    )


def quota_sample(
    df: DataFrame, group_col: str, id_col: str, quota: int
) -> DataFrame:
    """Deterministic per-group quota sample (corpus balancing): rank rows
    inside each group by an engine-portable pseudo-random order
    (md5 of the id, ties by id) and keep the first ``quota``.

    100 TB note: the window sorts each group; when groups are huge relative
    to the quota, pre-filter by a hash threshold near quota/|group| (e.g.
    from approx quantiles of the md5 key) so the exact window only sorts
    survivors. The md5 order is identical in Spark and DuckDB, which is
    what makes this oracle-checkable."""
    order = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(order, F.col(id_col))
    return (
        df.select(group_col, id_col)
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= quota)
    )


def label_centroids(
    df: DataFrame,
    label_col: str,
    vec_col: str,
    dim: int,
    scale: int = 10000,
) -> DataFrame:
    """Per-label embedding centroid statistics: member count, centroid L2
    norm (times n — i.e. ||sum||/(n*scale)), and mean first component.
    Vectors are quantized to longs (floor(cast(x as double)*scale + 0.5))
    so sums are exact integers — order-independent across partitions, hence
    deterministic; the norm is sqrt of an exact integer sum-of-squares
    divided by exact ints, so BOTH engines produce the bit-identical
    double. The quantizer is deliberately floor(double(x)*scale + 0.5),
    NOT round(): Spark's round (BigDecimal HALF_UP) and DuckDB's round can
    break .5 ties differently, and without the explicit double cast DuckDB
    evaluates float32 embeddings in float32 end-to-end while Spark
    promotes to double — either way a one-quantum skew that flips the
    value hash. float→double is exact and double arithmetic is
    IEEE-identical across engines; oracle SQL must quantize with the same
    floor(CAST(x AS DOUBLE)*scale + 0.5) expression. k sum-aggregates in
    one pass (no explode: column width = dim, rows stay rows). Long sums
    hold to ~1e9 rows/label at scale=1e4; beyond that use decimal(38,0)
    sums."""
    q = [
        F.floor(F.col(vec_col)[i].cast("double") * scale + F.lit(0.5))
        .cast("long")
        .alias(f"_q{i}")
        for i in range(dim)
    ]
    agg = df.select(F.col(label_col), *q).groupBy(label_col).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        *[F.sum(f"_q{i}").alias(f"_s{i}") for i in range(dim)],
    )
    sum_sq = None
    for i in range(dim):
        term = F.col(f"_s{i}") * F.col(f"_s{i}")
        sum_sq = term if sum_sq is None else sum_sq + term
    return agg.select(
        label_col,
        "n_vecs",
        (F.sqrt(sum_sq.cast("double")) / (F.col("n_vecs") * scale)).alias(
            "centroid_norm"
        ),
        (F.col("_s0").cast("double") / (F.col("n_vecs") * scale)).alias("mean_c0"),
    )


def duplicated_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Cross-document duplicated spans (the substring-dedup signal of
    Lee et al.'s "Deduplicating Training Data Makes Language Models
    Better", re-expressed relationally): positional word-k-grams, keep
    those whose k-gram occurs in >1 document, then merge consecutive
    positions per doc into maximal spans via gaps-and-islands
    (pos - row_number = island key). Output (doc, span_start 1-based,
    span_len in tokens, n_kgrams).

    Scale: k-gram explode is the TF-IDF shuffle class; the duplicated-
    k-gram set is an agg keyed by k-gram (map-side combine); the
    membership join shuffles on k-gram; the island window sorts only
    within a document. No global sorts, no driver state."""
    w = word_tokens(F.col(text_col))
    pos_kg = (
        df.select(F.col(id_col), w.alias("_w"))
        .filter(F.size("_w") >= k)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size(F.col("_w")) - (k - 1)),
                    lambda i: F.concat_ws(" ", F.slice(F.col("_w"), i, k)),
                )
            ).alias("_p0", "kg"),
        )
        .select(id_col, (F.col("_p0") + 1).cast("int").alias("pos"), "kg")
    )
    dup_kg = (
        pos_kg.groupBy("kg")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") > 1)
        .select("kg")
    )
    d = pos_kg.join(dup_kg, "kg").select(id_col, "pos")
    win = Window.partitionBy(id_col).orderBy("pos")
    isl = d.withColumn("_g", F.col("pos") - F.row_number().over(win))
    return (
        isl.groupBy(id_col, "_g")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).cast("int").alias("span_len"),
            F.count(F.lit(1)).alias("n_kgrams"),
        )
        .drop("_g")
    )


def weighted_mix(
    df: DataFrame,
    group_col: str,
    id_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "mix",
) -> DataFrame:
    """Corpus mixing: deterministically downsample each group to a target
    keep-rate — the data-mixing stage that rebalances source proportions
    to a training recipe (e.g. crawl 10%, curated sources 100%) without an
    RNG, a shuffle, or a second pass.

    keep ⇔ u32(md5(salt‖id)) < rate·2³², where u32 is the first 8 hex
    digits of the md5 as an integer. The hash is engine-portable (pinned
    vs DuckDB), the decision is per-row scan-local (a codegen filter right
    on the scan — zero shuffles, pinned), reproducible under re-runs AND stable under
    corpus growth: a kept id stays kept when new rows arrive, so
    incremental pipelines don't churn their sample. Groups absent from
    ``rates`` fall back to ``default_rate``."""
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    rate_map = F.create_map(*[F.lit(x) for kv in rates.items() for x in kv])
    rate = F.coalesce(rate_map[F.col(group_col)], F.lit(float(default_rate)))
    # explicit floor: Spark's double→bigint cast truncates but DuckDB's
    # CAST rounds to nearest, so a fractional threshold (0.1·2³² = …729.6)
    # would disagree by 1 on boundary hashes; floor on BOTH engines keeps
    # the oracle contract bit-exact
    return df.filter(bucket < F.floor(rate * F.lit(float(2**32))).cast("bigint"))


def corpus_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: adds a ``split`` column
    chosen by where u32(md5(salt‖id)) / 2³² falls in the cumulative
    ``weights`` intervals (e.g. {"train": .98, "val": .01, "test": .01}).

    Same hash discipline as :func:`weighted_mix`: per-row, scan-local
    (zero shuffles), reproducible, and growth-stable — a document keeps
    its split when the corpus grows, so later crawl batches can never
    leak validation documents into training. Weights must sum to 1
    (validated); boundary arithmetic uses explicit floor on the u32
    domain so any engine reproduces the exact assignment."""
    return df.withColumn("split", _hash_split_expr(F.col(id_col), weights, salt))


def _hash_split_expr(key: Column, weights: dict[str, float], salt: str) -> Column:
    """The u32(md5(salt‖key)) cumulative-interval assignment shared by
    corpus_split (key = document id) and leakage_safe_split (key = near-
    dup cluster representative). Boundary arithmetic uses an explicit
    float→int floor on the u32 domain so any engine reproduces the exact
    assignment."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8), 16, 10
    ).cast("bigint")
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w
        hi = F.lit(int(acc * float(2**32)))
        clause = bucket < hi
        expr = F.when(clause, F.lit(name)) if expr is None else expr.when(clause, F.lit(name))
    last = F.lit(items[-1][0])
    expr = last if expr is None else expr.otherwise(last)
    return expr


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: dict[str, float],
    n: int = 5,
    threshold: float = 0.6,
    salt: str = "split",
) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates across
    the split: documents are first clustered by n-gram-Jaccard near-dup
    connected components (dedup.near_duplicate_clusters), then the hash
    interval is taken over the CLUSTER representative (the component's
    min id; singletons hash their own id) — so every member of a
    near-dup cluster lands on the SAME side. This is the failure mode of
    a plain per-document corpus_split: a paraphrased copy of a test
    document sitting in train is leakage no downstream decontamination
    re-checks for.

    Output: (id, split_key, split) for every input document. Growth
    note: the assignment is stable while a document's CLUSTER
    representative is stable; a later crawl batch that bridges two
    clusters merges them onto the smaller representative, which can
    legitimately move documents between splits — re-split (or freeze
    the eval set by id) after large-scale recrawls. Plan: the pair
    generation is the banded n-gram self-join (never all-pairs), CC is
    the checkpointed pointer-doubling operator, and the final
    assignment is a per-row projection after one left join."""
    from pgdedupe_spark.operators.dedup import near_duplicate_clusters

    clusters = near_duplicate_clusters(
        df, id_col, text_col, n=n, threshold=threshold
    ).select(id_col, "cluster")
    base = df.select(id_col).join(clusters, id_col, "left")
    key = F.coalesce(F.col("cluster"), F.col(id_col))
    return base.select(
        id_col,
        key.cast("long").alias("split_key"),
        _hash_split_expr(key, weights, salt).alias("split"),
    )


def corpus_shuffle_order(df: DataFrame, id_col: str, seed: int = 0):
    """Deterministic pseudo-shuffle key for training-order randomization:
    ``xxhash64(id, seed)`` as a sort key decorrelates the corpus from its
    ingest order without an RNG. Writing the shuffled layout is
    ``df.repartitionByRange(n, key).sortWithinPartitions(key)`` — range
    partitioning keeps the global order across output files while every
    partition sorts only itself (the compact_table discipline). A new
    ``seed`` is a fresh epoch permutation; pair with
    :func:`~pgdedupe_spark.operators.packing.pack_assignments` ordered by
    this key to build shuffled fixed-length training windows."""
    return F.xxhash64(F.col(id_col), F.lit(int(seed)))


def removable_duplicate_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Keep-first policy for substring dedup (the action half of Lee et
    al. — :func:`duplicated_spans` is the detector): a k-gram position in
    doc D is *removable* when the same k-gram also appears in an earlier
    document (min doc id < D), so exactly one copy of every duplicated
    passage survives, in its earliest document. Consecutive removable
    positions merge into maximal spans (same gaps-and-islands as the
    detector). Output (id, span_start 1-based, span_len in tokens).

    Scale: identical shuffle classes to duplicated_spans — k-gram
    explode, one agg keyed by k-gram (min-doc + doc count piggyback on
    the same pass), membership join, per-doc island window."""
    w = word_tokens(F.col(text_col))
    pos_kg = (
        df.select(F.col(id_col), w.alias("_w"))
        .filter(F.size("_w") >= k)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size(F.col("_w")) - (k - 1)),
                    lambda i: F.concat_ws(" ", F.slice(F.col("_w"), i, k)),
                )
            ).alias("_p0", "kg"),
        )
        .select(id_col, (F.col("_p0") + 1).cast("int").alias("pos"), "kg")
    )
    owners = (
        pos_kg.groupBy("kg")
        .agg(F.min(id_col).alias("_min_doc"), F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") > 1)
        .select("kg", "_min_doc")
    )
    rem = (
        pos_kg.join(owners, "kg")
        .filter(F.col(id_col) > F.col("_min_doc"))
        .select(id_col, "pos")
        .distinct()
    )
    win = Window.partitionBy(id_col).orderBy("pos")
    isl = rem.withColumn("_g", F.col("pos") - F.row_number().over(win))
    return (
        isl.groupBy(id_col, "_g")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).cast("int").alias("span_len"),
        )
        .drop("_g")
    )


def strip_spans(
    df: DataFrame, spans: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Remove the given token spans from each document and rebuild the
    text from the surviving tokens (space-joined normalized tokens — the
    cleaned-corpus convention of substring dedup; docs without spans
    keep their ORIGINAL text byte-for-byte).

    Pure JVM: per-doc spans collect into an array column (bounded by the
    doc's own span count), and a positional ``filter`` with a nested
    ``exists`` drops covered tokens — no explode of the token stream, no
    Python. One equi-join + one agg on the spans side."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_len")).alias("_spans")
    )
    w = word_tokens(F.col(text_col))
    covered = lambda i: F.exists(  # noqa: E731 — token position i+1 in any span?
        F.col("_spans"),
        lambda s: (i + 1 >= s["span_start"]) & (i + 1 < s["span_start"] + s["span_len"]),
    )
    kept = F.filter(w, lambda x, i: ~covered(i))
    out_text = F.when(F.col("_spans").isNull(), F.col(text_col)).otherwise(
        F.array_join(kept, " ")
    )
    n_removed = F.when(F.col("_spans").isNull(), F.lit(0)).otherwise(
        F.size(w) - F.size(kept)
    )
    return (
        df.join(per_doc, id_col, "left")
        .withColumn("clean_text", out_text)
        .withColumn("n_tokens_removed", n_removed.cast("int"))
        .drop("_spans")
    )


def decontaminate_embeddings(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    vec_col: str,
    bench_id_col: str | None = None,
    bench_vec_col: str | None = None,
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    exact: bool = False,
) -> DataFrame:
    """Semantic decontamination: flag corpus documents whose embedding is
    cosine-similar (>= ``threshold``) to ANY benchmark/eval embedding —
    the paraphrase-robust complement of the n-gram :func:`decontaminate`
    (which only catches near-verbatim leakage).

    Adds ``contaminated`` (bool) and ``bench_hits`` (how many benchmark
    vectors matched) to every corpus row; callers filter or audit.

    Scale shape: both sides bucket through the SAME seeded hyperplane
    tables (one scan each — `similarity._bucketize`), candidates come
    from the (table, bucket) equi-join against the benchmark side (eval
    sets are small, so the bucketed benchmark broadcasts), pairs dedup
    BEFORE the exact cosine verify, and the verified hit set left-joins
    back to the corpus. The corpus is never self-joined and never
    compared all-pairs against the benchmark: candidate volume ≈
    bucket-collision fraction × corpus. ``exact=True`` swaps the LSH
    candidate stage for the full cross product — the O(n·m) verifier
    used by tests to certify recall, same guard philosophy as
    `similarity.cosine_pairs`.

    Recall note (same math as :func:`similarity.lsh_cosine_topk`): at
    threshold 0.9 a true hit agrees per plane with p ≈ 0.856; 8 planes ×
    8 tables → table-hit 0.29, overall 1-(1-0.29)^8 ≈ 0.93+; raise
    n_tables for stricter gates. Pinned against the exact path in
    tests/test_curation.py."""
    from pgdedupe_spark.operators.similarity import _bucketize, _table_planes

    bench_id_col = bench_id_col or id_col
    bench_vec_col = bench_vec_col or vec_col
    bench = benchmark.select(
        F.col(bench_id_col).alias("_bid"), F.col(bench_vec_col).alias("_bv")
    )
    corp = corpus.select(F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cv"))

    if exact:
        cand = corp.select("_cid").crossJoin(F.broadcast(bench.select("_bid")))
    else:
        planes = _table_planes(dim, n_planes, n_tables, seed)
        cb = _bucketize(corp, "_cid", "_cv", planes)
        bb = _bucketize(bench, "_bid", "_bv", planes)
        cand = (
            cb.join(F.broadcast(bb), ["table", "bucket"])
            .select("_cid", "_bid")
            .distinct()
        )

    dot = F.aggregate(
        F.zip_with("_cv", "_bv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    norm = lambda c_: F.sqrt(  # noqa: E731
        F.aggregate(F.zip_with(c_, c_, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    )
    hits = (
        cand.join(F.broadcast(bench), "_bid")
        .join(corp, "_cid")
        .withColumn("_sim", dot / (norm(F.col("_cv")) * norm(F.col("_bv"))))
        .filter(F.col("_sim") >= threshold)
        .groupBy("_cid")
        .agg(F.count(F.lit(1)).alias("bench_hits"))
    )
    return (
        corpus.join(
            hits.select(F.col("_cid").alias(id_col), "bench_hits"), id_col, "left"
        )
        .withColumn("bench_hits", F.coalesce("bench_hits", F.lit(0)))
        .withColumn("contaminated", F.col("bench_hits") > 0)
    )


# ---------------------------------------------------------------------------
# Line-level boilerplate dedup (CCNet / RefinedWeb-style)
# ---------------------------------------------------------------------------


def boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str | None = None,
    min_docs: int = 3,
    delim: str = "\n",
) -> DataFrame:
    """Lines (normalized: trim + collapse whitespace + lower, the
    dedup.normalize_text key) that occur in ≥ ``min_docs`` DISTINCT
    documents of the same group: (group?, line, n_docs). The CCNet /
    RefinedWeb "line-level dedup" signal — navigation chrome, cookie
    banners, boilerplate headers repeat across a domain's pages while
    body text does not, so cross-document line frequency IS the
    boilerplate detector.

    Scale: one explode over lines → distinct (group, line, doc) → one
    count aggregate keyed by (group, line-hash); the rare-line long tail
    combines map-side and dies at the HAVING. Scoping by ``group_col``
    (domain/source) keeps counts local: a line frequent on one domain
    never strips another domain's docs."""
    from pgdedupe_spark.operators.dedup import normalize_text

    groups = [group_col] if group_col else []
    lines = df.select(
        *groups,
        F.col(id_col).alias("_doc"),
        F.explode(F.split(F.col(text_col), "\\Q" + delim + "\\E")).alias("_raw"),
    ).select(*groups, "_doc", normalize_text(F.col("_raw")).alias("line"))
    return (
        lines.filter(F.col("line") != "")
        .distinct()
        .groupBy(*groups, "line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def strip_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str | None = None,
    min_docs: int = 3,
    delim: str = "\n",
) -> DataFrame:
    """Remove every boilerplate line (per boilerplate_lines) from every
    document, preserving the order and original (un-normalized) form of
    surviving lines: all input columns + text_clean, n_lines, n_removed.

    Plan shape — deliberately NO document-keyed shuffle: the per-group
    boilerplate set is collected to ONE ARRAY PER GROUP (bounded by the
    number of distinct ≥min_docs lines — chrome, not corpus), joined to
    docs on the group key (broadcast-sized by construction; AQE picks),
    and the removal is a pure array_contains filter over split lines
    inside codegen. Docs never leave their input partitions, so this
    composes with upstream scans at any scale. Pinned in
    tests/test_curation.py: no Exchange keyed by the doc id, no Python."""
    from pgdedupe_spark.operators.dedup import normalize_text

    clash = {"text_clean", "n_lines", "n_removed", "_bl"} & set(df.columns)
    if clash:
        raise ValueError(f"input already has output/internal columns {sorted(clash)}")
    bl = boilerplate_lines(df, id_col, text_col, group_col, min_docs, delim)
    groups = [group_col] if group_col else []
    bl_sets = bl.groupBy(*groups).agg(F.collect_set("line").alias("_bl"))
    # broadcast the per-group arrays so the DOC side never shuffles —
    # bl_sets is one row per group, bounded by chrome, not corpus; the
    # no-group global aggregation always yields exactly one row, so the
    # crossJoin is a safe 1-row broadcast even on an empty corpus
    joined = (
        df.join(F.broadcast(bl_sets), groups, "left")
        if groups
        else df.crossJoin(F.broadcast(bl_sets))
    )
    blc = F.coalesce(F.col("_bl"), F.array().cast("array<string>"))
    # \Q...\E: F.split takes a REGEX — quote the delimiter so "|" or
    # "." split literally (Java regex quoting; the boilerplate_lines
    # explode above quotes identically so both sides see the same lines)
    split = F.split(F.col(text_col), "\\Q" + delim + "\\E")
    kept = F.filter(
        split, lambda l: ~F.array_contains(blc, normalize_text(l))
    )
    return (
        joined.withColumn("text_clean", F.array_join(kept, delim))
        .withColumn("n_lines", F.size(split))
        .withColumn("n_removed", F.size(split) - F.size(kept))
        .drop("_bl")
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    group_col: str | None = None,
    seed: int = 0,
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis A-ES): rank every row by ln(u)/w where u ∈ (0,1) comes from
    a seeded hash of the id — maximizing u^(1/w) ⇔ maximizing ln(u)/w —
    and keep the top ``k`` (per group when ``group_col`` is set).
    Heavier rows win proportionally more often; a row with weight → ∞
    is always kept, weight ≤ 0 rows are excluded (ln(u)/w flips sign).

    The hash-uniform makes the draw reproducible AND growth-stable (a
    row's sampling key never changes as the corpus grows — the same
    md5-interval idea as corpus_split), and engine-portable: the
    registry row sample_weighted hash-matches a DuckDB oracle running
    the identical arithmetic. One window per group; at extreme scale
    pre-filter by a key threshold before the exact window (the
    quota_sample note applies verbatim).

    Output: input columns + sample_rank (1-based within group)."""
    if "sample_rank" in df.columns or "_es_key" in df.columns:
        raise ValueError("input already has sample_rank/_es_key columns")
    # u in (0,1): (u32(md5(seed‖id)) + 1) / (2^32 + 1) — the same
    # engine-portable hash-uniform as weighted_mix/corpus_split, exact in
    # doubles. The ordering key rounds through DECIMAL so a libm last-ulp
    # difference between engines can't flip the window order (the
    # d3_uncertain_pairs device); ties break on the id.
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"es{seed}:"), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    u = (u32 + F.lit(1)).cast("double") / F.lit(float(2**32 + 1))
    key = (F.log(u) / F.col(weight_col).cast("double")).cast("decimal(38,18)")
    keyed = df.filter(F.col(weight_col) > 0).withColumn("_es_key", key)
    if group_col:
        w = Window.partitionBy(group_col).orderBy(
            F.col("_es_key").desc(), F.col(id_col)
        )
        out = keyed.withColumn("sample_rank", F.row_number().over(w)).filter(
            F.col("sample_rank") <= k
        )
    else:
        # global draw: orderBy+limit plans as TakeOrderedAndProject so the
        # whole corpus never funnels through a single-partition window
        # (the bm25_topk lesson); the rank window then runs over k rows
        order = [F.col("_es_key").desc(), F.col(id_col)]
        out = (
            keyed.orderBy(*order)
            .limit(k)
            .withColumn("sample_rank", F.row_number().over(Window.orderBy(*order)))
        )
    return out.drop("_es_key")


def pseudonymize(
    df: DataFrame,
    cols: list[str],
    secret: str,
    hash_bits: int = 256,
) -> DataFrame:
    """Deterministic keyed pseudonymization: replace each listed column
    with the hex SHA-2 of ``secret || ':' || value`` — the privacy
    sibling of :func:`pii_redact` (redaction destroys joinability;
    pseudonymization preserves it: the same value under the same secret
    yields the same token in EVERY table, so pseudonymized keys still
    join/group/dedup across the pipeline). NULL stays NULL (a token for
    NULL would silently merge all missing values into one hot key).
    Values are cast to string first, so numeric ids tokenize stably.

    Security note, stated honestly: this is keyed hashing, not
    encryption — irreversible without the secret, but subject to
    dictionary attack IF the secret leaks (rotate per dataset release)
    and to frequency analysis like any deterministic scheme. That's the
    standard trade for join-preserving pseudonymization.

    Pure JVM projection: one sha2 per cell, zero shuffle, nothing
    leaves codegen."""
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"no such columns: {missing}")
    out = df
    for c in cols:
        out = out.withColumn(
            c,
            F.when(
                F.col(c).isNull(), F.lit(None).cast("string")
            ).otherwise(
                F.sha2(
                    F.concat(F.lit(secret), F.lit(":"), F.col(c).cast("string")),
                    hash_bits,
                )
            ),
        )
    return out


def contrastive_negatives(
    anchors: DataFrame,
    items: DataFrame,
    positives: DataFrame,
    k: int,
    anchor_col: str,
    item_col: str,
    oversample: int = 2,
) -> DataFrame:
    """Deterministic negative sampling for contrastive / preference
    training pairs: for each anchor, ``k`` pseudo-random items that are
    NOT among its positives, ranked stably. Returns
    ``(anchor_col, item_col, neg_rank)`` with ``neg_rank`` in 1..k.

    Scale design: NEVER a cross join. Items get dense 1..n ranks via the
    range-partitioned serial-id path; each anchor emits k·oversample
    candidate indices ``portable_hash60(anchor, j) % n + 1`` (a pure
    projection), which equi-join the item index, anti-join the
    positives, collapse hash collisions by min(j), and keep the first k
    per anchor — the per-anchor window sees ≤ k·oversample rows, so the
    sort is bounded by construction. One driver scalar (the item count)
    and the id path's per-partition offsets are the only non-plan state.

    The hash is the md5-derived portable one, so a DuckDB oracle
    reproduces every sampled negative — seeded-RNG samplers can't be
    driver-checked. Collisions with positives or duplicate draws eat
    into ``oversample`` headroom; anchors can fall short of k negatives
    only if k·oversample draws hit that many collisions (raise
    ``oversample`` for tiny item sets)."""
    from pgdedupe_spark.operators.dedup import portable_hash60
    from pgdedupe_spark.operators.ids import add_deterministic_id

    n = items.count()  # bounded driver scalar
    if n == 0:
        raise ValueError("items is empty")
    idx_items = add_deterministic_id(
        items.select(item_col), [item_col], id_col="_idx"
    )
    cand = anchors.select(anchor_col).withColumn(
        "_j", F.explode(F.sequence(F.lit(0), F.lit(k * oversample - 1)))
    )
    cand = cand.withColumn(
        "_idx",
        portable_hash60(
            F.col(anchor_col).cast("string"), F.col("_j").cast("string")
        )
        % F.lit(n)
        + 1,
    )
    joined = cand.join(idx_items, "_idx").select(anchor_col, item_col, "_j")
    neg = joined.join(positives, [anchor_col, item_col], "left_anti")
    # hash collisions: same item drawn twice for one anchor → keep min j
    dedup = neg.groupBy(anchor_col, item_col).agg(F.min("_j").alias("_j"))
    w = Window.partitionBy(anchor_col).orderBy("_j")
    return (
        dedup.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select(anchor_col, item_col, "neg_rank")
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS 2023)
# ---------------------------------------------------------------------------


def hashed_ngram_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_buckets: int = 4096,
) -> DataFrame:
    """DSIR's feature map: bag-of-hashed-word-{1,2}-gram counts,
    ``(id, bucket, c)`` with ``bucket ∈ [0, num_buckets)``.

    Word unigrams AND bigrams (the DSIR paper's feature space) hash into
    ``num_buckets`` via the engine-portable md5 hash — bucket values
    replay ``portable_hash60`` exactly (md5 of the n-gram's UTF-8 bytes,
    first 15 hex digits as an integer, mod num_buckets), the hash the
    dedup oracle family rides, so the whole DSIR chain stays
    DuckDB-checkable. Counts, not distinct presence: importance weights
    are a product over TOKEN occurrences, so a term repeated k times
    contributes k·logratio.

    Plan: tokenization stays a JVM codegen projection (word_tokens' regex
    semantics never cross into Python), the token arrays cross once, and
    the per-doc (bucket → count) map folds in one Arrow-batch stage
    (optimization guide §4.2) — every n-gram of one document lives in one
    batch row, so there is no explode and no (id, bucket) exchange. Docs
    with zero tokens emit zero rows (their log-weight is 0 — an empty
    product); callers left-join back to the id universe.

    Scale: output is min(tokens, num_buckets) rows per doc, produced
    scan-locally; nothing scales with the bucket dimension."""
    import pyarrow as pa
    from pyspark.sql import types as T

    src = df.select(F.col(id_col), word_tokens(F.col(text_col)).alias("_w"))
    out_schema = T.StructType(
        [
            src.schema[id_col],
            T.StructField("bucket", T.LongType(), True),
            T.StructField("c", T.LongType(), False),
        ]
    )
    nb = int(num_buckets)

    def batches(it):
        import hashlib

        for b in it:
            id_arr = b.column(id_col)
            out_ids: list = []
            out_bkt: list = []
            out_c: list = []
            for rid, toks in zip(id_arr.to_pylist(), b.column("_w").to_pylist()):
                toks = toks or []
                grams = list(toks)
                if len(toks) >= 2:
                    grams.extend(
                        toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)
                    )
                if not grams:
                    continue  # zero-token docs emit zero rows
                counts: dict[int, int] = {}
                for g in grams:
                    bkt = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16) % nb
                    counts[bkt] = counts.get(bkt, 0) + 1
                for bkt, c in counts.items():
                    out_ids.append(rid)
                    out_bkt.append(bkt)
                    out_c.append(c)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, type=id_arr.type),
                    pa.array(out_bkt, pa.int64()),
                    pa.array(out_c, pa.int64()),
                ],
                names=[id_col, "bucket", "c"],
            )

    return src.mapInArrow(batches, schema=out_schema)


def dsir_logratio_table(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    num_buckets: int = 4096,
    alpha: float = 1.0,
) -> DataFrame:
    """The DSIR "model": per hash bucket, the smoothed log importance ratio

        logratio(b) = ln((ct_b + α) / (Tt + α·B)) − ln((cr_b + α) / (Tr + α·B))

    where ct/cr are the bucket's token counts in the target/raw corpus and
    Tt/Tr the corpus totals (Laplace smoothing α, B = num_buckets).
    Output: ``(bucket, logratio DECIMAL(28,12))`` — ≤ B rows, broadcastable
    by construction, the DSIR analog of the persisted ANN "model" tables.

    The logratio quantizes to DECIMAL(28,12) via round(·, 12) BEFORE any
    per-document summation so the downstream aggregate is exact decimal
    arithmetic — partial-aggregation order can't flip a value hash, and a
    libm last-ulp disagreement between engines is absorbed by the rounding
    (the registry's d3_uncertain_pairs device).

    Plan: two featurization passes (raw, target) → full outer join on bucket
    (≤ B rows a side) → one-row totals crossJoin (broadcast). Everything
    after the two corpus scans operates on the B-row dimension."""
    rb = _bucket_totals(
        hashed_ngram_counts(raw, id_col, text_col, num_buckets), "cr"
    )
    tb = _bucket_totals(
        hashed_ngram_counts(target, id_col, text_col, num_buckets), "ct"
    )
    return _logratios_from_bucket_counts(rb, tb, num_buckets, alpha)


def _bucket_totals(feats: DataFrame, out_col: str) -> DataFrame:
    """(id, bucket, c) → (bucket, total). Second-level re-agg of the
    per-doc counts, so the SAME ``feats`` frame can also feed the per-doc
    weight join (dsir_weights) and, materialized once, the corpus is
    featurized ONCE instead of twice — the dominant cost at 100 TB."""
    return feats.groupBy("bucket").agg(F.sum("c").alias(out_col))


def _logratios_from_bucket_counts(
    rb: DataFrame, tb: DataFrame, num_buckets: int, alpha: float
) -> DataFrame:
    dim = (
        rb.join(tb, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("cr", F.lit(0)).alias("cr"),
            F.coalesce("ct", F.lit(0)).alias("ct"),
        )
    )
    totals = dim.agg(F.sum("cr").alias("tr"), F.sum("ct").alias("tt"))
    ab = float(alpha) * float(num_buckets)
    lr = (
        F.log((F.col("ct") + F.lit(float(alpha))) / (F.col("tt") + F.lit(ab)))
        - F.log((F.col("cr") + F.lit(float(alpha))) / (F.col("tr") + F.lit(ab)))
    )
    return (
        dim.crossJoin(F.broadcast(totals))
        .select("bucket", F.round(lr, 12).cast("decimal(28,12)").alias("logratio"))
    )


def dsir_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: DataFrame,
    num_buckets: int = 4096,
    alpha: float = 1.0,
    materialize: bool = False,
) -> DataFrame:
    """Per-document DSIR log importance weight:

        log w(x) = Σ_b c_x[b] · logratio(b)

    — how much more likely the document's hashed-n-gram bag is under the
    TARGET distribution than under the RAW corpus distribution. Upweights
    documents that look like the target; the raw model is fit on ``df``
    itself (the paper's setup: raw = the corpus being selected from).

    Output: every ``df`` row's id with ``log_weight`` (double) and
    ``n_feats`` (token-occurrence count; 0-token docs carry weight 0).

    Plan — fit once, score once (the paper's deployment shape, and the
    repo's bounded-sidecar pattern: kmeans centroids, IVF/PQ codebooks):
    the bucket-count dim table is MATERIALIZED in its own job and
    collected (≤ ``num_buckets`` rows — bounded by construction,
    corpus-size-independent), then rebuilt as a local frame whose ln/
    round/DECIMAL projection is identical to the declarative
    :func:`dsir_logratio_table`. Left fully in-plan, Catalyst duplicates
    the whole rb/tb subtree under the totals crossJoin (dim is consumed
    twice) and a join-pushed ``isnotnull`` defeats ReuseExchange on the
    (id, bucket) Exchange — measured FIVE corpus explodes for one
    weights pass (r10). Materializing the fit makes it exactly three:
    raw fit, target fit, scoring — and the scoring job broadcast-joins a
    local table. Then one hash aggregate keyed by id sums exact
    decimals; the final left join restores featureless docs. No window,
    no Python.
    """
    feats = hashed_ngram_counts(df, id_col, text_col, num_buckets)
    _checkpoints: list[DataFrame] = []
    if materialize:
        # r12: the (id, bucket, c) feature frame feeds BOTH the raw-model
        # fit (collected below) and the scoring join — declaratively the
        # corpus is featurized twice, once per consumer.
        # An eager checkpoint computes it once (its own job) and both
        # consumers read the stored rows: one corpus featurization instead
        # of two, bit-identical values (same expressions, same rows). This
        # is the ccnet_lm / llm_prep stage-boundary sidecar pattern; the
        # handle rides the result for release_materialized.
        feats = feats.localCheckpoint(eager=True)
        _checkpoints.append(feats)
    rb = _bucket_totals(feats, "cr")
    tb = _bucket_totals(
        hashed_ngram_counts(target, id_col, text_col, num_buckets), "ct"
    )
    dim_rows = (
        rb.join(tb, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("cr", F.lit(0)).alias("cr"),
            F.coalesce("ct", F.lit(0)).alias("ct"),
        )
        .collect()  # bounded: ≤ num_buckets rows, whatever the corpus size
    )
    local_dim = df.sparkSession.createDataFrame(
        [(r["bucket"], r["cr"], r["ct"]) for r in dim_rows],
        "bucket long, cr long, ct long",
    )
    tr = sum(r["cr"] for r in dim_rows)
    tt = sum(r["ct"] for r in dim_rows)
    ab = float(alpha) * float(num_buckets)
    # same expressions as dsir_logratio_table, with the scalar totals as
    # literals — identical doubles, identical DECIMAL quantization
    lr = (
        F.log((F.col("ct") + F.lit(float(alpha))) / (F.lit(float(tt)) + F.lit(ab)))
        - F.log((F.col("cr") + F.lit(float(alpha))) / (F.lit(float(tr)) + F.lit(ab)))
    )
    model = local_dim.select(
        "bucket", F.round(lr, 12).cast("decimal(28,12)").alias("logratio")
    )
    # c casts to DECIMAL(9,0) so the product is DECIMAL(38,12) on BOTH
    # engines: a bare long×decimal(28,12) would need precision 49, and
    # Spark resolves that overflow by TRUNCATING SCALE to 6 — a silent
    # 1e-6 loss the oracle catches (measured, r10)
    per_doc = (
        feats.join(F.broadcast(model), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("c").cast("decimal(9,0)") * F.col("logratio")).alias("_lw_dec"),
            F.sum("c").alias("_nf"),
        )
    )
    out = (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_lw_dec").cast("double"), F.lit(0.0)).alias("log_weight"),
            F.coalesce(F.col("_nf"), F.lit(0)).cast("bigint").alias("n_feats"),
        )
    )
    if _checkpoints:
        out._materialized_checkpoints = _checkpoints
    return out


def dsir_sample(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: DataFrame,
    k: int,
    num_buckets: int = 4096,
    alpha: float = 1.0,
    seed: int = 0,
    materialize: bool = False,
) -> DataFrame:
    """DSIR selection: sample ``k`` documents without replacement with
    probability ∝ exp(log_weight) via the Gumbel-top-k trick —

        key(x) = log w(x) + Gumbel(u_x),   Gumbel(u) = −ln(−ln u)

    with ``u_x ∈ (0,1)`` from the same seeded md5 hash-uniform as
    weighted_sample/corpus_split (growth-stable: a document's key never
    changes as the corpus grows). Gumbel-top-k on LOG weights is the
    numerically safe twin of the A-ES ``ln(u)/w`` key weighted_sample
    uses: DSIR log-weights span hundreds of nats, so exp(log_weight)
    would over/underflow doubles where the Gumbel form never leaves
    log-space. The key rounds through DECIMAL(38,12) so a libm last-ulp
    difference can't flip the order; ties break on id.

    Plan: weights (see dsir_weights) → orderBy+limit, which plans as
    TakeOrderedAndProject (per-partition top-k + driver merge of k·P
    rows — no single-partition window over the corpus); the rank window
    then runs over k rows only.

    Output: ``(id, log_weight, sample_rank)``, rank 1-based."""
    w = dsir_weights(
        df, id_col, text_col, target, num_buckets, alpha, materialize=materialize
    )
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"dsir{seed}:"), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    u = (u32 + F.lit(1)).cast("double") / F.lit(float(2**32 + 1))
    gumbel = -F.log(-F.log(u))
    keyed = w.withColumn(
        "_g_key",
        F.round(F.col("log_weight") + gumbel, 12).cast("decimal(38,12)"),
    )
    order = [F.col("_g_key").desc(), F.col(id_col)]
    out = (
        keyed.orderBy(*order)
        .limit(k)
        .withColumn("sample_rank", F.row_number().over(Window.orderBy(*order)))
        .select(id_col, "log_weight", "sample_rank")
    )
    ck = getattr(w, "_materialized_checkpoints", None)
    if ck:
        out._materialized_checkpoints = ck
    return out


def c4_clean(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The C4 line-level cleaning pass (Raffel et al. 2020, §2.2 — the
    Common Crawl recipe T5 trained on, and the template RefinedWeb/Dolma
    line filters descend from):

    * keep only lines ending in terminal punctuation (. ! ? ");
    * keep only lines with ≥ 5 words;
    * drop the whole document if it mentions "lorem ipsum" or contains a
      curly brace (code), or if fewer than 3 lines survive (the paper
      drops <3-SENTENCE pages; lines are its sentence proxy, and ours).

    Output per document: ``text_clean`` (surviving lines re-joined),
    ``n_lines_total``, ``n_lines_kept``, ``keep_doc`` (int). Pure per-row
    array/string expressions — no joins, no aggregation, no Python;
    embarrassingly parallel at any scale. NULL text cleans to the empty
    document (kept=0, dropped)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(t, r"\n")
    kept = F.filter(
        lines,
        lambda l: F.rtrim(l).rlike(r'[.!?"]$')
        & (F.size(F.filter(F.split(l, r"\s+"), lambda x: x != "")) >= 5),
    )
    lower = F.lower(t)
    bad_doc = lower.contains("lorem ipsum") | lower.contains("{")
    n_kept = F.size(kept)
    keep = (~bad_doc) & (n_kept >= 3)
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("text_clean"),
        F.size(lines).cast("bigint").alias("n_lines_total"),
        n_kept.cast("bigint").alias("n_lines_kept"),
        keep.cast("int").alias("keep_doc"),
    )


def temperature_quotas(
    df: DataFrame,
    group_col: str,
    k: int,
    tau: float = 2.0,
    scale: int = 10**6,
) -> DataFrame:
    """Temperature-scaled mixture quotas (the mT5/Llama multilingual-mix
    recipe, Xue et al. 2021 §3.1): group g receives a share of the ``k``
    sample budget proportional to ``n_g^(1/tau)`` — tau=1 keeps natural
    proportions, tau→∞ approaches uniform, the standard knob for keeping
    low-resource groups from vanishing.

    Exact-integer contract: the tempered weight quantizes to BIGINT via
    ``floor(pow(n, 1/tau)·scale + 0.5)`` (one double pow per GROUP, the
    ANN-quantize device — a last-ulp libm disagreement would need to land
    exactly on a .5 boundary), and the budget splits by LARGEST-REMAINDER
    apportionment in pure integer arithmetic: base = (k·w) div W,
    remainder rank (rem DESC, group ASC) distributes the leftover — so
    quotas sum to exactly k and hash bit-for-bit in any engine.

    Plan: one group count, then everything operates on the G-row group
    dimension (two broadcast 1-row crossJoins for the totals and one
    unpartitioned window over G rows — G is the number of groups, tiny by
    construction). Output: (group, n_rows, w_scaled, quota)."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_rows"))
    w = F.floor(
        F.pow(F.col("n_rows").cast("double"), F.lit(1.0 / tau)) * F.lit(float(scale))
        + F.lit(0.5)
    ).cast("long")
    dim = counts.withColumn("w_scaled", w)
    tot = dim.agg(F.sum("w_scaled").alias("_wsum"))
    # k·w_scaled rides DECIMAL, not BIGINT: with ANSI off Spark silently
    # WRAPS a 2^63 overflow (ADVICE r10) — reachable in the advertised
    # envelope, e.g. k=1e6 quotas over n=1e10-row groups at tau=1 where
    # w_scaled ~ n·scale = 1e16. decimal(19,0)×decimal(19,0) → (38,0)
    # holds any long×long product exactly; div returns BIGINT and
    # base ≤ k, so every downstream type is unchanged and the quotas are
    # bit-identical wherever BIGINT didn't overflow (oracle unaffected).
    kw = F.col("w_scaled").cast("decimal(19,0)") * F.lit(int(k)).cast("decimal(19,0)")
    based = (
        dim.crossJoin(F.broadcast(tot))
        .withColumn("_kw", kw)
        .withColumn("_base", F.expr("_kw div _wsum"))
        .withColumn("_rem", F.col("_kw") % F.col("_wsum"))
    )
    leftover = based.agg((F.lit(int(k)) - F.sum("_base")).alias("_left"))
    wn = Window.orderBy(F.desc("_rem"), F.asc(group_col))
    return (
        based.crossJoin(F.broadcast(leftover))
        .withColumn("_rk", F.row_number().over(wn))
        .select(
            group_col,
            "n_rows",
            "w_scaled",
            (
                F.col("_base")
                + F.when(F.col("_rk") <= F.col("_left"), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("quota"),
        )
    )


def temperature_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
    tau: float = 2.0,
    salt: str = "temp",
    scale: int = 10**6,
    quotas: DataFrame | None = None,
) -> DataFrame:
    """Draw the temperature-mixed sample: per-group quotas from
    :func:`temperature_quotas`, members chosen by the engine-portable
    md5(salt‖id) order (quota_sample's device — deterministic,
    reproducible, growth-stable within a group until its quota changes).
    Exactly k rows come back (quotas apportion the full budget; a group
    smaller than its quota underfills and is visible via the quota
    column). The rank window shares quota_sample's shape and its 100 TB
    note: pre-filter by a hash threshold when groups are huge relative to
    their quota so the exact window only sorts survivors.

    Production one-scan path (VERDICT r10 #2): pass ``quotas=`` a
    precomputed :func:`temperature_quotas` frame (G rows — collectable,
    broadcastable, writable) and the member draw becomes the ONLY corpus
    pass; left declarative, the G-row dimension is re-derived under the
    two totals crossJoins — measured FIVE corpus scans (PLANS.md). Same
    quota values either way, so the sample and its hash are unchanged
    (pinned in tests/test_curation.py)."""
    if quotas is None:
        quotas = temperature_quotas(df, group_col, k, tau, scale)
    order = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    wn = Window.partitionBy(group_col).orderBy(order, F.col(id_col))
    ranked = df.select(group_col, id_col).withColumn(
        "sample_rank", F.row_number().over(wn).cast("long")
    )
    return (
        ranked.join(F.broadcast(quotas), group_col)
        .filter(F.col("sample_rank") <= F.col("quota"))
        .select(group_col, id_col, "sample_rank", "quota")
    )


def llm_prep(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    target,
    k: int = 50,
    chars_col: str | None = None,
    num_buckets: int = 4096,
    materialize: bool = False,
) -> DataFrame:
    """The end-to-end LLM training-data prep composite as a reusable
    operator (the registry's ``pipeline_llm_prep`` row calls this):
    Gopher heuristic gate (``text.llm_gate_filter`` — shared with the
    streaming twin) → canonical exact-dedup keep (longest text wins,
    id tie-break; ``chars_col`` supplies the length, else it computes
    ``length(text)``) → DSIR importance selection of the ``k`` most
    target-like survivors (``target`` is a boolean Column over the
    corpus schema selecting the target slice).

    ``materialize=True`` is the production stage-boundary path (the
    ccnet_lm / dsir_weights sidecar pattern, VERDICT r10 #1's prose made
    code): the survivor frame eagerly checkpoints between the dedup and
    selection stages, so DSIR's three passes read the materialized
    survivors instead of re-deriving the corpus→gate→keepers subtree
    each time — the declarative one-query form re-derives it per
    consumer (measured 16 corpus scans in PLANS.md; exactly the
    stage-boundary parquet handoff a CLI pipeline run performs). Output
    is bit-identical either way (pinned in tests/test_curation.py)."""
    from pgdedupe_spark.operators.dedup import normalize_text
    from pgdedupe_spark.operators.text import gopher_quality, llm_gate_filter

    # cast to LONG so char counts beyond INT range are safe under ANSI
    chars = (
        F.col(chars_col)
        if chars_col
        else F.length(F.coalesce(F.col(text_col), F.lit("")))
    ).cast("long")
    gate = llm_gate_filter(gopher_quality(corpus, id_col, text_col), id_col)
    gated = corpus.join(gate, id_col)
    # longest-wins, id-ascending tie-break, via LEXICOGRAPHIC struct
    # ordering — ADVICE r11: the former chars·1e9 + id arithmetic key
    # silently assumed 0 <= id < 1e9; ids outside that range (or
    # negative) could let a SHORTER duplicate win with no error. struct
    # max_by compares (_chars, id) field-by-field, valid for any id.
    keepers = (
        gated.select(
            normalize_text(F.col(text_col)).alias("norm"),
            F.col(id_col),
            chars.alias("_chars"),
        )
        .groupBy("norm")
        .agg(
            F.max_by(
                id_col, F.struct(F.col("_chars"), F.col(id_col))
            ).alias(id_col)
        )
        .select(id_col)
    )
    surv = gated.join(keepers, id_col)
    if materialize:
        surv = surv.localCheckpoint(eager=True)
    out = dsir_sample(
        surv, id_col, text_col, surv.filter(target), k, num_buckets,
        materialize=materialize,
    )
    if materialize:
        # hand the checkpoints to the caller for release after the
        # consuming action (the pq_encode cache discipline; SCALE.md
        # rule 7 — checkpoint blocks outlive unpersist and would
        # accumulate one survivor frame per call in a long session).
        # dsir_sample(materialize=True) adds its own feature checkpoint.
        out._materialized_checkpoints = [surv] + (
            getattr(out, "_materialized_checkpoints", None) or []
        )
    return out


def release_materialized(df: DataFrame) -> None:
    """Free the eager localCheckpoints a ``materialize=True`` operator
    (llm_prep, text.ccnet_buckets) attached to its result — call after
    the action that consumed it. No-op for frames without one."""
    from pgdedupe_spark.operators.clustering import _free_local_checkpoint

    for ck in getattr(df, "_materialized_checkpoints", None) or []:
        _free_local_checkpoint(ck)
    df._materialized_checkpoints = []


def token_budget_epochs(
    df: DataFrame,
    group_col: str,
    token_col: str,
    budget: int,
    max_epochs: int = 4,
    tau: float = 1.0,
    scale: int = 10**6,
) -> DataFrame:
    """Token-budget epoch allocation under a repeat cap — the
    data-constrained-scaling mixing recipe (Muennighoff et al. 2023:
    repeating a source up to ~4 epochs is nearly as good as fresh data,
    beyond that returns decay) composed with the temperature mix: a
    training-token ``budget`` splits across groups ∝ n_g^(1/tau), but no
    group may contribute more than ``max_epochs`` passes over its own
    tokens — budget a capped group can't absorb REDISTRIBUTES to the
    uncapped ones (water-filling).

    Closed form, no iteration: sorted by fill ratio r_g = cap_g / w_g
    (one IEEE division of exact ints — engine-identical), the capped set
    is the maximal PREFIX where cap_k·(W − cumw_k) ≤ (B − cumcap_k)·w_k
    (integer cross-multiplication in DECIMAL(38,0), overflow-safe to
    ~1e38 cross-products — with w ≈ n^(1/tau)·scale that admits any
    realistic corpus); the leftover
    budget apportions over uncapped weights by exact largest remainder
    (the temperature_quotas device), so Σ tokens_alloc == budget
    whenever any group is uncapped (a remainder seat may exceed a
    group's cap by at most 1 token); with EVERY group capped the
    shortfall is visible as Σ tokens_alloc = Σ cap < budget.

    Output per group: (group, n_tokens, w_scaled DECIMAL(38,0), capped
    int, tokens_alloc, epochs) with epochs = tokens_alloc / n_tokens
    (one IEEE division). Groups whose token sum is ≤ 0 are DROPPED at
    the aggregate (ADVICE r11: a zero-token group otherwise rode
    through as fill ratio 0/0 = NaN and leaked epochs = NaN to
    consumers; it can absorb no budget, so it has no row). w_scaled
    rides DECIMAL(38,0) end-to-end (VERDICT r11 #6: the former LONG
    cast errored loudly for a single group above ~9e12 tokens at the
    default scale under ANSI; quantized weights beyond 2^53 inherit
    double granularity from the pow, like the oracle's). Plan: ONE
    corpus pass (the group token-sum aggregate, eagerly checkpointed —
    G rows, the bounded-sidecar pattern), then everything operates on
    the G-row dimension (three 1-row broadcasts + two G-row windows)."""
    counts = (
        df.groupBy(group_col)
        .agg(F.sum(token_col).cast("long").alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
        .localCheckpoint(eager=True)  # G rows; the ONLY corpus pass
    )
    # floor in double space (x − x mod 1), then an exact cast of the
    # integral double to DECIMAL(38,0): bit-identical to the former
    # floor()→LONG for every value below 2^53, no ceiling above it
    x = (
        F.pow(F.col("n_tokens").cast("double"), F.lit(1.0 / tau))
        * F.lit(float(scale))
        + F.lit(0.5)
    )
    w = (x - (x % F.lit(1.0))).cast("decimal(38,0)")
    dim = counts.withColumn("w_scaled", w).withColumn(
        "cap", (F.col("n_tokens") * F.lit(int(max_epochs))).cast("long")
    )
    tot = dim.agg(F.sum("w_scaled").alias("_wtot"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    order = [F.asc("_r"), F.asc(group_col)]
    cum = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d = (
        dim.crossJoin(F.broadcast(tot))
        .withColumn("_r", F.col("cap").cast("double") / F.col("w_scaled").cast("double"))
        .withColumn("_cumcap", F.sum("cap").over(cum))
        .withColumn("_cumw", F.sum("w_scaled").over(cum))
    )
    cond = dec(F.col("cap")) * dec(F.col("_wtot") - F.col("_cumw")) <= dec(
        F.lit(int(budget)) - F.col("_cumcap")
    ) * dec(F.col("w_scaled"))
    # prefix-closure by construction: a row is capped only if every row
    # before it (in fill-ratio order) is too — the window min replays the
    # iterative water-fill exactly
    d = d.withColumn(
        "capped",
        F.min(F.when(cond, 1).otherwise(0)).over(cum) == 1,
    )
    caps = d.agg(
        F.coalesce(F.sum(F.when(F.col("capped"), F.col("cap"))), F.lit(0)).alias("_capsum"),
        F.coalesce(F.sum(F.when(~F.col("capped"), F.col("w_scaled"))), F.lit(0)).alias(
            "_wunc"
        ),
    )
    d = d.crossJoin(F.broadcast(caps)).withColumn(
        "_rbud", (F.lit(int(budget)) - F.col("_capsum")).cast("long")
    )
    kw = dec(F.col("w_scaled")) * dec(F.col("_rbud"))
    d = d.withColumn(
        "_base",
        F.when(F.col("capped") | (F.col("_wunc") == 0), F.lit(0)).otherwise(
            F.expr("CAST((CAST(w_scaled AS DECIMAL(38,0)) * CAST(_rbud AS DECIMAL(38,0)))"
                   " div _wunc AS BIGINT)")
        ),
    ).withColumn(
        "_rem",
        F.when(F.col("capped") | (F.col("_wunc") == 0), F.lit(None)).otherwise(
            kw % F.col("_wunc")
        ),
    )
    lo = d.agg(
        (F.coalesce(F.max("_rbud"), F.lit(0)) - F.sum("_base")).alias("_left"),
        F.sum(F.when(~F.col("capped"), 1).otherwise(0)).alias("_nunc"),
    )
    rk = Window.orderBy(F.desc_nulls_last("_rem"), F.asc(group_col))
    out = (
        d.crossJoin(F.broadcast(lo))
        .withColumn("_rk", F.row_number().over(rk))
        .withColumn(
            "tokens_alloc",
            F.when(F.col("capped") | (F.col("_nunc") == 0), F.col("cap")).otherwise(
                F.col("_base")
                + F.when(F.col("_rk") <= F.col("_left"), F.lit(1)).otherwise(F.lit(0))
            ).cast("long"),
        )
    )
    return out.select(
        group_col,
        "n_tokens",
        "w_scaled",
        F.col("capped").cast("int").alias("capped"),
        "tokens_alloc",
        (F.col("tokens_alloc").cast("double") / F.col("n_tokens").cast("double")).alias(
            "epochs"
        ),
    )
