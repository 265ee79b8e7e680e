"""Blocking subsystem (SURVEY.md §2 D5-D7, J1-J2, A2-A3, F2, W1).

Reference dataflow (``pgdedupe/run.py:187-321``)::

    entries_unique ─blocker─▶ blocking_map(block_key, _unique_id)
      → plural_key(block_key, block_id)        -- keys covering ≥2 records
      → plural_block(block_id, _unique_id)
      → covered_blocks(_unique_id, sorted_ids) -- ordered array of block ids
      → smaller_coverage(_unique_id, block_id, smaller_ids)

``smaller_ids`` is the Kolb et al. redundant-free-comparison device
(``run.py:293-319``): a pair inside block B is only compared if B is the
*smallest* block id the two records share.

Spark-first notes:

* predicate blocking is a flatMap: one ``explode`` of an array-of-keys
  column built from pure column expressions (JVM-side, no Python UDFs for
  the built-in predicate library).
* ``plural_key`` is tiny relative to the input (distinct block keys with ≥2
  members) → broadcast-join it back onto blocking_map (J1). It is also the
  one block guard: the ``max_block_size`` cap (default 10000 through
  :func:`blocking_chain`) drops oversized blocks where their sizes are
  counted, and reports what it dropped in an Observation, so the pair
  self-join (``operators/pairs.py``) only ever sees surviving blocks.
* the ordered array agg (A3) is ``sort_array(collect_list(...))``.
* ``smaller_ids`` uses ``filter(sorted_ids, x -> x < block_id)`` — clearer
  and NULL-safe vs the reference's slice-by-position (``run.py:314-319``,
  SURVEY F2).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from pgdedupe_spark.operators.ids import add_rank_id

# ---------------------------------------------------------------------------
# Predicate library (dedupe's "simple predicates": pure functions of one
# field → iterable of block keys; SURVEY D6). Each returns an array<string>
# Column; NULL fields produce an empty array (dedupe skips missing values).
# ---------------------------------------------------------------------------


def _nonnull(col: Column, arr: Column) -> Column:
    return F.when(col.isNull(), F.array().cast("array<string>")).otherwise(arr)


def whole_field(col: Column) -> Column:
    return _nonnull(col, F.array(col.cast("string")))


def first_chars(col: Column, n: int) -> Column:
    return _nonnull(col, F.array(F.substring(col.cast("string"), 1, n)))


def last_chars(col: Column, n: int) -> Column:
    s = col.cast("string")
    return _nonnull(col, F.array(F.substring(s, -n, n)))


def tokens(col: Column) -> Column:
    """Whitespace tokens of the field."""
    return _nonnull(
        col,
        F.array_distinct(F.filter(F.split(col.cast("string"), r"\s+"), lambda t: t != "")),
    )


def first_token(col: Column) -> Column:
    return _nonnull(col, F.slice(tokens(col), 1, 1))


def char_ngrams(col: Column, n: int) -> Column:
    s = col.cast("string")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(s) - (n - 1), F.lit(1))),
        lambda i: F.substring(s, i, n),
    )
    return _nonnull(col, F.array_distinct(grams))


def common_integers(col: Column) -> Column:
    """All integer substrings of the field (dedupe's commonIntegerPredicate)."""
    return _nonnull(col, F.array_distinct(F.regexp_extract_all(col.cast("string"), F.lit(r"\d+"), 0)))


def first_integer(col: Column) -> Column:
    """First integer substring (dedupe's firstIntegerPredicate); empty when
    the field has no digits."""
    first = F.regexp_extract(col.cast("string"), r"\d+", 0)
    return _nonnull(col, F.filter(F.array(first), lambda t: t != ""))


def near_integers(col: Column) -> Column:
    """For every integer i in the field: {i-1, i, i+1} (dedupe's
    nearIntegersPredicate) — blocks off-by-one ids like twin SSNs.
    ``try_cast`` guards ANSI overflow on digit runs longer than a long."""
    def spread(t: Column) -> Column:
        n = t.try_cast("long")
        return F.when(n.isNull(), F.array(t)).otherwise(
            F.array((n - 1).cast("string"), n.cast("string"), (n + 1).cast("string"))
        )

    return _nonnull(col, F.array_distinct(F.flatten(F.transform(common_integers(col), spread))))


def alpha_numeric(col: Column) -> Column:
    """All alphanumeric tokens (dedupe's alphaNumericPredicate)."""
    return _nonnull(
        col, F.array_distinct(F.regexp_extract_all(col.cast("string"), F.lit(r"[A-Za-z0-9]+"), 0))
    )


def suffixes(col: Column, min_len: int = 5) -> Column:
    """All suffixes of length ≥ ``min_len`` (dedupe's suffixArray)."""
    s = col.cast("string")
    sfx = F.transform(
        F.sequence(F.lit(1), F.length(s) - (min_len - 1)),
        lambda i: F.substring(s, i, 1_000_000),
    )
    # sequence(1, n) counts DOWN when n < 1 — gate short strings explicitly
    return _nonnull(col, F.when(F.length(s) >= min_len, sfx).otherwise(F.array().cast("array<string>")))


def fingerprint(col: Column) -> Column:
    """Sorted distinct whitespace tokens, concatenated (dedupe's
    fingerprint): word-order- and duplication-insensitive whole-field key."""
    return _nonnull(col, F.array(F.array_join(F.array_sort(tokens(col)), "")))


def one_gram_fingerprint(col: Column) -> Column:
    """Sorted distinct characters of the field, whitespace removed
    (dedupe's oneGramFingerprint)."""
    chars = F.split(F.regexp_replace(col.cast("string"), r"\s+", ""), "")
    key = F.array_join(F.array_sort(F.array_distinct(F.filter(chars, lambda c: c != ""))), "")
    return _nonnull(col, F.array(key))


def two_gram_fingerprint(col: Column) -> Column:
    """Sorted distinct character 2-grams, concatenated (dedupe's
    twoGramFingerprint)."""
    return _nonnull(col, F.array(F.array_join(F.array_sort(char_ngrams(col, 2)), "")))


def sorted_acronym(col: Column) -> Column:
    """Sorted first letters of the tokens (dedupe's sortedAcronym)."""
    initials = F.transform(tokens(col), lambda t: F.substring(t, 1, 1))
    return _nonnull(col, F.array(F.array_join(F.array_sort(initials), "")))


def common_two_tokens(col: Column) -> Column:
    """Consecutive token bigrams (dedupe's commonTwoTokens)."""
    toks = F.filter(F.split(col.cast("string"), r"\s+"), lambda t: t != "")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    return _nonnull(
        col, F.when(F.size(toks) >= 2, F.array_distinct(grams)).otherwise(F.array().cast("array<string>"))
    )


def common_three_tokens(col: Column) -> Column:
    """Consecutive token trigrams (dedupe's commonThreeTokens)."""
    toks = F.filter(F.split(col.cast("string"), r"\s+"), lambda t: t != "")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1), F.element_at(toks, i + 2)
        ),
    )
    return _nonnull(
        col, F.when(F.size(toks) >= 3, F.array_distinct(grams)).otherwise(F.array().cast("array<string>"))
    )


def soundex_code(col: Column) -> Column:
    """Phonetic key of the whole field. Spark-native deviation: dedupe uses
    doubleMetaphone (C extension); ``F.soundex`` is the JVM-side phonetic
    hash with the same blocking role — both collapse spelling variants of
    the same-sounding name into one key."""
    return _nonnull(col, F.array(F.soundex(col.cast("string"))))


def soundex_tokens(col: Column) -> Column:
    """Phonetic key per token (dedupe's metaphoneToken, via soundex)."""
    return _nonnull(col, F.array_distinct(F.transform(tokens(col), F.soundex)))


def exists_field(col: Column) -> Column:
    """Presence/absence key (dedupe's existsPredicate). Unlike every other
    predicate, NULL produces a key ("0") rather than no key."""
    return F.when(
        col.isNull() | (F.trim(col.cast("string")) == ""), F.array(F.lit("0"))
    ).otherwise(F.array(F.lit("1")))


def hundred_ints(col: Column) -> Column:
    """Integers of the field rounded to the hundred (dedupe's
    hundredIntPredicate)."""
    def bucket(t: Column) -> Column:
        n = t.try_cast("long")
        return F.when(n.isNull(), t).otherwise((n - n % 100).cast("string"))

    return _nonnull(col, F.array_distinct(F.transform(common_integers(col), bucket)))


def round_magnitude(col: Column) -> Column:
    """Numeric field rounded to one significant digit (dedupe's roundTo1).
    Non-numeric and empty fields produce no key; log10 of a non-positive
    number is NULL in Spark, so zero is keyed explicitly."""
    d = col.try_cast("double")
    power = F.floor(F.log10(F.abs(d)))
    rounded = F.round(d / F.pow(F.lit(10.0), power)) * F.pow(F.lit(10.0), power)
    key = F.when(d == 0.0, F.lit("0")).otherwise(rounded.cast("long").cast("string"))
    return F.when(d.isNull(), F.array().cast("array<string>")).otherwise(F.array(key))


PREDICATES: dict[str, Callable[..., Column]] = {
    "whole_field": whole_field,
    "first_chars": first_chars,
    "last_chars": last_chars,
    "tokens": tokens,
    "first_token": first_token,
    "char_ngrams": char_ngrams,
    "common_integers": common_integers,
    "first_integer": first_integer,
    "near_integers": near_integers,
    "alpha_numeric": alpha_numeric,
    "suffixes": suffixes,
    "fingerprint": fingerprint,
    "one_gram_fingerprint": one_gram_fingerprint,
    "two_gram_fingerprint": two_gram_fingerprint,
    "sorted_acronym": sorted_acronym,
    "common_two_tokens": common_two_tokens,
    "common_three_tokens": common_three_tokens,
    "soundex_code": soundex_code,
    "soundex_tokens": soundex_tokens,
    "exists_field": exists_field,
    "hundred_ints": hundred_ints,
    "round_magnitude": round_magnitude,
}


def make_block_key_expr(rules: list[tuple[str, str, tuple]]) -> Column:
    """Compose predicate rules into one array<string> of namespaced block keys.

    ``rules``: list of (predicate_name, field, extra_args). Keys are prefixed
    with ``"{i}:{field}:"`` so different predicates never collide (mirrors
    dedupe's per-predicate key namespacing).
    """
    # NB: bind the prefix via a real closure, NOT a defaulted second lambda
    # param — pyspark calls any two-parameter lambda as (element, index),
    # defaults included, which silently replaced the namespace prefix with
    # the element position (r8 find; '0york' from either rule collided)
    def _prefixed(keys: Column, prefix: str) -> Column:
        return F.transform(keys, lambda k: F.concat(F.lit(prefix), k))

    parts = []
    for i, (pred, field, args) in enumerate(rules):
        keys = PREDICATES[pred](F.col(field), *args)
        parts.append(_prefixed(keys, f"{i}:{field}:"))
    out = parts[0]
    for p in parts[1:]:
        out = F.concat(out, p)
    return out


# ---------------------------------------------------------------------------
# The blocking chain
# ---------------------------------------------------------------------------


def blocking_map(entries: DataFrame, block_keys: Column, id_col: str = "_unique_id") -> DataFrame:
    """flatMap record → (block_key, _unique_id)  [run.py:226-245 analog]."""
    return entries.select(
        F.explode(F.array_distinct(block_keys)).alias("block_key"), F.col(id_col)
    )


def plural_key(bmap: DataFrame, max_block_size: int | None = None):
    """Block keys covering ≥2 records, with a deterministic serial block_id
    [run.py:265-275; A2 + W1]. Ordering by block_key is a total order.
    Returns ``(plural_key, audit)``.

    ``max_block_size`` is the guard against quadratic blowup in a
    degenerate block (dedupe's cap; SCALE.md "AQE skew-join won't save a
    quadratic block"): blocks with more members are dropped here, where
    the block sizes are already counted, so every later stage — the
    ``smaller_ids`` of the redundancy test included — sees only the
    surviving blocks. Drops are never silent: with a cap, ``audit`` is a
    ``pyspark.sql.Observation`` whose ``.get`` reports ``entries_dropped``
    (coverage rows in over-cap blocks), ``blocks_seen_max`` (the largest
    plural block) and ``entries_seen`` (coverage rows before the cap). The
    eager checkpoint in :func:`ids.add_rank_id` fills it, so it costs no
    extra job. ``None`` means uncapped, and ``audit`` is ``None``.

    Size-adaptive id assignment through :func:`ids.add_rank_id`: the plural
    keys are checkpointed once, and the same pass counts them. Up to
    ``ids.ROW_NUMBER_MAX_ROWS`` keys take a single-partition
    ``row_number``, more take the range-partitioned scale path — at 100 TB
    the distinct plural keys of a loose predicate can be billions of rows,
    where a single-partition window sort is the job-killer. A local
    checkpoint, not ``persist()``: it registers nothing with the
    CacheManager, so repeated calls in one session leave no cached frame
    behind."""
    sized = bmap.groupBy("block_key").count().filter(F.col("count") > 1)
    audit = None
    if max_block_size is not None:
        audit = Observation("block_audit")
        size = F.col("count")
        sized = sized.observe(
            audit,
            F.coalesce(
                F.sum(F.when(size > max_block_size, size).otherwise(0)), F.lit(0)
            ).alias("entries_dropped"),
            F.coalesce(F.max(size), F.lit(0)).alias("blocks_seen_max"),
            F.coalesce(F.sum(size), F.lit(0)).alias("entries_seen"),
        ).filter(size <= max_block_size)
    return add_rank_id(sized.drop("count"), ["block_key"], id_col="block_id"), audit


def plural_block(bmap: DataFrame, pkey: DataFrame) -> DataFrame:
    """blocking_map ⋈ plural_key → (block_id, _unique_id) [run.py:282-285, J1].
    No forced broadcast: pkey is usually the dim side and AQE broadcasts it
    from runtime stats, but a loose predicate can make it arbitrarily large
    (same hazard class as the exact-merge relabel map)."""
    return bmap.join(pkey, "block_key").select("block_id", "_unique_id")


def covered_blocks(pblock: DataFrame) -> DataFrame:
    """Per record: sorted array of its block ids [run.py:298-303, A3]."""
    return pblock.groupBy("_unique_id").agg(
        F.sort_array(F.collect_list("block_id")).alias("sorted_ids")
    )


def smaller_coverage(pblock: DataFrame, covered: DataFrame) -> DataFrame:
    """Per (record, block): the record's smaller shared block ids
    [run.py:310-319, J2 + F2]. Equi-join on _unique_id; the array filter
    replaces the reference's idx()+slice (empty array when block_id is the
    record's first block, matching the empty PG slice)."""
    return pblock.join(covered, "_unique_id").select(
        "_unique_id",
        "block_id",
        F.filter("sorted_ids", lambda x: x < F.col("block_id")).alias("smaller_ids"),
    )


def blocking_chain(
    entries: DataFrame,
    block_keys: Column,
    id_col: str = "_unique_id",
    max_block_size: int | None = 10000,
):
    """Run the whole chain; returns (blocking_map, plural_key, plural_block,
    covered_blocks, smaller_coverage, block_audit).

    Capped by default at the pipeline's guard value (10000, the default
    ``DedupeConfig.max_block_size`` carries), never silently: see
    :func:`plural_key` for the cap and its audit. ``None`` is the uncapped
    chain (probes and certification only), with ``block_audit`` None."""
    bmap = blocking_map(entries, block_keys, id_col)
    pkey, audit = plural_key(bmap, max_block_size)
    pblock = plural_block(bmap, pkey)
    covered = covered_blocks(pblock)
    smaller = smaller_coverage(pblock, covered)
    return bmap, pkey, pblock, covered, smaller, audit


# ---------------------------------------------------------------------------
# Index predicates (dedupe's TfidfTextCanopyPredicate family, run.py:213-222):
# predicates that need corpus statistics, not just the row. The canopy's job
# is "block on *informative* terms only"; the Spark-idiomatic equivalent is a
# document-frequency cut — identical selectivity contract, no per-row index
# lookups, two shuffles total (token agg + token join).
# ---------------------------------------------------------------------------


def rare_token_blocking_map(
    entries: DataFrame,
    field: str,
    id_col: str = "_unique_id",
    max_df: int = 100,
    min_df: int = 2,
) -> DataFrame:
    """Blocking map keyed on the field's RARE tokens only.

    TF-IDF canopy analog: a token whose document frequency is in
    [min_df, max_df] is informative enough to define a block; hot tokens
    (df > max_df — the "the"/"inc" class that canopies exist to suppress)
    produce no keys, so no pathological blocks form. ``tokens`` already
    dedups per document, so df = plain count. At 100 TB both steps are
    plain key-partitioned shuffles on the token; the df side is a
    token-dictionary-sized aggregate that AQE broadcasts when small."""
    toks = entries.select(
        F.col(id_col), F.explode(tokens(F.col(field))).alias("tok")
    )
    informative = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= min_df) & (F.col("df") <= max_df))
        .select("tok")
    )
    return toks.join(informative, "tok").select(
        F.concat(F.lit(f"rare:{field}:"), F.col("tok")).alias("block_key"),
        F.col(id_col),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_cols: list[str],
    window: int = 5,
) -> DataFrame:
    """Sorted-neighborhood blocking (the OTHER classic ER candidate
    generator, complementary to predicate/token blocking D6/D7): sort
    the corpus by a fuzzy key and pair every record with its ``window``
    successors — records that are near-duplicates sort near each other
    even when no predicate token matches exactly (typo in the first
    token, prefix truncation). Output (id1, id2, rank_gap), id1 the
    lower-ranked record, 1 ≤ rank_gap ≤ window — exactly the pairs a
    row_number self-join ``0 < rb−ra ≤ w`` produces, O(n·w) of them.

    Scale shape: ranks come from :func:`ids.add_deterministic_id`
    (range-partition + per-partition offsets — NO single-partition
    global sort), and the neighbor join is an EQUI-join: cells of width
    ``window`` on the rank, the right side exploded to (cell, cell−1),
    so every qualifying pair meets on exactly one key (cells differ by
    ≤1 when ranks differ by ≤ window — no distinct needed, no range
    join, no cartesian). ``sort_cols + [id_col]`` must be a unique
    total order; ``id_col`` is appended as the tiebreak."""
    from pgdedupe_spark.operators.ids import add_deterministic_id

    ranked = add_deterministic_id(
        df.select(id_col, *sort_cols), [*sort_cols, id_col], "_snm_rank"
    ).select(F.col(id_col).alias("_id"), F.col("_snm_rank").alias("_rk"))
    cell = ((F.col("_rk") - 1) / F.lit(window)).cast("long")
    a = ranked.select("_id", "_rk", cell.alias("_cell"))
    b = ranked.select(
        F.col("_id").alias("_idb"),
        F.col("_rk").alias("_rkb"),
        F.explode(F.array(cell, cell - 1)).alias("_cell"),
    )
    return (
        a.join(b, "_cell")
        .filter(
            (F.col("_rkb") > F.col("_rk"))
            & (F.col("_rkb") - F.col("_rk") <= window)
        )
        .select(
            F.col("_id").alias("id1"),
            F.col("_idb").alias("id2"),
            (F.col("_rkb") - F.col("_rk")).cast("int").alias("rank_gap"),
        )
    )
