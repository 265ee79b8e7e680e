"""Document deduplication operators for large-scale training-data pipelines.

Extensions beyond the reference's person-record pipeline (BASELINE.json
north star): exact, n-gram Jaccard (exact, inverted-index), MinHash-LSH
(approximate, the 100 TB path), and SimHash (Hamming-ball near-dup).

Scale design:
* exact dedup = one hash aggregate on the normalized text (map-side combine).
* n-gram Jaccard uses an inverted index (explode shingles → self-join on
  shingle → count co-occurrences): exact, but posting lists of hot shingles
  are quadratic — `max_posting` caps them (standard df-cut: a shingle shared
  by >p docs carries little signal). This is the *verifier*; at 100 TB you
  front it with MinHash-LSH candidates.
* MinHash-LSH: k Carter–Wegman permutations of one md5 base hash per
  shingle (numpy over Arrow batches; the DuckDB oracles replay the same
  arithmetic), banded into b buckets → candidates = bucket-join →
  verified with exact Jaccard. One candidate join (`_lsh_candidates`)
  and one verify (`_jaccard_verify`) serve every consumer: in-memory
  pairs, the persisted index (serve and probe), the near-dup stream
  (streaming/ops.py), and — verify only — the fuzzy gazetteer
  (linkage.py) and exact incremental dedup. One shuffle per stage; hot
  buckets handled by AQE.
* SimHash: 64-bit signature computed JVM-side (xxhash64 per token +
  higher-order bit-majority), candidate pairs via the pigeonhole band join
  (hamming ≤ d ⇒ some ⌈64/(d+1)⌉-bit chunk equal).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pgdedupe_spark.operators.ids import add_deterministic_id
from pgdedupe_spark.sources.io import local_sidecar_df

# verification strategy cutover: ≤ this many distinct shingles → per-doc
# fixed bitmask (V/64 longs, ≤ 2 KiB/doc) + bit_count intersection
_BITMAP_MAX_VOCAB = 16384

# Per-call persisted intermediates (signature/bucket frames). The persists
# are load-bearing — they are the materialization BARRIERS that stop
# Catalyst's projection collapse from re-running the minhash fold per
# consumer (see minhash_lsh_pairs) — but a returned DataFrame's lineage
# still references them, so they cannot be unpersisted inside the
# function without forcing a recompute at materialization. Long-lived
# sessions (pipelines, bench loops) therefore call :func:`release_caches`
# AFTER materializing results (ADVICE r8); bench.py additionally drains
# getPersistentRDDs between queries.
_TRACKED_CACHES: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    """persist() + track for a later :func:`release_caches`."""
    df = df.persist()
    _TRACKED_CACHES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every intermediate this module persisted since the last
    call; returns how many frames were released. Safe to call any time —
    results materialized afterwards recompute from source (correct, just
    uncached)."""
    n = len(_TRACKED_CACHES)
    for df in _TRACKED_CACHES:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped
    _TRACKED_CACHES.clear()
    return n


def _explicit_parallelism(spark) -> int:
    """Explicit partition count for the skinny pair/signature exchanges
    (the AQE tiny-shuffle-coalesce-trap sites, r12 #19/20): the count must
    be explicit so AQE cannot coalesce it (the downstream verify stage's
    parallelism is the point), but a bare defaultParallelism caps the
    exchange at cluster cores regardless of data volume (ADVICE r12) —
    max(defaultParallelism, spark.sql.shuffle.partitions) follows whichever
    knob the deployment actually raised. Locally the two are equal, so
    bench behavior is unchanged."""
    try:
        conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # noqa: BLE001 — conf unreadable: fall back to cores
        conf_parts = 0
    return max(spark.sparkContext.defaultParallelism, conf_parts)


def _fan_out(df: DataFrame, id_col: str) -> DataFrame:
    """Small parquet inputs arrive as ONE scan partition; shingling /
    signature expressions are the per-row hot loop, so spread rows across
    the cluster first (deterministic hash partitioning on the id)."""
    return df.repartition(_explicit_parallelism(df.sparkSession), F.col(id_col))


def char_shingles(col: Column, n: int = 5) -> Column:
    """Distinct character n-grams; whole string when shorter than n.
    Matches the oracle-SQL definition exactly (substr boundary semantics)."""
    s = col
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(s) - (n - 1), F.lit(1))),
            lambda i: F.substring(s, i, n),
        )
    )


def word_tokens(col: Column) -> Column:
    return F.regexp_extract_all(F.lower(col), F.lit("[a-z0-9]+"), 0)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def normalize_text(col: Column) -> Column:
    """lower + trim + collapse whitespace — the canonical exact-dedup key."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def exact_duplicate_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per duplicated normalized text: (canon_id=min id, dup_ids
    sorted, n_dups). Single hash aggregate — the O1 pre-collapse at scale."""
    return (
        df.select(normalize_text(F.col(text_col)).alias("_norm"), F.col(id_col))
        .groupBy("_norm")
        .agg(
            F.min(id_col).alias("canon_id"),
            F.sort_array(F.collect_list(id_col)).alias("dup_ids"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .filter(F.col("n_dups") > 1)
        .drop("_norm")
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard via inverted index
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.6,
) -> DataFrame:
    """All pairs with Jaccard(shingles) >= threshold -- exact, via
    **prefix filtering** (AllPairs / PPJoin family) + dictionary-encoded
    verification.

    Plan shape (one pass over the corpus; the only super-linear stage is the
    candidate verify, which the prefix + positional filters bound):

    1. Shingle-set per doc, then a global document-frequency count and a
       dense integer id per shingle ordered rarest-first (``_vid``).
    2. Each doc becomes a **sorted int array** (ascending ``_vid`` = global
       rarity order). The AllPairs prefix is ``slice(ids, 1,
       |S| - ceil(t*|S|) + 1)``: two sets with J >= t must share a prefix
       element, so indexing only prefixes loses no true pair.
    3. Candidates: self-equi-join of pos-exploded prefixes on ``_vid`` with
       the length filter ``t*|B| <= |A| <= |B|/t`` and the PPJoin positional
       filter (inline comment below), then pair-distinct.
    4. Verify exactly, switched on the observed vocabulary size:
       * **bitmap** (vocab <= ``_BITMAP_MAX_VOCAB``): each doc is a fixed
         ``V/64``-long bitmask; overlap = zip_with/aggregate popcount fold.
         (Unrolling the fold into V/64 element_at+bit_count terms measured
         5x SLOWER -- the giant flat expression falls out of codegen; the
         higher-order fold stays tight.) This is the degenerate-corpus
         regime -- tiny vocab means every doc shares the hot shingles and
         candidates stay in the millions, so per-pair cost is everything
         (209 s -> ~3 s at sf0.1 vs the naive string-array plan).
       * **array** (real corpora: huge vocab, Zipfian document frequency):
         ``array_intersect`` on the sorted int arrays -- prefixes actually
         prune there, and no fixed bitmap fits. This is the 100 TB path.

    Plan-shape lessons baked in (measured at sf0.1, keep it this way):
    evaluate the verify expression AFTER equi-joins on UNIQUE keys (one
    probe-match per candidate => #evals == #candidates, whole-stage
    codegen). All-pairs shapes that move the test into a nested-loop /
    cartesian / coarse-band join condition evaluate it per ordered COMBO,
    interpreted: 13-23 s for the same answer.
    """
    docs, cands, use_bitmap = _ngram_docs_and_candidates(df, id_col, text_col, n, threshold)

    if use_bitmap:
        v1 = docs.select(F.col("_id").alias("id1"), F.col("_sz").alias("_sz1"), F.col("_bm").alias("_bm1"))
        v2 = docs.select(F.col("_id").alias("id2"), F.col("_sz").alias("_sz2"), F.col("_bm").alias("_bm2"))
        common = F.aggregate(
            F.zip_with("_bm1", "_bm2", lambda x, y: F.bit_count(x.bitwiseAND(y))),
            F.lit(0),
            lambda acc, x: acc + x,
        )
    else:
        v1 = docs.select(F.col("_id").alias("id1"), F.col("_sz").alias("_sz1"), F.col("_ids").alias("_bm1"))
        v2 = docs.select(F.col("_id").alias("id2"), F.col("_sz").alias("_sz2"), F.col("_ids").alias("_bm2"))
        common = F.size(F.array_intersect("_bm1", "_bm2"))

    return (
        cands.join(v1, "id1")
        .join(v2, "id2")
        .withColumn("_common", common)
        .withColumn("jaccard", F.col("_common") / (F.col("_sz1") + F.col("_sz2") - F.col("_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def _shingle_frame(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """The per-doc ``(_id, _sh)`` shingle frame every dedup operator
    starts from (see :func:`_shingles_arrow` for the quadratic-substring
    measurement and the bit-parity argument against :func:`char_shingles`)."""
    return _shingles_arrow(_fan_out(df, id_col), id_col, text_col, n)


def _ngram_docs_and_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
):
    """Stages 1-3 of ``ngram_jaccard_pairs`` (docstring above): per-doc
    sorted-int shingle representation + prefix/length/positional-filtered
    candidate pairs. Split out so tests can pin the candidate-count bound
    (the prefix filter's pruning) independently of the verify stage."""
    sh = _persist(_shingle_frame(df, id_col, text_col, n))
    # materialize the shingle cache in its own job BEFORE the dfreq
    # aggregate: fusing the cache build with explode+hashAgg in one task set
    # measured 31 s vs 11 s split (4k docs × ~700 shingles) — the columnar
    # cache builders and the agg hash maps thrash the same task memory.
    sh.count()

    dfreq = _persist(
        sh.select(F.explode("_sh").alias("_s"))
        .groupBy("_s")
        .agg(F.count(F.lit(1)).alias("_df"))
    )  # consumed twice: strategy-choice count + vocab id assignment
    vocab_size = dfreq.count()
    use_bitmap = vocab_size <= _BITMAP_MAX_VOCAB

    # dense id, rarest shingle first => sorted _vid array = AllPairs order.
    if use_bitmap:
        # vocab fits a broadcast by definition; a single-partition
        # row_number over <=16k rows beats the range-partitioned scale path
        from pgdedupe_spark.operators.ids import add_row_number_id

        vocab = F.broadcast(
            add_row_number_id(dfreq, ["_df", "_s"], "_vid").select(
                "_s", (F.col("_vid") - 1).alias("_vid")
            )
        )
        nwords = (int(vocab_size) + 63) // 64
        # one two-level aggregation produces BOTH verify representations:
        # per-(doc, word) partial bitmasks + vid lists, then per-doc the
        # dense V/64-long bitmask AND the sorted vid array (a separate
        # bitmap-building subtree costs two more shuffle+agg stages).
        docs = (
            sh.select("_id", F.explode("_sh").alias("_s"))
            .join(vocab, "_s")
            .groupBy("_id", (F.col("_vid") / 64).cast("int").alias("_w"))
            .agg(
                F.bit_or(
                    F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_vid % 64 AS INT))")
                ).alias("_m"),
                F.collect_list("_vid").alias("_vw"),
            )
            .groupBy("_id")
            .agg(
                F.map_from_entries(F.collect_list(F.struct("_w", "_m"))).alias("_wm"),
                F.sort_array(F.flatten(F.collect_list("_vw"))).alias("_ids"),
            )
            .select(
                "_id",
                "_ids",
                F.transform(
                    F.sequence(F.lit(0), F.lit(nwords - 1)),
                    lambda w: F.coalesce(F.col("_wm")[w], F.lit(0).cast("long")),
                ).alias("_bm"),
            )
            .withColumn("_sz", F.size("_ids"))
        )
        docs = _persist(docs)
    else:
        # add_deterministic_id avoids the single-partition global-sort
        # window -- the vocab can be huge on real corpora (W1 scale path)
        vocab = add_deterministic_id(dfreq, ["_df", "_s"], "_vid").select(
            "_s", (F.col("_vid") - 1).alias("_vid")
        )

        docs = (
            sh.select("_id", F.explode("_sh").alias("_s"))
            .join(vocab, "_s")
            .groupBy("_id")
            .agg(F.sort_array(F.collect_list("_vid")).alias("_ids"))
            .withColumn("_sz", F.size("_ids"))
        )
        docs = _persist(docs)

    plen = F.col("_sz") - F.ceil(F.col("_sz") * F.lit(float(threshold))).cast("int") + 1
    prefix = docs.select(
        "_id", "_sz", F.posexplode(F.slice("_ids", F.lit(1), plen)).alias("_p", "_vid")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    t = float(threshold)
    # PPJoin positional filter. Both _ids arrays are sorted by the SAME
    # global order, so common elements of any two docs appear in the same
    # relative order ("aligned"); the required overlap for J >= t is
    # alpha = ceil(t*(|A|+|B|)/(1+t)) (-eps so float rounding can't
    # over-require). For a match at 0-indexed positions (i, j), alignment
    # means every common element besides this one and its predecessors sits
    # after (i, j) in BOTH arrays, so overlap <= min(|A|-i, |B|-j) and the
    # FIRST match of a pair carries the largest such bound: keeping only
    # matches with min(|A|-i, |B|-j) >= alpha drops no true pair while
    # cutting the rows entering the pair-distinct shuffle ~3x.
    alpha_join = F.ceil(
        (F.col("a._sz") + F.col("b._sz")) * F.lit(t / (1.0 + t)) - F.lit(1e-9)
    )
    cands = (
        a.join(
            b,
            (F.col("a._vid") == F.col("b._vid"))
            & (F.col("a._id") < F.col("b._id"))
            # length filter: J >= t => t*max(|A|,|B|) <= min(|A|,|B|)
            & (F.col("a._sz") >= F.lit(t) * F.col("b._sz"))
            & (F.col("b._sz") >= F.lit(t) * F.col("a._sz"))
            & (F.least(F.col("a._sz") - F.col("a._p"), F.col("b._sz") - F.col("b._p"))
               >= alpha_join),
        )
        .select(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"))
        # r12 (guide §2.5, the _lsh_candidates pattern): an
        # explicit-count repartition + dropDuplicates instead of
        # `.distinct()` — AQE coalesced the tiny pair shuffle to 1-2
        # partitions, under-parallelizing the verify stage downstream.
        # Keyed on BOTH pair columns: even spread (no hot-doc skew), and
        # no window downstream needs a single-column partitioning.
        .repartition(
            _explicit_parallelism(df.sparkSession),
            F.col("id1"), F.col("id2"),
        )
        .dropDuplicates(["id1", "id2"])
    )
    return docs, cands, use_bitmap


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path)
# ---------------------------------------------------------------------------


def portable_hash60(*cols: Column) -> Column:
    """Engine-portable 60-bit hash: the integer value of the first 15 hex
    digits of md5 over the '|'-joined string forms of ``cols``. Spark
    evaluates it as ``conv(substring(md5(concat_ws('|', …)), 1, 15), 16,
    10)`` and DuckDB as ``CAST('0x' || substr(md5(…), 1, 15) AS
    BIGINT)`` — md5 is bit-identical everywhere, so the value is too.
    This is what makes the hash-bucketed dedup family DRIVER-ORACLE
    checkable (VERDICT r7 Missing #2): Spark's xxhash64 has no DuckDB
    twin. 60 bits (not 64) keeps the value non-negative in a signed
    BIGINT on both engines — no sign-extension disagreement. MinHash
    uses it for its band keys (its per-shingle base hash is the same
    md5 prefix, computed in :func:`_minhash_sig_arrow`); SimHash's
    ``portable=True`` twin and curation's md5 samplers use it too."""
    return F.conv(
        F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15), 16, 10
    ).cast("long")


# Carter-Wegman constants for the minhash family: h_i(x) =
# (A_i * x + B_i) mod P over a P-reduced md5 base hash. P = 2^31 - 1
# (Mersenne prime) keeps A_i * x + B_i < 2^62 — no 64-bit overflow in
# either engine (Spark ANSI mode would hard-error on one; a modmul
# workaround needs 128-bit arithmetic Spark lacks). The constants are a
# fixed LCG sweep so the oracle SQL can carry them as literals; the tables
# cover minhash_lsh_pairs' default num_hashes=128.
MINHASH_P = (1 << 31) - 1
_CW_A = [((1103515245 * (i + 1) + 12345) % MINHASH_P) or 1 for i in range(128)]
_CW_B = [(1103515245 * (i + 1000) + 12345) % MINHASH_P for i in range(128)]


def _shingles_arrow(src: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Arrow-batch twin of ``char_shingles(text, n)`` + the ``size > 0``
    filter: input ``(id, text)``, output ``(_id, _sh)``. Bit-identical by
    construction:

    * grams: ``s[i:i+n] for i in range(0, max(len(s)-n+1, 1))`` — Python
      slicing counts code points exactly like UTF8String.substring, and
      ``max(…, 1)`` replays ``sequence(1, greatest(length-(n-1), 1))``
      (a shorter-than-n text yields its whole self, the empty text "");
    * distinct keeps FIRST-OCCURRENCE order (``dict.fromkeys``), like
      ``array_distinct``;
    * a NULL text yields ``[NULL]`` — length(NULL) is NULL, greatest
      skips it, sequence(1,1) indexes once, substring(NULL,…) is NULL —
      so the row SURVIVES the size filter with a one-NULL array, exactly
      like the JVM projection (pinned in the edge-case parity test).

    Why (guide §4.2, measured at the 10× census): the JVM projection is
    quadratic per document — ``substring(s, i, n)`` has no code-point
    index, so each of the ~len positions re-walks the string's bytes
    from the front; shingling ALONE cost 14.8 s of the 10×-census'
    ~21 s (the 64-hash fold was only ~3 s). Python strings are
    fixed-width indexed, so the same grams cost O(len·n). Parity pinned
    in tests/test_recall.py (exact arrays, order included)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("_id", src.schema[id_col].dataType, True),
            T.StructField("_sh", T.ArrayType(T.StringType(), True), True),
        ]
    )
    nn = int(n)

    def batches(it):
        for b in it:
            id_arr = b.column(0)
            texts = b.column(1).to_pylist()
            # every row survives (a NULL text yields [NULL], matching the
            # JVM projection — see the docstring), so the id column passes
            # through untouched (ADVICE r12: no take/permutation needed)
            shingles: list[list[str]] = []
            for s in texts:
                if s is None:
                    shingles.append([None])
                    continue
                shingles.append(
                    list(
                        dict.fromkeys(
                            s[i : i + nn]
                            for i in range(0, max(len(s) - nn + 1, 1))
                        )
                    )
                )
            yield pa.RecordBatch.from_arrays(
                [id_arr, pa.array(shingles, type=pa.list_(pa.string()))],
                names=["_id", "_sh"],
            )

    return src.select(id_col, text_col).mapInArrow(batches, schema=out_schema)


def _minhash_sig_arrow(sh: DataFrame, num_hashes: int) -> DataFrame:
    """The MinHash signature kernel (guide §4.2): input
    ``(_id, _sh array<string>)``, output ``(_id, _mhs array<long>)``.
    Bit-identical to the Spark-expression fold the DuckDB oracles replay
    (``tests/minhash_reference.py``) by construction — every step is
    exact integer arithmetic with no operation-order freedom:

    * base hash: md5 of the shingle's UTF-8 bytes, first 15 hex digits
      as an integer, mod 2^31−1 — ``hashlib.md5`` and the JVM's md5 are
      the same function of the same bytes;
    * k Carter–Wegman permutations ``(A_k·h + B_k) mod P``: A, h < P <
      2^31 so the product is < 2^62 — exact in int64 on every engine;
    * signature = elementwise min over shingles — order-free, so the
      vectorized min equals the reference's sequential ``least`` fold.

    Why: a Spark higher-order fold is interpreted per element — one md5
    plus a k-wide zip_with/least per shingle, the single most expensive
    expression in the dedup family. Here md5 runs in C (hashlib) and the
    permutations/minima vectorize in numpy over all shingles of a doc at
    once. Parity is pinned in tests/test_recall.py (against the
    reference fold on the same frame) and by the dedup_minhash_portable
    / er_gazetteer_fuzzy full-hash oracles."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    if num_hashes > len(_CW_A):
        raise ValueError(f"portable minhash supports <= {len(_CW_A)} hashes")
    A = np.asarray(_CW_A[:num_hashes], dtype=np.int64)
    B = np.asarray(_CW_B[:num_hashes], dtype=np.int64)
    out_schema = T.StructType(
        [
            sh.schema["_id"],
            T.StructField("_mhs", T.ArrayType(T.LongType(), True), True),
        ]
    )

    def batches(it):
        import hashlib

        md5 = hashlib.md5
        P = MINHASH_P
        for b in it:
            id_arr = b.column("_id")
            sh_list = b.column("_sh").to_pylist()
            n = len(sh_list)
            out = np.empty((n, num_hashes), dtype=np.int64)
            for r, shingles in enumerate(sh_list):
                # a NULL shingle (the NULL-text row) hashes like the JVM:
                # concat_ws('|', NULL) is "" → md5("")
                hs = np.fromiter(
                    (
                        int(
                            md5((s or "").encode("utf-8")).hexdigest()[:15], 16
                        ) % P
                        for s in shingles
                    ),
                    dtype=np.int64,
                    count=len(shingles),
                )
                if hs.size == 0:
                    out[r] = P  # the reference fold's init array (callers filter
                    continue  # empty shingle rows out before this stage)
                sig = np.full(num_hashes, P, dtype=np.int64)
                # chunk the (shingles × k) candidate matrix so one huge doc
                # cannot blow per-task memory (64k shingles ≈ 32 MB temp)
                for lo in range(0, hs.size, 65536):
                    cand = (hs[lo : lo + 65536, None] * A[None, :] + B[None, :]) % P
                    np.minimum(sig, cand.min(axis=0), out=sig)
                out[r] = sig
            offs = pa.array(
                np.arange(0, (n + 1) * num_hashes, num_hashes, dtype=np.int32)
            )
            mhs = pa.ListArray.from_arrays(offs, pa.array(out.ravel(), pa.int64()))
            yield pa.RecordBatch.from_arrays([id_arr, mhs], names=["_id", "_mhs"])

    return sh.mapInArrow(batches, schema=out_schema)


def _minhash_shingles_and_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    persist: bool = True,
):
    """(sh, buckets): the per-doc shingle frame and the exploded
    (_id, _band, _bkey) banded-bucket frame — the shared computation
    behind the in-memory pair join (:func:`minhash_lsh_pairs`), the
    persisted index (:func:`write_minhash_index` /
    :func:`minhash_index_append`), the near-dup stream and the fuzzy
    gazetteer. One definition site is what makes append ≡ rebuild
    structural: the hash functions are stateless (Carter-Wegman
    permutations of an md5 base hash — nothing trained), so the same
    expressions over the same rows give the same buckets whether a row
    arrives in the initial build or an append.

    ``persist=True`` installs the three materialization barriers the
    in-memory join needs (see the inline notes). Every other caller
    passes False and installs its own barrier: the index writers' parquet
    writes, the stream's local checkpoints, the scale census's persist of
    the one bucket frame it reads."""
    rows_per_band = num_hashes // bands
    sh = _shingle_frame(df, id_col, text_col, n)
    if persist:
        sh = _persist(sh)
    # persist the signature frame (tiny: id + k longs) BEFORE deriving
    # band keys: the MapInArrow node is opaque to projection collapse, but
    # without the barrier it is still evaluated once per bucket self-join
    # branch.
    sig = _minhash_sig_arrow(sh, num_hashes)
    # Re-establish the id hash-partitioning of _fan_out: the shingle
    # frame's MapInArrow node reports UNKNOWN output partitioning (even
    # though it moves no rows), so without this the downstream
    # candidate-pair distinct inserts an ENSURE_REQUIREMENTS exchange
    # over the PAIR-sized frame — and AQE then coalesces that tiny
    # shuffle to 1-2 partitions, strangling the Jaccard-verify stage's
    # parallelism (measured: verify 2.4 s → 15 s at sf0.1). One
    # explicit-count exchange of the SKINNY signature frame (id + k
    # longs — the lightweight proxy, guide §8) buys back both; the
    # explicit count mirrors _fan_out (defaultParallelism; an
    # AQE-coalescible column repartition would re-create the problem).
    sig = sig.repartition(_explicit_parallelism(df.sparkSession), F.col("_id"))
    if persist:
        sig = _persist(sig)
    mh = [
        [F.element_at("_mhs", b * rows_per_band + r + 1) for r in range(rows_per_band)]
        for b in range(bands)
    ]
    band_keys = F.array(
        *[portable_hash60(F.lit(str(b)), *mh[b]) for b in range(bands)]
    )
    # persist: the self-join reads `buckets` once per branch, and without
    # a materialization barrier each branch would re-evaluate the k
    # minhash passes — the single most expensive expression in the plan
    # (measured ~2x end-to-end at sf0.1). Same rule as the SimHash join.
    buckets = sig.select("_id", F.posexplode(band_keys).alias("_band", "_bkey"))
    if persist:
        buckets = _persist(buckets)
    return sh, buckets


def _lsh_candidates(buckets: DataFrame, probe: DataFrame | None = None) -> DataFrame:
    """Distinct (id1 < id2) candidate pairs of an (_id, _band, _bkey)
    bucket frame: the banded-bucket equi-join every MinHash consumer
    shares (in-memory pairs, index serve and probe, the near-dup stream,
    the scale census).

    ``probe=None``: the bucket self-join, each pair once via ``a < b``.
    ``probe=<frame with an _id column>``: only pairs with at least one
    side in ``probe`` — the probe's bucket rows (a semi-join, so the
    probe carries ids only) joined against every bucket row with ``!=``
    and normalized by least/greatest, so a pair with both sides in the
    probe still emits once.

    The pair dedup is an explicit-count repartition on BOTH pair columns
    plus dropDuplicates, not ``.distinct()``: the distinct's
    ENSURE_REQUIREMENTS exchange is tiny (two longs a row), so AQE
    coalesced it to 1-2 partitions and the Jaccard verify downstream ran
    nearly single-threaded (r12). The explicit count is not
    AQE-coalescible, and the full pair key spreads evenly."""
    a = buckets.alias("a")
    if probe is None:
        b = buckets.alias("b")
        same_pair = F.col("a._id") < F.col("b._id")
        ids = [F.col("a._id").alias("id1"), F.col("b._id").alias("id2")]
    else:
        b = buckets.join(probe.select("_id").distinct(), "_id", "semi").alias("b")
        same_pair = F.col("a._id") != F.col("b._id")
        ids = [
            F.least("a._id", "b._id").alias("id1"),
            F.greatest("a._id", "b._id").alias("id2"),
        ]
    return (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bkey") == F.col("b._bkey"))
            & same_pair,
        )
        .select(*ids)
        .repartition(
            _explicit_parallelism(buckets.sparkSession), F.col("id1"), F.col("id2")
        )
        .dropDuplicates(["id1", "id2"])
    )


def _jaccard_verify(
    cands: DataFrame, left_sh: DataFrame, right_sh: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard of candidate pairs against materialized shingle
    arrays: ``cands`` holds two id columns (k1, k2), ``left_sh`` and
    ``right_sh`` are (_id, _sh) frames for the k1 and k2 sides (the same
    frame for a self-join). Returns (k1, k2, jaccard) for pairs at
    ``jaccard >= threshold``.

    Verifying against the shingle arrays a caller already holds (a
    persisted frame, an index layer) computes each doc's array once: a
    candidate set of C pairs would otherwise re-shingle 2C texts (the
    earlier join-raw-text formulation paid ~29 µs/pair shingling at
    sf0.1: the 240k-candidate verify was ~8 s of shingle RECOMPUTES and
    fell to ~2 s with the reuse)."""
    k1, k2 = cands.columns
    t1 = left_sh.select(F.col("_id").alias(k1), F.col("_sh").alias("_sh1"))
    t2 = right_sh.select(F.col("_id").alias(k2), F.col("_sh").alias("_sh2"))
    return (
        cands.join(t1, k1)
        .join(t2, k2)
        .withColumn("_common", F.size(F.array_intersect("_sh1", "_sh2")))
        .withColumn(
            "jaccard",
            F.col("_common")
            / (F.size("_sh1") + F.size("_sh2") - F.col("_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(k1, k2, "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.6,
) -> DataFrame:
    """Near-dup pairs (id1 < id2, jaccard >= threshold): candidates from
    banded MinHash buckets (:func:`_lsh_candidates`), verified with exact
    Jaccard against the persisted per-doc shingle arrays
    (:func:`_jaccard_verify` — the verify joins shingle arrays only for
    candidates, tiny vs the corpus). Probability a true pair at Jaccard
    j collides: 1-(1-j^(k/b))^b; defaults catch j≥0.6 with ~99.9%.

    Every hash derives from md5 — the per-shingle base hash of
    :func:`_minhash_sig_arrow` and the :func:`portable_hash60` band keys
    — so a DuckDB oracle reproduces the exact candidate set
    (the dedup_minhash_portable row). ``num_hashes`` may not exceed the
    Carter-Wegman tables (``len(_CW_A)``)."""
    sh, buckets = _minhash_shingles_and_buckets(
        df, id_col, text_col, n, num_hashes, bands
    )
    return _jaccard_verify(_lsh_candidates(buckets), sh, sh, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

# bit values 2^0..2^63 as signed longs (2^63 wraps to MIN_LONG)
_POW2 = [1 << b for b in range(63)] + [-(1 << 63)]


def simhash_column(hashes_col: Column, bits: int = 64) -> Column:
    """``bits``-bit SimHash from a column of per-token hashes: bit b of the
    signature is set iff a majority of token hashes have bit b set.

    Entirely JVM-side (nested higher-order functions over the materialized
    hash array) — replaces an earlier Arrow/pandas UDF that hashed each
    token in Python (27 s → ~2 s for the sf0.1 corpus). Pass a
    *materialized* hashes column (`transform(tokens, xxhash64)` via
    `withColumn`) so the token hashing runs once, not once per bit.
    ``bits=60`` pairs with :func:`portable_hash60` inputs (60-bit,
    non-negative — the sign-bit wrap never engages)."""
    pow2_vals = _POW2 if bits == 64 else [1 << b for b in range(bits)]
    pow2 = F.array(*[F.lit(v).cast("long") for v in pow2_vals])
    n = F.size(hashes_col)

    def bit_term(acc: Column, b: Column) -> Column:
        bv = F.element_at(pow2, (b + 1).cast("int"))
        cnt = F.size(F.filter(hashes_col, lambda h: h.bitwiseAND(bv) != 0))
        return acc.bitwiseOR(F.when(cnt * 2 > n, bv).otherwise(F.lit(0).cast("long")))

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(bits - 1)), F.lit(0).cast("long"), bit_term
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming. Pigeonhole band
    join on (max_hamming+1) chunks → exact within the signature space.
    ``portable=True`` hashes tokens with :func:`portable_hash60` over a
    60-bit signature so a DuckDB oracle reproduces every signature and
    pair — the driver-checkable twin (xxhash64/64-bit stays default)."""
    chunks = max_hamming + 1
    bits = 60 if portable else 64
    width = bits // chunks
    tok_hash = portable_hash60 if portable else F.xxhash64
    df = _fan_out(df, id_col)
    sig = (
        df.select(
            F.col(id_col).alias("_id"),
            F.transform(word_tokens(F.col(text_col)), lambda t: tok_hash(t)).alias("_th"),
        )
        .withColumn("_sig", simhash_column(F.col("_th"), bits=bits))
        .select("_id", "_sig")
    )
    keys = F.array(
        *[
            F.struct(
                F.lit(c).alias("c"),
                F.shiftright("_sig", c * width).bitwiseAND(F.lit((1 << width) - 1)).alias("k"),
            )
            for c in range(chunks)
        ]
    )
    # persist: the self-join would otherwise evaluate the (expensive)
    # signature expression once per join branch
    buckets = _persist(sig.select("_id", "_sig", F.explode(keys).alias("_bk")))
    a, b = buckets.alias("a"), buckets.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a._bk") == F.col("b._bk")) & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id1"),
            F.col("b._id").alias("id2"),
            F.col("a._sig").alias("_s1"),
            F.col("b._sig").alias("_s2"),
        )
        # r13 (ADVICE r12): same explicit-count pattern as every other pair
        # dedup — (_s1,_s2) are functionally determined by (id1,id2), so
        # dropDuplicates on the id pair ≡ the old 4-column distinct. The
        # downstream hamming filter is row-local and cheap, but the
        # explicit count keeps the plan shape uniform across the family.
        .repartition(
            _explicit_parallelism(a.sparkSession), F.col("id1"), F.col("id2")
        )
        .dropDuplicates(["id1", "id2"])
    )
    return (
        cands.withColumn("hamming", F.bit_count(F.col("_s1").bitwiseXOR(F.col("_s2"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


# ---------------------------------------------------------------------------
# End-to-end near-duplicate clustering: exact-Jaccard pair graph → weak
# connected components → per-document cluster labels. The full curation
# pipeline shape (pairs alone aren't actionable; cluster labels are what a
# keep-one-per-cluster policy consumes). At 100 TB the pair stage is the
# bucketed inverted-index/LSH plan and CC is O(log d) pointer-doubling
# rounds — both already scale-shaped; this composition adds no new shuffle
# beyond the CC fixpoint.
# ---------------------------------------------------------------------------


def near_duplicate_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.6,
) -> DataFrame:
    """(doc_id, cluster, cluster_size) for every document that has at least
    one near-duplicate: exact n-gram Jaccard pairs (>= threshold) fed into
    distributed connected components (min-id labeling, matching the
    reference's exact_matches.py merge semantics at cluster level)."""
    from pgdedupe_spark.operators.clustering import connected_components

    # persist the pair frame before CC (r12, guide §2.4): CC's symmetric
    # edge build reads its input once per union branch, so an unpersisted
    # pairs frame re-ran the whole shingle→candidate→verify chain TWICE.
    # CC materializes internally (both the union-find and loop paths), so
    # the cache can drop as soon as it returns.
    pairs = ngram_jaccard_pairs(df, id_col, text_col, n=n, threshold=threshold)
    edges = _persist(pairs.select("id1", "id2"))
    comps = connected_components(edges)
    edges.unpersist()
    sizes = comps.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comps.join(sizes, "component")
        .select(
            F.col("id").alias(id_col),
            F.col("component").alias("cluster"),
            "cluster_size",
        )
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus. The recurring-crawl
# shape: each increment is deduped against the standing corpus WITHOUT
# recomputing corpus self-pairs. At production scale the corpus shingle
# frame is materialized once (write_bucketed on the id) and reused across
# increments — pass it via `corpus_shingles`; candidates are an
# inverted-index equi-join (shuffle keyed by shingle), never an all-pairs
# product, and verification runs only on candidate rows.
# ---------------------------------------------------------------------------


def shingle_index(df: DataFrame, id_col: str, text_col: str, n: int = 5) -> DataFrame:
    """(_id, _sh, _sz): the per-doc shingle-set frame incremental dedup
    joins against. Materialize this once per corpus snapshot."""
    return _shingle_frame(df, id_col, text_col, n).withColumn("_sz", F.size("_sh"))


def incremental_jaccard_pairs(
    corpus: DataFrame,
    new_batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.6,
    corpus_shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact cross-set near-dup pairs (new_id, corpus_id, jaccard >= t).

    Plan: shingle both sides (corpus side reusable via `corpus_shingles`),
    explode to inverted postings, equi-join new postings against corpus
    postings with the Jaccard length filter (t*|A| <= |B| <= |A|/t) inside
    the join condition, pair-distinct, then verify only the candidates
    (:func:`_jaccard_verify`). New-within-new duplicates are the batch operator's
    job (`ngram_jaccard_pairs`); this op is deliberately cross-set only.
    """
    t = float(threshold)
    c_sh = _persist(corpus_shingles if corpus_shingles is not None
                    else shingle_index(corpus, id_col, text_col, n))
    n_sh = _persist(shingle_index(new_batch, id_col, text_col, n))

    c_post = c_sh.select(F.col("_id").alias("corpus_id"), F.col("_sz").alias("_csz"),
                         F.explode("_sh").alias("_s"))
    n_post = n_sh.select(F.col("_id").alias("new_id"), F.col("_sz").alias("_nsz"),
                         F.explode("_sh").alias("_s"))
    cands = (
        n_post.alias("n")
        .join(
            c_post.alias("c"),
            (F.col("n._s") == F.col("c._s"))
            & (F.col("c._csz") >= F.lit(t) * F.col("n._nsz"))
            & (F.col("n._nsz") >= F.lit(t) * F.col("c._csz")),
        )
        .select("new_id", "corpus_id")
        # r12 (guide §2.5): explicit-count repartition on BOTH pair
        # columns + dropDuplicates instead of `.distinct()` — the Arrow
        # shingle frame leaves the cached frames' partitioning unknown
        # to the planner, so the distinct added an exchange AQE coalesced
        # to ~7 partitions and the array_intersect verify of ~1M candidate
        # pairs ran 3.5× slower (measured 5.8 → 20.8 s at sf0.1). The full
        # pair key spreads evenly (a single hot new_id cannot skew), and
        # no window downstream needs a single-column partitioning.
        .repartition(
            _explicit_parallelism(corpus.sparkSession),
            F.col("new_id"), F.col("corpus_id"),
        )
        .dropDuplicates(["new_id", "corpus_id"])
    )
    return _jaccard_verify(cands, n_sh, c_sh, threshold)


def incremental_exact_flags(
    corpus: DataFrame,
    new_batch: DataFrame,
    id_col: str,
    text_col: str,
    num_bits: int = 1 << 22,
    num_hashes: int = 5,
    corpus_bloom: DataFrame | None = None,
) -> DataFrame:
    """Exact incremental dedup of a new batch against a standing corpus:
    (new id, is_dup, corpus_id = min matching corpus id or NULL), keyed
    on the normalized text (normalize_text above).

    The scale problem this solves: in steady-state ingest, almost every
    new document is NOVEL, but a naive left join still shuffles the
    whole batch against the corpus-key table on every run. Here a
    mergeable Bloom filter of the corpus keys (sketches.bloom_build —
    reusable via ``corpus_bloom``, maintainable across batches with
    bloom_merge, never rebuilt) screens the batch first; only rows the
    filter CANNOT rule out enter the exact confirm join, so join input
    shrinks from |batch| to |dups| + |false positives|. Because Bloom
    filters have no false negatives and every surviving candidate is
    confirmed exactly, the output is EXACT — the registry row
    dedup_incremental_exact hash-matches a plain SQL left join oracle.
    """
    from pgdedupe_spark.operators.sketches import bloom_build, bloom_might_contain

    ckeys = corpus.select(
        normalize_text(F.col(text_col)).alias("_norm"), F.col(id_col)
    )
    bloom = (
        corpus_bloom
        if corpus_bloom is not None
        else bloom_build(ckeys, "_norm", num_bits, num_hashes)
    )
    probe = new_batch.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("_norm")
    )
    screened = bloom_might_contain(
        probe, "_norm", bloom, num_bits, num_hashes, id_col, out_col="_bf_maybe"
    )
    candidates = screened.filter(F.col("_bf_maybe"))
    confirmed = (
        candidates.join(
            ckeys.groupBy("_norm").agg(F.min(id_col).alias("corpus_id")), "_norm"
        )
        .select(id_col, "corpus_id")
    )
    return (
        screened.select(id_col)
        .join(confirmed, id_col, "left")
        .select(
            id_col,
            F.col("corpus_id").isNotNull().alias("is_dup"),
            "corpus_id",
        )
    )


# ---------------------------------------------------------------------------
# Persisted MinHash-LSH index: the near-dup tier of write-once/append-many
# index maintenance (VERDICT r8 #10 — the similarity.index_append story
# extended to the shingle/minhash family). MinHash's hash functions are
# stateless (Carter-Wegman permutations of an md5 base hash — nothing trained),
# so unlike IVF/PQ appends there is no drift trade-off: an appended batch
# lands in EXACTLY the buckets a full rebuild would give it, bit-for-bit
# (pinned in tests/test_lsh_index.py). Standing signatures are NEVER
# recomputed — each recurring-crawl increment pays one scan of the batch.
# ---------------------------------------------------------------------------


def _write_minhash_layers(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    n: int,
    num_hashes: int,
    bands: int,
    mode: str,
) -> None:
    """Write ``docs``' ``/buckets`` and ``/shingles`` layers under
    ``path`` with save mode ``mode`` ("overwrite" builds, "append"
    appends) — the one layer writer behind :func:`write_minhash_index`
    and :func:`minhash_index_append`."""
    sh, buckets = _minhash_shingles_and_buckets(
        docs, id_col, text_col, n, num_hashes, bands, persist=False
    )
    # r12 (guide §2.4): the buckets write and the shingles write BOTH
    # consume the shingle frame — unpersisted, the batch was shingled
    # twice per write. One cache scoped to the two writes (the writes are
    # the actions; unpersist after both is safe) halves the shingling
    # work; the parquet writes stay the materialization barriers the
    # index layout relies on.
    sh = sh.persist()
    try:
        (
            buckets.withColumnRenamed("_id", id_col)
            .repartition("_band")
            .write.partitionBy("_band")
            .mode(mode)
            .parquet(path + "/buckets")
        )
        sh.withColumnRenamed("_id", id_col).write.mode(mode).parquet(
            path + "/shingles"
        )
    finally:
        sh.unpersist()


def write_minhash_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    n: int = 5,
    num_hashes: int = 128,
    bands: int = 32,
) -> None:
    """Materialize the banded-bucket layout:

    ``/buckets``  (id, _bkey) under ``_band=<b>`` parquet partitions — the
                  join side of every candidate query; band partitioning
                  keeps each band's self-join scan to 1/bands of the
                  index and lets a band-sampling precision probe read
                  only the bands it probes.
    ``/shingles`` (id, _sh) — the verify side (exact Jaccard on
                  candidates), so serving never re-shingles the corpus.
    ``/meta``     the writer's (id_col, text_col, n, num_hashes, bands,
                  portable): self-describing, appends recompute NOTHING
                  from data, only re-derive the stateless hash exprs.
                  ``portable`` is always true: it marks the md5 hash
                  family, and :func:`_minhash_index_meta` refuses an
                  index written by the retired xxhash64 family."""
    _write_minhash_layers(
        docs, id_col, text_col, path, n, num_hashes, bands, "overwrite"
    )
    local_sidecar_df(
        docs.sparkSession,
        [(id_col, text_col, int(n), int(num_hashes), int(bands), True)],
        "id_col string, text_col string, n int, num_hashes int, bands int, portable boolean",
    ).write.mode("overwrite").parquet(path + "/meta")


def _minhash_index_meta(spark, path: str):
    """The ``/meta`` row of a :func:`write_minhash_index` layout. Raises
    ``ValueError`` when ``portable`` is false: such an index was written
    by the retired xxhash64 family, so rows hashed now would land in
    different buckets than the standing ones — rebuild it."""
    meta = spark.read.parquet(path + "/meta").collect()[0]
    if not meta.portable:
        raise ValueError(
            f"MinHash index at {path} uses the retired xxhash64 hash family "
            "(meta portable = false); rebuild it with write_minhash_index"
        )
    return meta


def minhash_index_append(spark, path: str, new_docs: DataFrame) -> None:
    """Append a batch to a :func:`write_minhash_index` layout WITHOUT
    recomputing standing signatures: one scan of the batch through the
    writer's recorded parameters, ``mode("append")`` into the same
    partition directories (the same layer writer as the build). Ids must
    be new (caller's contract, same as similarity.index_append). append ≡
    rebuild bit-for-bit — stateless hashes, pinned in
    tests/test_lsh_index.py."""
    meta = _minhash_index_meta(spark, path)
    _write_minhash_layers(
        new_docs,
        str(meta.id_col),
        str(meta.text_col),
        path,
        int(meta.n),
        int(meta.num_hashes),
        int(meta.bands),
        "append",
    )


def minhash_pairs_from_index(
    spark,
    path: str,
    threshold: float = 0.6,
    probe: DataFrame | None = None,
) -> DataFrame:
    """Verified near-dup pairs (id1 < id2, jaccard >= threshold) served
    from the persisted layout — zero signature computation at query time
    (the buckets ARE the signatures' banded projection; verify reads the
    persisted shingle arrays). Same candidate join
    (:func:`_lsh_candidates`) and verify (:func:`_jaccard_verify`) as
    :func:`minhash_lsh_pairs`.

    ``probe=None``: all pairs — the bucket self-join, identical output
    to :func:`minhash_lsh_pairs` over the same corpus (pinned).
    ``probe=<frame with the id column>``: incremental query — only pairs
    with at least one side in ``probe`` (the just-appended batch), the
    recurring-crawl shape: each increment costs |batch| bucket rows
    joined against the standing index, normalized to (id1 < id2) so
    batch-internal pairs emit once."""
    meta = spark.read.parquet(path + "/meta").collect()[0]
    id_col = str(meta.id_col)
    buckets = spark.read.parquet(path + "/buckets").withColumnRenamed(id_col, "_id")
    if probe is not None:
        probe = probe.select(F.col(id_col).alias("_id"))
    sh = spark.read.parquet(path + "/shingles").withColumnRenamed(id_col, "_id")
    return _jaccard_verify(_lsh_candidates(buckets, probe), sh, sh, threshold)
