"""Blocking-rule learning (SURVEY.md §2.7 D5) + pair sampling (D2).

The reference delegates both to the `dedupe` library: `deduper.train`
learns a predicate set by greedy set-cover over the labeled matches
(`pgdedupe/run.py:175-178`, recall knob `run.py:31`), and `deduper.sample`
draws random record pairs for labeling (`run.py:139-150`).

Spark-first shape:
* Rule *evaluation* (does predicate p cover labeled pair (a,b)?) runs as one
  DataFrame pass over ``ml/training.labeled_pair_frame`` (the frame the
  classifier fit reads) — every candidate rule becomes a
  boolean column (shared non-empty key intersection), so the coverage
  matrix for R rules × P pairs is a single JVM-side select + collect.
  Labeled samples are small by construction (hundreds of pairs), so the
  greedy cover itself is driver-side Python, exactly like the reference.
* Pair sampling is distributed and deterministic: two independent
  pseudo-random total orders (xxhash64 of id + seed), rank-joined — no
  driver-side materialization of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgdedupe_spark.ml.training import labeled_pair_frame
from pgdedupe_spark.operators.blocking import PREDICATES
from pgdedupe_spark.operators.ids import add_deterministic_id

# (predicate, extra_args) templates instantiated per field to form the
# candidate rule space — mirrors dedupe's simple-predicate zoo
# (dedupe/predicates.py; wired in reference run.py:213-222)
DEFAULT_TEMPLATES: list[tuple[str, tuple]] = [
    ("whole_field", ()),
    ("first_chars", (3,)),
    ("first_chars", (5,)),
    ("first_chars", (7,)),
    ("last_chars", (3,)),
    ("first_token", ()),
    ("tokens", ()),
    ("char_ngrams", (4,)),
    ("common_integers", ()),
    ("first_integer", ()),
    ("near_integers", ()),
    ("alpha_numeric", ()),
    ("suffixes", (5,)),
    ("fingerprint", ()),
    ("one_gram_fingerprint", ()),
    ("two_gram_fingerprint", ()),
    ("sorted_acronym", ()),
    ("common_two_tokens", ()),
    ("common_three_tokens", ()),
    ("soundex_code", ()),
    ("soundex_tokens", ()),
    ("exists_field", ()),
    ("hundred_ints", ()),
    ("round_magnitude", ()),
]


def candidate_rules(fields: list[str]) -> list[tuple[str, str, tuple]]:
    return [(pred, f, args) for f in fields for pred, args in DEFAULT_TEMPLATES]


def _coverage_matrix(
    spark: SparkSession,
    pairs: list[tuple[dict, dict]],
    fields: list[str],
    rules: list[tuple[str, str, tuple]],
) -> list[list[bool]]:
    """One row per labeled pair, one boolean column per candidate rule:
    True iff the rule emits a shared block key for the pair."""
    df = labeled_pair_frame(spark, pairs, fields)
    cols = []
    for i, (pred, field, args) in enumerate(rules):
        ka = PREDICATES[pred](F.col(f"{field}_1"), *args)
        kb = PREDICATES[pred](F.col(f"{field}_2"), *args)
        cols.append((F.size(F.array_intersect(ka, kb)) > 0).alias(f"r{i}"))
    collected = df.select(*cols).collect()
    return [[bool(row[f"r{i}"]) for i in range(len(rules))] for row in collected]


def learn_blocking_rules(
    spark: SparkSession,
    training_pairs: dict[str, list[tuple[dict, dict]]],
    fields: list[str],
    recall: float = 0.9,
) -> list[tuple[str, str, tuple]]:
    """Greedy weighted set-cover over :func:`candidate_rules`: pick rules
    until ≥ `recall` of labeled matches are covered. A rule's score =
    newly-covered matches − distinct pairs it covers (the proxy for block
    size / comparison cost, standing in for dedupe's index-cost model)."""
    rules = candidate_rules(fields)
    matches = training_pairs.get("match", [])
    distincts = training_pairs.get("distinct", [])
    if not matches:
        raise ValueError("no labeled matches to learn from")

    m_cov = _coverage_matrix(spark, matches, fields, rules)
    d_cov = (
        _coverage_matrix(spark, distincts, fields, rules)
        if distincts
        else [[False] * len(rules)]
    )
    d_count = [sum(row[i] for row in d_cov) for i in range(len(rules))]

    target = recall * len(matches)
    uncovered = set(range(len(matches)))
    chosen: list[int] = []
    while len(matches) - len(uncovered) < target:
        best, best_score = None, float("-inf")
        for i in range(len(rules)):
            if i in chosen:
                continue
            gain = sum(1 for p in uncovered if m_cov[p][i])
            if gain == 0:
                continue
            score = gain - d_count[i]
            # deterministic tie-break on rule index
            if score > best_score or (score == best_score and best is None):
                best, best_score = i, score
        if best is None:
            break  # no rule covers anything new — recall target unreachable
        chosen.append(best)
        uncovered -= {p for p in uncovered if m_cov[p][best]}
    return [rules[i] for i in chosen]


def reference_training_fixture() -> dict[str, list[tuple[dict, dict]]]:
    """A small hand-authored labeled-pair set in the reference's
    training-JSON shape (``tests/dedup_postgres_training.json``:
    {"distinct": [...], "match": [...]}), used by the driver-visible
    ``d5_learned_rules`` query so the learned rule list is a pure function
    of code + this literal (no RNG, no parquet dependence).

    The structure forces a two-rule cover: most matches agree on ssn
    (whole-field ssn covers them at zero distinct cost), but the
    missing-ssn married/nickname matches need a second predicate, while
    twin negatives (same last_name+dob, off-by-one ssn) penalize the
    lazy last_name/dob rules — the same trade-off dedupe's learner faces
    on the reference's person population."""
    m = [
        # ssn agrees: typo'd / nicknamed first names, stable last name
        ({"first_name": "james", "last_name": "smith", "ssn": "123-45-6789", "dob": "1970-01-02"},
         {"first_name": "jim", "last_name": "smith", "ssn": "123-45-6789", "dob": "1970-01-02"}),
        ({"first_name": "robert", "last_name": "jones", "ssn": "234-56-7890", "dob": "1980-03-04"},
         {"first_name": "bob", "last_name": "jones", "ssn": "234-56-7890", "dob": "1980-03-04"}),
        ({"first_name": "william", "last_name": "brown", "ssn": "345-67-8901", "dob": "1965-05-06"},
         {"first_name": "bill", "last_name": "brown", "ssn": "345-67-8901", "dob": "1965-05-06"}),
        ({"first_name": "elizabeth", "last_name": "davis", "ssn": "456-78-9012", "dob": "1990-07-08"},
         {"first_name": "liz", "last_name": "davis", "ssn": "456-78-9012", "dob": "1990-07-08"}),
        ({"first_name": "margaret", "last_name": "miller", "ssn": "567-89-0123", "dob": "1985-09-10"},
         {"first_name": "peggy", "last_name": "miler", "ssn": "567-89-0123", "dob": "1985-09-10"}),
        ({"first_name": "thomas", "last_name": "wilson", "ssn": "678-90-1234", "dob": "1975-11-12"},
         {"first_name": "tom", "last_name": "wilson", "ssn": "678-90-1234", "dob": "1975-11-12"}),
        ({"first_name": "charles", "last_name": "moore", "ssn": "789-01-2345", "dob": "1960-02-14"},
         {"first_name": "chuck", "last_name": "moore", "ssn": "789-01-2345", "dob": "1960-02-14"}),
        ({"first_name": "daniel", "last_name": "taylor", "ssn": "890-12-3456", "dob": "1995-04-16"},
         {"first_name": "dan", "last_name": "taylor", "ssn": "890-12-3456", "dob": "1995-04-16"}),
        # ssn missing on one side: married-name / same-person re-entry —
        # these need a NON-ssn rule (first_name agreement) to be covered
        ({"first_name": "jennifer", "last_name": "garcia", "ssn": "901-23-4567", "dob": "1988-06-18"},
         {"first_name": "jennifer", "last_name": "martinez", "ssn": None, "dob": "1988-06-18"}),
        ({"first_name": "patricia", "last_name": "lopez", "ssn": "012-34-5678", "dob": "1972-08-20"},
         {"first_name": "patricia", "last_name": "gonzalez", "ssn": None, "dob": "1972-08-20"}),
        ({"first_name": "barbara", "last_name": "anderson", "ssn": "135-79-2468", "dob": "1983-10-22"},
         {"first_name": "barbara", "last_name": "jackson", "ssn": None, "dob": "1983-10-22"}),
        ({"first_name": "susan", "last_name": "martin", "ssn": "246-80-1357", "dob": "1978-12-24"},
         {"first_name": "susan", "last_name": "white", "ssn": None, "dob": "1978-12-24"}),
    ]
    d = [
        # strangers: nothing agrees
        ({"first_name": "john", "last_name": "smith", "ssn": "111-22-3333", "dob": "1970-01-02"},
         {"first_name": "mary", "last_name": "jones", "ssn": "444-55-6666", "dob": "1981-02-03"}),
        ({"first_name": "david", "last_name": "brown", "ssn": "222-33-4444", "dob": "1966-03-04"},
         {"first_name": "linda", "last_name": "davis", "ssn": "555-66-7777", "dob": "1992-04-05"}),
        ({"first_name": "richard", "last_name": "miller", "ssn": "333-44-5555", "dob": "1971-05-06"},
         {"first_name": "karen", "last_name": "wilson", "ssn": "666-77-8888", "dob": "1987-06-07"}),
        ({"first_name": "joseph", "last_name": "moore", "ssn": "777-88-9999", "dob": "1963-07-08"},
         {"first_name": "nancy", "last_name": "taylor", "ssn": "888-99-0000", "dob": "1994-08-09"}),
        # twins: same last_name + dob, ssn off by one — punish last_name/dob rules
        ({"first_name": "michael", "last_name": "hernandez", "ssn": "123-45-6788", "dob": "1970-09-10"},
         {"first_name": "sarah", "last_name": "hernandez", "ssn": "123-45-6789", "dob": "1970-09-10"}),
        ({"first_name": "matthew", "last_name": "rodriguez", "ssn": "234-56-7891", "dob": "1982-10-11"},
         {"first_name": "jessica", "last_name": "rodriguez", "ssn": "234-56-7892", "dob": "1982-10-11"}),
        ({"first_name": "anthony", "last_name": "williams", "ssn": "345-67-8902", "dob": "1969-11-12"},
         {"first_name": "betty", "last_name": "williams", "ssn": "345-67-8903", "dob": "1969-11-12"}),
        ({"first_name": "chris", "last_name": "johnson", "ssn": "456-78-9013", "dob": "1991-12-13"},
         {"first_name": "lisa", "last_name": "johnson", "ssn": "456-78-9014", "dob": "1991-12-13"}),
        # namesakes: same first name, all else differs — punish first_name rules
        ({"first_name": "james", "last_name": "garcia", "ssn": "567-89-0124", "dob": "1974-01-14"},
         {"first_name": "james", "last_name": "martinez", "ssn": "678-90-1235", "dob": "1986-02-15"}),
        ({"first_name": "mary", "last_name": "lopez", "ssn": "789-01-2346", "dob": "1977-03-16"},
         {"first_name": "mary", "last_name": "anderson", "ssn": "890-12-3457", "dob": "1968-04-17"}),
        ({"first_name": "robert", "last_name": "jackson", "ssn": "901-23-4568", "dob": "1984-05-18"},
         {"first_name": "robert", "last_name": "martin", "ssn": "012-34-5679", "dob": "1979-06-19"}),
        ({"first_name": "susan", "last_name": "thomas", "ssn": "135-79-2469", "dob": "1989-07-20"},
         {"first_name": "susan", "last_name": "garcia", "ssn": "246-80-1358", "dob": "1962-08-21"}),
    ]
    return {"match": m, "distinct": d}


def sample_record_pairs(
    entries: DataFrame, id_col: str, n: int, seed: int = 0
) -> DataFrame:
    """D2: n deterministic pseudo-random record pairs, fully distributed.

    Two independent total orders of the id space (xxhash64 with different
    seed salts), each ranked with the scale-path serial-id operator, then
    rank-joined — a random derangement-ish pairing with no collect() and no
    Python RNG. Self-pairs are dropped (so ≤ n pairs come back)."""
    ids = entries.select(F.col(id_col).alias("_id")).distinct()

    def ranked(salt: int, out: str) -> DataFrame:
        h = ids.withColumn("_h", F.xxhash64(F.lit(seed + salt), F.col("_id")))
        r = add_deterministic_id(h, ["_h", "_id"], id_col="_rk")
        return r.filter(F.col("_rk") <= n).select("_rk", F.col("_id").alias(out))

    return (
        ranked(0, "id1")
        .join(ranked(1, "id2"), "_rk")
        .filter(F.col("id1") != F.col("id2"))
        .select("id1", "id2")
    )
