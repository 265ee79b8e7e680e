"""Query/oracle registry — the driver-facing inventory of implemented
operators (SURVEY.md §2), each phrased against the driver's parquet tables
(TESTDATA.md) with a DuckDB-checkable ANSI-SQL oracle where expressible.

Conventions (driver contract):
* every computed column aliased identically in Spark and SQL;
* doubles that pass through aggregation are rounded via exact decimal
  arithmetic in BOTH engines so partial-aggregation order can't flip a hash;
* deterministic total orders wherever ids/ranks are assigned.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# A1 + P2 + W1 — the pipeline's stage-1 exact-duplicate collapse
# (pgdedupe/run.py:62-99) phrased on `documents`. Flagship / entry().
# ---------------------------------------------------------------------------


@query(
    "a1_exact_collapse",
    oracle="""
    WITH g AS (
      SELECT text, lang, source, n_chars,
             array_agg(doc_id ORDER BY doc_id) AS src_id_list
      FROM documents
      WHERE n_chars > 0
      GROUP BY text, lang, source, n_chars
    )
    SELECT text, lang, source, n_chars,
           coalesce(array_to_string(src_id_list, ','), '') AS src_ids,
           row_number() OVER (
             ORDER BY text NULLS FIRST, lang NULLS FIRST,
                      source NULLS FIRST, n_chars NULLS FIRST
           ) AS _unique_id
    FROM g
    """,
)
def a1_exact_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pgdedupe_spark.operators.collapse import collapse_exact_duplicates

    docs = _t(spark, sf_dir, "documents")
    out = collapse_exact_duplicates(
        docs,
        field_cols=["text", "lang", "source", "n_chars"],
        key_col="doc_id",
        filter_condition="n_chars > 0",
    )
    # The operator API stays array-typed; the driver's pandas canonicalizer
    # can't sort list cells, so the query boundary emits the canonical
    # comma-joined string form (verified byte-identical vs DuckDB).
    return out.withColumn("src_ids", F.array_join(F.col("src_ids").cast("array<string>"), ","))


# ---------------------------------------------------------------------------
# P1+P2 — projection + arbitrary ANSI predicate filter (run.py:94-95).
# Catalyst pushes both into the parquet scan (PushedFilters/ReadSchema).
# ---------------------------------------------------------------------------


@query(
    "p2_filter_projection",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment
    FROM customer
    WHERE c_acctbal > 1000 AND (c_mktsegment = 'BUILDING' OR c_nationkey < 10)
    """,
)
def p2_filter_projection(spark, sf_dir):
    return (
        _t(spark, sf_dir, "customer")
        .filter(F.expr("c_acctbal > 1000 AND (c_mktsegment = 'BUILDING' OR c_nationkey < 10)"))
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    )


@query("p3_distinct", oracle="SELECT DISTINCT c_mktsegment FROM customer")
def p3_distinct(spark, sf_dir):
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@query(
    "p5_empty_clone",
    oracle="SELECT c_custkey, c_name FROM customer LIMIT 0",
)
def p5_empty_clone(spark, sf_dir):
    # LIMIT 0 schema clone (exact_matches.py:92-94)
    return _t(spark, sf_dir, "customer").select("c_custkey", "c_name").limit(0)


# ---------------------------------------------------------------------------
# J1 + A2 + W1 — the plural-key half of the blocking chain, phrased on
# orders (block_key := o_custkey). plural_key is small → broadcast join.
# ---------------------------------------------------------------------------


@query(
    "j1_plural_block",
    oracle="""
    WITH bmap AS (
      SELECT CAST(o_custkey AS VARCHAR) AS block_key, o_orderkey AS _unique_id FROM orders
    ), pk AS (
      SELECT block_key,
             row_number() OVER (ORDER BY block_key NULLS FIRST) AS block_id
      FROM (SELECT block_key FROM bmap GROUP BY block_key HAVING count(*) > 1)
    )
    SELECT pk.block_id, bmap._unique_id
    FROM bmap JOIN pk USING (block_key)
    """,
)
def j1_plural_block(spark, sf_dir):
    from pgdedupe_spark.operators.blocking import plural_block, plural_key

    bmap = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("block_key"),
        F.col("o_orderkey").alias("_unique_id"),
    )
    pk = plural_key(bmap)
    return plural_block(bmap, pk)


# ---------------------------------------------------------------------------
# J2 + A3 + F2 — covered_blocks/smaller_coverage over a two-family blocking
# of customer (nation + mktsegment), i.e. every record sits in 2 blocks.
# ---------------------------------------------------------------------------

_BLOCK_CHAIN_SQL = """
    WITH bmap AS (
      SELECT 'n:' || c_nationkey AS block_key, c_custkey AS _unique_id FROM customer
      UNION ALL
      SELECT 's:' || c_mktsegment AS block_key, c_custkey AS _unique_id FROM customer
    ), pk AS (
      SELECT block_key,
             row_number() OVER (ORDER BY block_key NULLS FIRST) AS block_id
      FROM (SELECT block_key FROM bmap GROUP BY block_key HAVING count(*) > 1)
    ), pb AS (
      SELECT pk.block_id, bmap._unique_id FROM bmap JOIN pk USING (block_key)
    ), cov AS (
      SELECT _unique_id, array_agg(block_id ORDER BY block_id) AS sorted_ids
      FROM pb GROUP BY _unique_id
    )
"""


def _customer_block_chain(spark, sf_dir):
    from pgdedupe_spark.operators.blocking import blocking_chain

    cust = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "_unique_id")
    keys = F.array(
        F.concat(F.lit("n:"), F.col("c_nationkey").cast("string")),
        F.concat(F.lit("s:"), F.col("c_mktsegment")),
    )
    return blocking_chain(cust, keys)


@query(
    "j2_smaller_coverage",
    oracle=_BLOCK_CHAIN_SQL
    + """
    SELECT pb._unique_id, pb.block_id,
           coalesce(array_to_string(
             list_filter(cov.sorted_ids, x -> x < pb.block_id), ','), '') AS smaller_ids
    FROM pb JOIN cov USING (_unique_id)
    """,
)
def j2_smaller_coverage(spark, sf_dir):
    _, _, _, _, smaller = _customer_block_chain(spark, sf_dir)
    # Stringified at the query boundary (driver canonicalizer: no list cells).
    return smaller.withColumn(
        "smaller_ids", F.array_join(F.col("smaller_ids").cast("array<string>"), ",")
    )


# ---------------------------------------------------------------------------
# J7 — redundant-free candidate pairs (Kolb scheme) on supplier, two block
# families (nation + name prefix).
# ---------------------------------------------------------------------------


@query(
    "j7_candidate_pairs",
    oracle="""
    WITH bmap AS (
      SELECT 'n:' || s_nationkey AS block_key, s_suppkey AS _unique_id FROM supplier
      UNION ALL
      SELECT 'p:' || substr(s_name, 1, 9) AS block_key, s_suppkey AS _unique_id FROM supplier
    ), pk AS (
      SELECT block_key,
             row_number() OVER (ORDER BY block_key NULLS FIRST) AS block_id
      FROM (SELECT block_key FROM bmap GROUP BY block_key HAVING count(*) > 1)
    ), pb AS (
      SELECT pk.block_id, bmap._unique_id FROM bmap JOIN pk USING (block_key)
    ), cov AS (
      SELECT _unique_id, array_agg(block_id ORDER BY block_id) AS sorted_ids
      FROM pb GROUP BY _unique_id
    ), sc AS (
      SELECT pb._unique_id, pb.block_id,
             list_filter(cov.sorted_ids, x -> x < pb.block_id) AS smaller_ids
      FROM pb JOIN cov USING (_unique_id)
    )
    SELECT a.block_id, a._unique_id AS id1, b._unique_id AS id2
    FROM sc a JOIN sc b
      ON a.block_id = b.block_id AND a._unique_id < b._unique_id
    WHERE len(list_intersect(a.smaller_ids, b.smaller_ids)) = 0
    """,
)
def j7_candidate_pairs(spark, sf_dir):
    from pgdedupe_spark.operators.blocking import blocking_chain
    from pgdedupe_spark.operators.pairs import candidate_pairs

    supp = _t(spark, sf_dir, "supplier").withColumnRenamed("s_suppkey", "_unique_id")
    keys = F.array(
        F.concat(F.lit("n:"), F.col("s_nationkey").cast("string")),
        F.concat(F.lit("p:"), F.substring(F.col("s_name"), 1, 9)),
    )
    _, _, _, _, smaller = blocking_chain(supp, keys)
    return candidate_pairs(smaller)


# ---------------------------------------------------------------------------
# J3 — right-outer + COALESCE singleton defaults (run.py:441-446): every
# customer gets a canon_id (min orderkey of its ≥2-order group, else itself)
# and a cluster_score (0.9 matched, 1.0 singleton).
# ---------------------------------------------------------------------------


@query(
    "j3_singleton_coalesce",
    oracle="""
    WITH em AS (
      SELECT o_custkey, min(o_orderkey) AS canon_id
      FROM orders GROUP BY o_custkey HAVING count(*) > 1
    )
    SELECT c_custkey AS _unique_id,
           coalesce(em.canon_id, c_custkey) AS canon_id,
           CASE WHEN em.canon_id IS NULL THEN 1.0 ELSE 0.9 END AS cluster_score
    FROM customer LEFT JOIN em ON c_custkey = em.o_custkey
    """,
)
def j3_singleton_coalesce(spark, sf_dir):
    em = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.min("o_orderkey").alias("canon_id"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .drop("n")
    )
    return (
        _t(spark, sf_dir, "customer")
        .join(em, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            F.col("c_custkey").alias("_unique_id"),
            F.coalesce("canon_id", "c_custkey").alias("canon_id"),
            F.when(F.col("canon_id").isNull(), F.lit(1.0)).otherwise(F.lit(0.9)).alias("cluster_score"),
        )
    )


# ---------------------------------------------------------------------------
# J5 — exact-match edge extraction (exact_matches.py:70-83) on customer with
# merge columns (c_nationkey, c_mktsegment). SQL `=` NULL semantics.
# ---------------------------------------------------------------------------


@query(
    "j5_exact_edges",
    oracle="""
    WITH nn AS (
      SELECT * FROM customer
      WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
    ), g AS (
      SELECT c_nationkey, c_mktsegment, min(c_custkey) AS id2
      FROM nn GROUP BY c_nationkey, c_mktsegment HAVING count(*) > 1
    )
    SELECT DISTINCT t1.c_custkey AS id1, g.id2
    FROM nn t1 JOIN g USING (c_nationkey, c_mktsegment)
    WHERE t1.c_custkey > g.id2
    """,
)
def j5_exact_edges(spark, sf_dir):
    from pgdedupe_spark.operators.exact_merge import exact_match_edges

    cust = _t(spark, sf_dir, "customer").withColumn("cluster", F.col("c_custkey"))
    return exact_match_edges(cust, ["c_nationkey", "c_mktsegment"])


# ---------------------------------------------------------------------------
# G1 — distributed connected components vs a recursive-CTE oracle. Edges =
# star edges per lang ∪ per source over documents (exact_matches-style
# min-agg edges), so components span lang×source overlaps.
# ---------------------------------------------------------------------------


@query(
    "g1_connected_components",
    oracle="""
    WITH RECURSIVE e1 AS (
      SELECT t1.doc_id AS id1, g.id2
      FROM documents t1
      JOIN (SELECT lang, min(doc_id) AS id2 FROM documents
            GROUP BY lang HAVING count(*) > 1) g USING (lang)
      WHERE t1.doc_id > g.id2
    ), e2 AS (
      SELECT t1.doc_id AS id1, g.id2
      FROM documents t1
      JOIN (SELECT source, min(doc_id) AS id2 FROM documents
            GROUP BY source HAVING count(*) > 1) g USING (source)
      WHERE t1.doc_id > g.id2
    ), edges AS (
      SELECT id1, id2 FROM e1 UNION SELECT id1, id2 FROM e2
    ), sym AS (
      SELECT id1 AS s, id2 AS d FROM edges UNION SELECT id2, id1 FROM edges
    ), reach AS (
      SELECT s, d FROM sym
      UNION
      SELECT r.s, sym.d FROM reach r JOIN sym ON r.d = sym.s
    )
    SELECT s AS id, least(s, min(d)) AS component
    FROM reach GROUP BY s
    """,
)
def g1_connected_components(spark, sf_dir):
    from pgdedupe_spark.operators.clustering import connected_components
    from pgdedupe_spark.operators.exact_merge import exact_match_edges

    docs = _t(spark, sf_dir, "documents").withColumn("cluster", F.col("doc_id"))
    e1 = exact_match_edges(docs, ["lang"])
    e2 = exact_match_edges(docs, ["source"])
    # exact_match_edges emits (id1 > id2); CC is symmetric
    return connected_components(e1.union(e2).distinct())


# ---------------------------------------------------------------------------
# A6 — count / count(col) / count(distinct col) (validation queries).
# ---------------------------------------------------------------------------


@query(
    "a6_counts",
    oracle="""
    SELECT o_orderstatus, count(*) AS n_rows, count(o_custkey) AS n_cust,
           count(DISTINCT o_custkey) AS n_distinct_cust
    FROM orders GROUP BY o_orderstatus
    """,
)
def a6_counts(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_custkey").alias("n_cust"),
            F.countDistinct("o_custkey").alias("n_distinct_cust"),
        )
    )


# ---------------------------------------------------------------------------
# A7 — plurality (mode) with deterministic tie-break: most frequent
# o_orderpriority per o_orderstatus, ties broken by value asc. Implemented
# as count + row_number window in BOTH engines (notebook cell 6's
# mode() WITHIN GROUP, SURVEY A7, with ties pinned down).
# ---------------------------------------------------------------------------


@query(
    "a7_mode_plurality",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority, count(*) AS n
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority
    FROM (
      SELECT o_orderstatus, o_orderpriority,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY n DESC, o_orderpriority) AS rk
      FROM c
    ) WHERE rk = 1
    """,
)
def a7_mode_plurality(spark, sf_dir):
    from pyspark.sql import Window

    c = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(F.col("n").desc(), F.col("o_orderpriority"))
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"))
    )


# ---------------------------------------------------------------------------
# A8 — ratio-of-aggregates / two-level nested group-by (notebook error-rate
# metrics). Doubles are summed through DECIMAL so partial-agg order can't
# change the result, then cast back (see module docstring).
# ---------------------------------------------------------------------------


@query(
    "a8_ratio_metrics",
    oracle="""
    WITH per_cust AS (
      SELECT c_mktsegment, c_custkey,
             count(o_orderkey) AS n_orders,
             coalesce(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS spend
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_mktsegment, c_custkey
    )
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(SUM(n_orders) AS BIGINT) AS n_orders,
           CAST(SUM(spend) AS DOUBLE) AS total_spend,
           CAST(SUM(spend) AS DOUBLE) / SUM(n_orders) AS spend_per_order
    FROM per_cust GROUP BY c_mktsegment
    """,
)
def a8_ratio_metrics(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_mktsegment", "c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")), F.lit(0).cast("decimal(18,2)")
            ).alias("spend"),
        )
    )
    return per_cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("n_orders").alias("n_orders"),
        F.sum("spend").cast("double").alias("total_spend"),
        (F.sum("spend").cast("double") / F.sum("n_orders")).alias("spend_per_order"),
    )


# ---------------------------------------------------------------------------
# A9 — the reference's only set op: vertex set from edge endpoints
# (exact_matches.py:29) — union-then-distinct.
# ---------------------------------------------------------------------------


@query(
    "a9_union_distinct",
    oracle="""
    SELECT o_custkey AS id FROM orders
    UNION
    SELECT c_custkey AS id FROM customer
    """,
)
def a9_union_distinct(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("id"))
        .union(_t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("id")))
        .distinct()
    )


# ---------------------------------------------------------------------------
# A10 — ROLLUP / grouping-sets subtotals (relational breadth beyond the
# reference: the standard OLAP subtotal shape; Spark evaluates it as one
# Expand + hash aggregate, i.e. a single shuffle for every grouping set).
# ---------------------------------------------------------------------------


@query(
    "a10_rollup",
    oracle="""
    SELECT c_mktsegment, c_nationkey,
           count(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum
    FROM customer
    GROUP BY ROLLUP (c_mktsegment, c_nationkey)
    """,
)
def a10_rollup(spark, sf_dir):
    return (
        _t(spark, sf_dir, "customer")
        .rollup("c_mktsegment", "c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("acctbal_sum"),
        )
    )


# ---------------------------------------------------------------------------
# J8/J9 — anti / semi joins (NOT EXISTS / EXISTS): the reference's
# singleton-detection idiom generalized; Spark's dedicated LeftAnti/LeftSemi
# build only the hash side, no payload shuffle of the probe side's columns.
# ---------------------------------------------------------------------------


@query(
    "j8_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
    """,
)
def j8_anti_join(spark, sf_dir):
    """Customers who never placed a 400k+ order. The driver's testdata
    gives EVERY customer at least one order (probed at sf0.01), so the
    classic orderless-customers anti-join was structurally empty and its
    oracle row vacuously green — the price filter keeps the NOT EXISTS
    shape while selecting a real subset (202 rows at sf0.01)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "j9_semi_join",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer c
    WHERE c_acctbal > 9000
      AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j9_semi_join(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_semi"
    ).select("c_custkey", "c_acctbal")


# ---------------------------------------------------------------------------
# A11 — exact interpolated percentiles (median + quartiles) per group.
# Spark's `percentile` and DuckDB's `quantile_cont` both do linear
# interpolation; quantities are integer-valued doubles, so the interpolated
# values land on exact binary fractions and hash identically.
# ---------------------------------------------------------------------------


@query(
    "a11_percentiles",
    oracle="""
    SELECT l_returnflag,
           array_to_string(list_transform(
             quantile_cont(l_quantity, [0.25, 0.5, 0.75]),
             x -> CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR)), ',') AS qty_quartiles
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def a11_percentiles(spark, sf_dir):
    # Quartiles of integer-valued quantities land on exact quarter fractions
    # (v_i + f*(v_{i+1}-v_i), f ∈ {0,.25,.5,.75}); DECIMAL(18,2) renders them
    # identically in both engines ('24.75', '25.00'), so the stringified form
    # is hash-stable for the driver's canonicalizer (no list cells).
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.array_join(
                F.transform(
                    F.percentile("l_quantity", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))),
                    lambda x: x.cast("decimal(18,2)").cast("string"),
                ),
                ",",
            ).alias("qty_quartiles")
        )
    )


# ---------------------------------------------------------------------------
# W2 — window-function breadth: ranks, tiles, distribution, and offsets in
# ONE window pass (a single sort within c_custkey partitions; Spark fuses
# all five functions into one Window physical node — pinned cheap by plan).
# ---------------------------------------------------------------------------


@query(
    "w2_window_suite",
    oracle="""
    SELECT o_orderkey,
           o_custkey,
           dense_rank() OVER w AS rk,
           ntile(4) OVER w AS quartile,
           cume_dist() OVER w AS cd,
           lag(o_orderkey) OVER w AS prev_order,
           lead(o_orderkey) OVER w AS next_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def w2_window_suite(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.dense_rank().over(w).alias("rk"),
        F.ntile(4).over(w).alias("quartile"),
        F.cume_dist().over(w).alias("cd"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
    )


# ---------------------------------------------------------------------------
# F9 — string-function breadth: edit distance (the JVM-side cousin of the
# reference's fuzzy comparators), split/pad/case ops. All codegen scalar
# expressions — zero Python.
# ---------------------------------------------------------------------------


@query(
    "f9_string_funcs",
    oracle="""
    SELECT p_partkey,
           levenshtein(p_brand, p_type) AS brand_type_dist,
           upper(split_part(p_name, ' ', 1)) AS first_word,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_key,
           length(p_name) - length(replace(p_name, ' ', '')) AS n_spaces
    FROM part
    """,
)
def f9_string_funcs(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.levenshtein("p_brand", "p_type").alias("brand_type_dist"),
        F.upper(F.split_part(F.col("p_name"), F.lit(" "), F.lit(1))).alias("first_word"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_key"),
        (
            F.length("p_name") - F.length(F.replace(F.col("p_name"), F.lit(" "), F.lit("")))
        ).alias("n_spaces"),
    )


# ---------------------------------------------------------------------------
# F10 — date/time breadth over the orders date column: truncation,
# field extraction, interval arithmetic, epoch-day round trips.
# ---------------------------------------------------------------------------


@query(
    "f10_datetime_funcs",
    oracle="""
    SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR)
             AS order_month,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS order_quarter,
           count(*) AS n,
           CAST(CAST(min(o_orderdate + INTERVAL 30 DAY) AS DATE) AS VARCHAR)
             AS min_due
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def f10_datetime_funcs(spark, sf_dir):
    # dates compared as ISO strings: pandas coerces engine-side DATE types
    # differently (date vs datetime64), strings are representation-stable
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate"))
            .cast("date")
            .cast("string")
            .alias("order_month"),
            F.year("o_orderdate").alias("order_year"),
            F.quarter("o_orderdate").alias("order_quarter"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.date_add(F.col("o_orderdate"), 30)).cast("string").alias("min_due"),
        )
    )


# ---------------------------------------------------------------------------
# F1 + F2 + F3 — array position / filter-smaller / explode round-trip
# (run.py:81-89, 314-319, 473-475) phrased per customer over order ids.
# ---------------------------------------------------------------------------


@query(
    "f_array_ops",
    oracle="""
    WITH cov AS (
      SELECT o_custkey, array_agg(o_orderkey ORDER BY o_orderkey) AS sorted_ids
      FROM orders GROUP BY o_custkey
    ), x AS (
      SELECT o_custkey, unnest(sorted_ids) AS o_orderkey, sorted_ids FROM cov
    )
    SELECT o_custkey, o_orderkey,
           CAST(list_position(sorted_ids, o_orderkey) AS BIGINT) AS pos,
           CAST(len(list_filter(sorted_ids, y -> y < o_orderkey)) AS BIGINT) AS n_smaller
    FROM x
    """,
)
def f_array_ops(spark, sf_dir):
    cov = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sort_array(F.collect_list("o_orderkey")).alias("sorted_ids"))
    )
    return (
        cov.select("o_custkey", F.explode("sorted_ids").alias("o_orderkey"), "sorted_ids")
        .select(
            "o_custkey",
            "o_orderkey",
            F.array_position("sorted_ids", F.col("o_orderkey")).cast("bigint").alias("pos"),
            F.size(F.filter("sorted_ids", lambda y: y < F.col("o_orderkey")))
            .cast("bigint")
            .alias("n_smaller"),
        )
    )


# ---------------------------------------------------------------------------
# F5 — PG `||` concat NULL semantics (initialize_db.py:37): NULL if any
# operand NULL (F.concat matches; concat_ws would not — SURVEY F5).
# ---------------------------------------------------------------------------


@query(
    "f5_concat_null",
    oracle="""
    SELECT c_custkey,
           c_name || ' ' || nullif(c_mktsegment, 'BUILDING') AS tagged
    FROM customer
    """,
)
def f5_concat_null(spark, sf_dir):
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat(
            F.col("c_name"), F.lit(" "),
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")),
        ).alias("tagged"),
    )


# ---------------------------------------------------------------------------
# Analytic headliners (A8-family at scale; bench queries). Money math goes
# through DECIMAL for cross-engine exactness, output cast to DOUBLE.
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q5_regional_revenue",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_regional_revenue(spark, sf_dir):
    # nation/region are tiny dims → broadcast; the fact-fact joins shuffle on
    # their keys once each (Catalyst/AQE pick SMJ or SHJ).
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    dec = lambda col: F.col(col).cast("decimal(18,2)")  # noqa: E731
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Events: tumbling-window aggregate (batch form of the streaming rollup) and
# per-user ordered window functions (W2 made user-visible).
# ---------------------------------------------------------------------------


def _events(spark, sf_dir):
    """Load `events` and normalize `ts` to `ts_us`, an exact BIGINT
    microseconds-since-epoch column, so every downstream query does integer
    time arithmetic (doubles lose precision above 2^53; DuckDB oracles
    mirror via `epoch_us(ts)`).

    The parquet physical type of `ts` has changed across testdata
    generations (TIMESTAMP(NANOS) → timestamp[us]), so we branch on the
    dtype Spark actually resolved rather than assuming one encoding:

    * ``bigint`` — nanos-as-long legacy read
      (`spark.sql.legacy.parquet.nanosAsLong`): floor-divide to µs.
    * ``timestamp_ntz`` — tz-independent µs via ``timestampdiff`` against
      the NTZ epoch literal. Deliberately NOT ``unix_micros(cast(ts as
      timestamp))``: that reinterprets the naive value in the session
      timezone, silently shifting every epoch in a non-UTC session, while
      DuckDB's `epoch_us` stays UTC-naive.
    * ``timestamp`` — `unix_micros` directly (already an absolute instant).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _t(spark, sf_dir, "events")
    dtype = dict(df.dtypes)["ts"]
    if dtype == "bigint":
        ts_us = F.expr("ts DIV 1000")  # integer div: ns > 2^53 breaks double math
    elif dtype == "timestamp_ntz":
        ts_us = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    else:
        ts_us = F.unix_micros("ts")
    return df.withColumn("ts_us", ts_us.cast("long")).drop("ts")


@query(
    "events_daily_from_hourly",
    oracle="""
    WITH hourly AS (
      SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
             event_type,
             count(*) AS n_events,
             SUM(CAST(value AS DECIMAL(18,4))) AS sum_value_dec
      FROM events GROUP BY 1, 2
    )
    SELECT hour_us - hour_us % 86400000000 AS day_us,
           event_type,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(sum_value_dec) AS DOUBLE) AS sum_value
    FROM hourly GROUP BY 1, 2
    """,
)
def events_daily_from_hourly(spark, sf_dir):
    """Multi-resolution (hypertable-style) rollup: the DAILY aggregate is
    re-aggregated FROM the hourly rollup, not from raw events — the
    continuous-aggregate pattern where coarse resolutions read fine ones
    (at 100 TB the hourly table is ~10⁴× smaller than raw). Sums stay in
    DECIMAL until the final cast so sum-of-sums is exact; both levels
    shuffle on the same leading time key."""
    ev = _events(spark, sf_dir)
    hourly = (
        ev.groupBy(
            (F.col("ts_us") - F.col("ts_us") % F.lit(3_600_000_000)).alias("hour_us"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value_dec"),
        )
    )
    return (
        hourly.groupBy(
            (F.col("hour_us") - F.col("hour_us") % F.lit(86_400_000_000)).alias("day_us"),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_dec").cast("double").alias("sum_value"),
        )
    )


@query(
    "events_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'error') AS error,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup') AS signup,
           count(*) FILTER (event_type = 'view') AS view
    FROM events GROUP BY user_id
    """,
)
def events_pivot(spark, sf_dir):
    """Pivot (long→wide): explicit value list so the plan is a single hash
    aggregate with one conditional counter per column — no second pass to
    discover pivot values (which at scale is a full extra scan + collect)."""
    ev = _events(spark, sf_dir)
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c)
          for c in ["click", "error", "purchase", "signup", "view"]],
    )


@query(
    "a12_setops",
    oracle="""
    SELECT o_custkey AS id FROM orders WHERE o_totalprice > 100000
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
)
def a12_setops(spark, sf_dir):
    """INTERSECT (set semantics): high-value buyers who are also
    high-balance customers."""
    big_orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 100000)
        .select(F.col("o_custkey").alias("id"))
    )
    rich = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("id"))
    )
    return big_orders.intersect(rich)


@query(
    "events_asof_join",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, epoch_us(ts) AS ts_us, max(event_id) AS purchase_id
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT c.event_id, c.user_id, c.ts_us,
           p.purchase_id, p.ts_us AS purchase_ts_us
    FROM c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
    """,
)
def events_asof_join(spark, sf_dir):
    """Backward as-of join (operators/temporal.py): each click enriched
    with the user's most recent prior-or-equal purchase. Oracle = DuckDB's
    native ASOF LEFT JOIN; the Spark side is the union+window merge plan
    (one shuffle on user_id)."""
    from pgdedupe_spark.operators.temporal import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts_us")
        .agg(F.max("event_id").alias("purchase_id"))
        .withColumn("purchase_ts_us", F.col("ts_us"))
    )
    return asof_join(
        clicks,
        purchases,
        key_cols=["user_id"],
        order_col="ts_us",
        value_cols=["purchase_id", "purchase_ts_us"],
    )


@query(
    "events_approx_distinct",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
             <= 0.05 * count(DISTINCT user_id) AS approx_ok
    FROM events GROUP BY event_type
    """,
)
def events_approx_distinct(spark, sf_dir):
    """Distinct-user sketch (HLL++): at 100 TB, count(DISTINCT) shuffles
    every key while the sketch is a fixed few-KB accumulator with map-side
    partial merge. Engines' sketches differ internally, so the oracle-checked
    value is each engine's sketch judged against its OWN exact count — the
    5%-accuracy contract is the cross-engine invariant (both run ≲1.6% rsd
    here: Spark rsd=0.01, DuckDB default). Sketches are hash-deterministic,
    merge-order independent."""
    ev = _events(spark, sf_dir)  # sets the nanos-parquet read conf
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.01)
                - F.count_distinct("user_id")
            )
            <= 0.05 * F.count_distinct("user_id")
        ).alias("approx_ok"),
    )


@query(
    "events_range_join",
    oracle="""
    WITH err AS (
      SELECT event_id AS error_id, user_id,
             epoch_us(ts) - 1800000000 AS lo_us,
             epoch_us(ts) + 1800000000 AS hi_us
      FROM events WHERE event_type = 'error'
    ), v AS (
      SELECT user_id, epoch_us(ts) AS ts_us
      FROM events WHERE event_type = 'view'
    )
    SELECT err.error_id,
           count(v.ts_us) AS n_views_nearby
    FROM err LEFT JOIN v
      ON err.user_id = v.user_id AND v.ts_us BETWEEN err.lo_us AND err.hi_us
    GROUP BY err.error_id
    """,
)
def events_range_join(spark, sf_dir):
    """Point-in-interval join (operators/temporal.range_join): views within
    ±30 min of each error event, per user. Bucketed-axis equi-join plan —
    the naive BETWEEN join is a nested loop. Left-join semantics (errors
    with zero nearby views kept) recovered by a left join back onto the
    error set."""
    from pgdedupe_spark.operators.temporal import range_join

    ev = _events(spark, sf_dir)
    half_win = 1_800_000_000  # 30 min in µs
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        (F.col("ts_us") - half_win).alias("lo_us"),
        (F.col("ts_us") + half_win).alias("hi_us"),
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts_us")
    pairs = range_join(
        views, errors, ["user_id"], "ts_us", "lo_us", "hi_us",
        bucket_width=2 * half_win,
    )
    counts = pairs.groupBy("error_id").agg(F.count(F.lit(1)).alias("_n"))
    return (
        errors.join(counts, "error_id", "left")
        .select(
            "error_id", F.coalesce("_n", F.lit(0)).alias("n_views_nearby")
        )
    )


@query(
    "events_hourly_rollup",
    oracle="""
    SELECT event_type,
           epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type, epoch_us(ts) - epoch_us(ts) % 3600000000
    """,
)
def events_hourly_rollup(spark, sf_dir):
    ev = _events(spark, sf_dir)
    hour = (F.col("ts_us") - F.col("ts_us") % F.lit(3600000000)).alias("hour_us")
    return ev.groupBy("event_type", hour).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )


@query(
    "events_user_seq",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
    FROM events
    """,
)
def events_user_seq(spark, sf_dir):
    from pyspark.sql import Window

    # tie-break on event_id matches the oracle's ORDER BY ts, event_id
    # (ts_us ties are possible after µs truncation)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        "user_id",
        "ts_us",
        F.row_number().over(w).alias("seq"),
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us"),
    )


# ===========================================================================
# LLM-data-pipeline extensions (BASELINE.json north star): dedup, similarity
# search, text analysis, multimodal plumbing — each over documents /
# embeddings, oracle-checked where SQL-expressible.
# ===========================================================================


@query(
    "dedup_exact_norm",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE source = 'src0'
    ), n AS (
      SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
      FROM corpus
    )
    SELECT min(doc_id) AS canon_id,
           coalesce(array_to_string(array_agg(doc_id ORDER BY doc_id), ','), '') AS dup_ids,
           count(*) AS n_dups
    FROM n GROUP BY norm HAVING count(*) > 1
    """,
)
def dedup_exact_norm(spark, sf_dir):
    """Exact-dup groups over corpus ∪ re-crawled shard: the synthetic
    documents table has no exact duplicates at any SF (probed — even
    stripping all non-alphanumerics leaves every text unique), which made
    this row vacuously green. Model the real scenario exact dedup exists
    for instead: a re-crawl of one source shard (src0, new doc_ids)
    appended to the standing corpus — every re-crawled doc must collapse
    into a group with its original."""
    from pgdedupe_spark.operators.dedup import exact_duplicate_groups

    docs = _t(spark, sf_dir, "documents")
    recrawl = docs.filter(F.col("source") == "src0").withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    out = exact_duplicate_groups(
        docs.select("doc_id", "text").unionByName(recrawl.select("doc_id", "text")),
        "text",
        "doc_id",
    )
    # Stringified at the query boundary (driver canonicalizer: no list cells).
    return out.withColumn("dup_ids", F.array_join(F.col("dup_ids").cast("array<string>"), ","))


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(text)-3, 2)),
                           i -> substr(text, i::int, 5))) AS ss
      FROM documents
    )
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           len(list_intersect(a.ss, b.ss))::DOUBLE /
             (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))) AS jaccard
    FROM sh a, sh b
    WHERE a.doc_id < b.doc_id
      AND len(list_intersect(a.ss, b.ss))::DOUBLE /
            (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    from pgdedupe_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=5, threshold=0.6
    )


@query("dedup_minhash_lsh")  # approximate candidates → exact verify
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup pairs at the 64-hash × 16-band operating
    point. MinHash has one hash family (md5 base hash, Carter–Wegman
    permutations), so this row computes exactly the rows of
    dedup_minhash_portable, which carries the DuckDB oracle; the row
    keeps its recall and planted-pair pytest coverage."""
    from pgdedupe_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=5,
        num_hashes=64, bands=16, threshold=0.6,
    )


@query("dedup_simhash")  # signature space isn't SQL-replicable; rows-only
def dedup_simhash(spark, sf_dir):
    from pgdedupe_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3)


@query(
    "dedup_minhash_portable",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(text)-3, 2)),
                           i -> substr(text, i::int, 5))) AS ss
      FROM documents
    ), shf AS (
      SELECT doc_id, ss FROM sh WHERE len(ss) > 0
    ), hsd AS (
      SELECT doc_id, ss,
             list_transform(ss, s ->
               CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647)
               AS hs
      FROM shf
    ), sig AS (
      SELECT doc_id, ss,
             list_transform(range(0, 64), k ->
               list_min(list_transform(hs, h ->
                 ([1103527590,59559188,1163074433,119106031,1222621276,178652874,1282168119,238199717,1341714962,297746560,1401261805,357293403,1460808648,416840246,1520355491,476387089,1579902334,535933932,1639449177,595480775,1698996020,655027618,1758542863,714574461,1818089706,774121304,1877636549,833668147,1937183392,893214990,1996730235,952761833,2056277078,1012308676,2115823921,1071855519,27887117,1131402362,87433960,1190949205,146980803,1250496048,206527646,1310042891,266074489,1369589734,325621332,1429136577,385168175,1488683420,444715018,1548230263,504261861,1607777106,563808704,1667323949,623355547,1726870792,682902390,1786417635,742449233,1845964478,801996076,1905511321][k+1] * h + [1856146434,812178032,1915693277,871724875,1975240120,931271718,2034786963,990818561,2094333806,1050365404,6397002,1109912247,65943845,1169459090,125490688,1229005933,185037531,1288552776,244584374,1348099619,304131217,1407646462,363678060,1467193305,423224903,1526740148,482771746,1586286991,542318589,1645833834,601865432,1705380677,661412275,1764927520,720959118,1824474363,780505961,1884021206,840052804,1943568049,899599647,2003114892,959146490,2062661735,1018693333,2122208578,1078240176,34271774,1137787019,93818617,1197333862,153365460,1256880705,212912303,1316427548,272459146,1375974391,332005989,1435521234,391552832,1495068077,451099675,1554614920,510646518][k+1]) % 2147483647))) AS mh
      FROM hsd
    ), bnd AS (
      SELECT doc_id, b.b AS band,
             CAST(concat('0x', substr(md5(concat_ws('|', CAST(b.b AS VARCHAR),
                  CAST(mh[4*b.b+1] AS VARCHAR), CAST(mh[4*b.b+2] AS VARCHAR),
                  CAST(mh[4*b.b+3] AS VARCHAR), CAST(mh[4*b.b+4] AS VARCHAR))), 1, 15))
                  AS BIGINT) AS bkey
      FROM sig, (SELECT unnest(range(0, 16)) AS b) b
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
      FROM bnd a JOIN bnd c
        ON a.band = c.band AND a.bkey = c.bkey AND a.doc_id < c.doc_id
    )
    SELECT id1, id2,
           len(list_intersect(s1.ss, s2.ss))::DOUBLE /
             (len(s1.ss) + len(s2.ss) - len(list_intersect(s1.ss, s2.ss))) AS jaccard
    FROM cand
    JOIN shf s1 ON s1.doc_id = cand.id1
    JOIN shf s2 ON s2.doc_id = cand.id2
    WHERE len(list_intersect(s1.ss, s2.ss))::DOUBLE /
            (len(s1.ss) + len(s2.ss) - len(list_intersect(s1.ss, s2.ss))) >= 0.6
    """,
)
def dedup_minhash_portable(spark, sf_dir):
    """MinHash-LSH near-dup pairs under the PORTABLE 60-bit md5 hash
    (dedup.portable_hash60, new r8 — VERDICT r7 #4): the same call as
    dedup_minhash_lsh, checked by a DuckDB oracle that replays every
    hash bit-for-bit — the driver's HARD signal for the dedup family's
    core. Hash design: md5 runs ONCE per shingle (60-bit value of its
    first 15 hex digits, reduced mod 2^31-1); the 64 signature hashes
    are Carter-Wegman affine permutations (A_i·h+B_i mod 2^31-1 —
    constants are literals in the oracle) applied to that one base hash,
    so the expensive node isn't paid k times (k md5 passes measured
    174 s at sf0.1). Band keys md5 the '|'-joined minhash runs — 16
    bands of 4 (2-row bands measured 3.7M false candidates vs 240k; the
    verify stage, not the hashing, is where a permissive curve bleeds).
    First driver row scheduled r8."""
    from pgdedupe_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=5,
        num_hashes=64, bands=16, threshold=0.6,
    )


@query(
    "dedup_simhash_portable",
    oracle="""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents
    ), th AS (
      SELECT doc_id,
             list_transform(toks, t ->
               CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)) AS hs
      FROM tok
    ), sg AS (
      SELECT doc_id,
             CAST(coalesce(list_sum(list_transform(range(0, 60), b ->
               CASE WHEN 2 * len(list_filter(hs, h -> ((h >> b) & 1) = 1)) > len(hs)
                    THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)), 0)
               AS BIGINT) AS sig
      FROM th
    ), bnd AS (
      SELECT doc_id, sig, c.c AS c, (sig >> (c.c * 15)) & 32767 AS k
      FROM sg, (SELECT unnest(range(0, 4)) AS c) c
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
             a.sig AS s1, b.sig AS s2
      FROM bnd a JOIN bnd b
        ON a.c = b.c AND a.k = b.k AND a.doc_id < b.doc_id
    )
    SELECT id1, id2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(s1, s2)) <= 3
    """,
)
def dedup_simhash_portable(spark, sf_dir):
    """SimHash Hamming-ball near-dup pairs under the PORTABLE 60-bit md5
    token hash (new r8 — VERDICT r7 #4): same tokenize → bit-majority
    signature → pigeonhole chunk join → hamming filter pipeline as
    dedup_simhash, with a 60-bit signature (4 chunks × 15 bits for
    max_hamming=3; 60 bits keeps every value non-negative in a signed
    BIGINT on both engines, dodging sign-extension skew). The DuckDB
    oracle rebuilds every signature bit-for-bit from md5 — the
    signature space IS SQL-replicable under this hash, so the driver
    hash-checks what the xxhash64 twin could only rows-only claim."""
    from pgdedupe_spark.operators.dedup import simhash_pairs

    return simhash_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        max_hamming=3, portable=True,
    )


@query(
    "ml_contrastive_negatives",
    oracle="""
    WITH it AS (
      SELECT vec_id AS item_id,
             row_number() OVER (ORDER BY vec_id) AS idx
      FROM embeddings
    ), nn AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
    ), anch AS (
      SELECT vec_id AS anchor_id FROM embeddings WHERE vec_id % 10 = 1
    ), cand AS (
      SELECT anchor_id, j.j AS j,
             CAST(concat('0x', substr(md5(concat_ws('|',
                  CAST(anchor_id AS VARCHAR), CAST(j.j AS VARCHAR))), 1, 15))
                  AS BIGINT) % (SELECT n FROM nn) + 1 AS idx
      FROM anch, (SELECT unnest(range(0, 10)) AS j) j
    ), joined AS (
      SELECT c.anchor_id, c.j, i.item_id FROM cand c JOIN it i USING (idx)
    ), neg AS (
      SELECT * FROM joined
      WHERE item_id <> anchor_id AND item_id <> anchor_id - 1
    ), ded AS (
      SELECT anchor_id, item_id, min(j) AS j FROM neg GROUP BY 1, 2
    )
    SELECT anchor_id, item_id, CAST(neg_rank AS INT) AS neg_rank FROM (
      SELECT anchor_id, item_id,
             row_number() OVER (PARTITION BY anchor_id ORDER BY j) AS neg_rank
      FROM ded) WHERE neg_rank <= 5
    """,
)
def ml_contrastive_negatives(spark, sf_dir):
    """Deterministic contrastive negative sampling
    (curation.contrastive_negatives, new r8): 5 negatives per anchor
    (every 10th vector), excluding the anchor itself and its planted
    near-dup twin (vec_id−1) as positives. The sampler is the portable
    md5 hash mod the item count over dense serial-id ranks — a pure
    projection + equi-join + bounded per-anchor window, never a cross
    join and never RNG — so DuckDB reproduces every sampled negative.
    The training-pair primitive for contrastive/DPO data builds."""
    from pgdedupe_spark.operators.curation import contrastive_negatives

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 10 == 1).select(
        F.col("vec_id").alias("anchor_id")
    )
    items = emb.select(F.col("vec_id").alias("item_id"))
    positives = anchors.select(
        "anchor_id", F.col("anchor_id").alias("item_id")
    ).unionByName(
        anchors.select("anchor_id", (F.col("anchor_id") - 1).alias("item_id"))
    )
    return contrastive_negatives(
        anchors, items, positives, k=5,
        anchor_col="anchor_id", item_col="item_id", oversample=2,
    )


@query(
    "text_html_extract",
    oracle="""
    WITH html AS (
      SELECT doc_id,
             '<html><!-- id=' || CAST(doc_id AS VARCHAR)
             || ' --><head><script type="text/javascript">var id='
             || CAST(doc_id AS VARCHAR)
             || ';</script><style>p { color: red; }</style></head>'
             || '<body><h1>Doc &amp; ' || CAST(doc_id AS VARCHAR)
             || '</h1><p>' || text
             || '</p><div>&nbsp;&lt;footer&gt;</div></body></html>' AS h
      FROM documents
    ), stripped AS (
      SELECT doc_id,
        regexp_replace(
          regexp_replace(
            regexp_replace(h, '(?s)<!--.*?-->', ' ', 'g'),
            '(?is)<(script|style|noscript)\\b[^>]*>.*?</(script|style|noscript)>',
            ' ', 'g'),
          '<[^>]*>', ' ', 'g') AS t
      FROM html
    ), decoded AS (
      SELECT doc_id,
        replace(replace(replace(replace(replace(replace(replace(t,
          '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          '&#39;', chr(39)), '&apos;', chr(39)), '&amp;', '&') AS t
      FROM stripped
    )
    SELECT doc_id,
           trim(regexp_replace(t, '\\s+', ' ', 'g')) AS text_extracted,
           CAST(len(trim(regexp_replace(t, '\\s+', ' ', 'g'))) AS BIGINT)
             AS n_chars_extracted
    FROM decoded
    """,
)
def text_html_extract(spark, sf_dir):
    """HTML→text extraction (text.html_to_text, new r8): documents
    wrapped in a deterministic HTML shell — comment, script AND style
    elements with content, heading/paragraph structure, and entity
    escapes (&amp;/&nbsp;/&lt;…) — then extracted back. The first stage
    of a crawl pipeline: everything downstream (quality, dedup, LID)
    must run on visible text, not markup. Pure regexp/replace chain in
    one codegen projection, zero shuffle; the oracle executes the
    byte-identical patterns (Java regex ≡ RE2 on these)."""
    from pgdedupe_spark.operators.text import html_to_text

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><!-- id="), did,
        F.lit(' --><head><script type="text/javascript">var id='), did,
        F.lit(";</script><style>p { color: red; }</style></head>"),
        F.lit("<body><h1>Doc &amp; "), did,
        F.lit("</h1><p>"), F.col("text"),
        F.lit("</p><div>&nbsp;&lt;footer&gt;</div></body></html>"),
    )
    out = html_to_text(docs.select("doc_id", "text").withColumn("_h", html), "_h")
    return out.select(
        F.col("doc_id"),
        F.col("text_extracted"),
        F.length("text_extracted").cast("bigint").alias("n_chars_extracted"),
    )


def _kmeans_cte_prefix(k: int = 4, iterations: int = 2, dim: int = 64) -> str:
    """Unrolled Lloyd's iterations as DuckDB CTEs — the exact-integer
    twin of operators/kmeans.fit_centroids (same floor-quantize, BIGINT
    squared distances, truncating // centroid updates, ties→smallest
    cid, empty clusters keep the previous centroid). Ends at the ``asg``
    CTE: the final (vec_id, cid, dist) assignment, shared by the
    ml_kmeans_exact and ml_prototype_prune oracles."""
    sums = ", ".join(f"sum(v.iv[{d + 1}]) AS s{d}" for d in range(dim))
    newc = ", ".join(f"s.s{d} // s.n" for d in range(dim))
    sql = [f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS iv
      FROM embeddings
    ), c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, iv
      FROM (SELECT * FROM v ORDER BY vec_id LIMIT {k})
    )"""]
    prev = "c0"
    for it in range(1, iterations + 1):
        sql.append(f""", d{it} AS (
      SELECT v.vec_id, c.cid,
             list_sum(list_transform(range(1, {dim + 1}),
               i -> (v.iv[i] - c.iv[i]) * (v.iv[i] - c.iv[i]))) AS dist
      FROM v CROSS JOIN {prev} c
    ), a{it} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
        FROM d{it}) WHERE rk = 1
    ), s{it} AS (
      SELECT a.cid, CAST(count(*) AS BIGINT) AS n, {sums}
      FROM a{it} a JOIN v ON v.vec_id = a.vec_id GROUP BY a.cid
    ), c{it} AS (
      SELECT p.cid, CASE WHEN s.n IS NULL THEN p.iv ELSE [{newc}] END AS iv
      FROM {prev} p LEFT JOIN s{it} s ON s.cid = p.cid
    )""")
        prev = f"c{it}"
    sql.append(f""", df AS (
      SELECT v.vec_id, c.cid,
             list_sum(list_transform(range(1, {dim + 1}),
               i -> (v.iv[i] - c.iv[i]) * (v.iv[i] - c.iv[i]))) AS dist
      FROM v CROSS JOIN {prev} c
    ), asg AS (
      SELECT vec_id, cid, dist FROM (
        SELECT vec_id, cid, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
        FROM df) WHERE rk = 1
    )""")
    return "".join(sql)


def _kmeans_oracle(k: int = 4, iterations: int = 2, dim: int = 64) -> str:
    return (
        _kmeans_cte_prefix(k, iterations, dim)
        + " SELECT vec_id, cid AS cluster FROM asg"
    )


def _proto_oracle(
    k: int = 4, iterations: int = 2, dim: int = 64, keep_pct: int = 40
) -> str:
    """Prototype-prune twin: the shared Lloyd's prefix, then per-cluster
    counts + hardness rank (dist DESC, vec_id ASC) + the ceil-fraction
    keep flag — mirroring kmeans.prototype_prune(exact=True)."""
    return (
        _kmeans_cte_prefix(k, iterations, dim)
        + f"""
    , cnt AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM asg GROUP BY cid),
    rk AS (
      SELECT vec_id, cid, dist,
             CAST(row_number() OVER (PARTITION BY cid
                    ORDER BY dist DESC, vec_id) AS BIGINT) AS hard_rank
      FROM asg
    )
    SELECT r.vec_id, r.cid AS cluster, CAST(r.dist AS BIGINT) AS proto_dist,
           r.hard_rank,
           CAST(r.hard_rank <= (c.n * {keep_pct} + 99) // 100 AS INT) AS kept
    FROM rk r JOIN cnt c ON c.cid = r.cid
    """
    )


@query("ml_kmeans_exact", oracle=_kmeans_oracle())
def ml_kmeans_exact(spark, sf_dir):
    """Exact-integer k-means over the embeddings table (kmeans.kmeans_exact,
    new r8): the corpus-mixing / domain-discovery primitive, formulated
    like graph_pagerank so an ITERATIVE ML operator sits under a full
    hash oracle — floor-quantized BIGINT vectors, order-free integer
    distance sums, truncating-division centroid updates (Spark div ≡
    DuckDB // ≡ the operator's driver-side trunc-div), deterministic
    smallest-id seeding, ties→smallest cluster. 2 Lloyd's rounds, k=4,
    dim=64. Assignment is a pure codegen projection against centroid
    LITERALS (no join, no shuffle); each update is one k-group hash
    aggregate + a ≤k-row driver collect — pagerank's bounded-collect
    discipline. DuckDB unrolls both rounds as CTEs."""
    from pgdedupe_spark.operators.kmeans import kmeans_exact

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_exact(emb, "vec_id", "embedding", k=4, iterations=2, dim=64)


@query("ml_prototype_prune", oracle=_proto_oracle())
def ml_prototype_prune(spark, sf_dir):
    """Prototype-based data pruning (kmeans.prototype_prune, new
    late-r10) — the SSL-prototypes selection rule (Sorscher et al. 2022)
    that D4 composes with SemDeDup: k-means over the embeddings table
    (the same bit-exact fit as ml_kmeans_exact), score every vector by
    exact-integer squared distance to its prototype, and KEEP the
    hardest 40% per cluster (dist DESC, vec_id tie-break, ceil
    fraction). Emits every row with cluster, proto_dist, hard_rank and
    the kept flag. Scoring is the zero-join codegen projection; the
    exact rank windows on k partitions (the oracle-checkable tier — at
    100 TB the exact=False percentile-cutoff path drops the Window
    entirely, pinned in tests/test_prototype.py)."""
    from pgdedupe_spark.operators.kmeans import prototype_prune

    emb = _t(spark, sf_dir, "embeddings")
    return prototype_prune(
        emb, "vec_id", "embedding", k=4, iterations=2, keep_pct=40, dim=64
    )


@query(
    "er_golden_record",
    oracle="""
    WITH base AS (
      SELECT c_custkey % 211 AS cluster, c_custkey,
             c_name, c_acctbal, c_mktsegment, c_nationkey
      FROM customer
    ), agg AS (
      SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
             max(c_acctbal) AS c_acctbal
      FROM base GROUP BY cluster
    ), longest AS (
      SELECT cluster, c_name,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY len(c_name) DESC, c_name) AS rk
      FROM base WHERE c_name IS NOT NULL
    ), latest AS (
      SELECT cluster, c_nationkey,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY c_custkey DESC, c_nationkey DESC) AS rk
      FROM base WHERE c_nationkey IS NOT NULL
    ), seg_counts AS (
      SELECT cluster, c_mktsegment, count(*) AS n
      FROM base WHERE c_mktsegment IS NOT NULL
      GROUP BY cluster, c_mktsegment
    ), seg_mode AS (
      SELECT cluster, c_mktsegment,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY n DESC, c_mktsegment) AS rk
      FROM seg_counts
    )
    SELECT a.cluster, a.n_members, lo.c_name, a.c_acctbal,
           sm.c_mktsegment, la.c_nationkey
    FROM agg a
    JOIN longest lo ON lo.cluster = a.cluster AND lo.rk = 1
    JOIN latest la ON la.cluster = a.cluster AND la.rk = 1
    JOIN seg_mode sm ON sm.cluster = a.cluster AND sm.rk = 1
    """,
)
def er_golden_record(spark, sf_dir):
    """Survivorship — the last mile the reference's workflow stops short
    of (run.py writes entity_map cluster ids and ends): one golden
    record per cluster, each field picked by its own deterministic rule
    (survivorship.golden_record, new r8). Synthetic clusters
    (c_custkey % 211 → ~7-member entities at sf0.01) exercise all four
    rule families at once: longest (c_name — equal lengths, so the tie
    rule 'smallest value' is what's actually pinned), max (c_acctbal),
    mode with ties→smallest (c_mktsegment — 5 segments, real plurality),
    latest by seq (c_nationkey at max c_custkey). The Spark plan is ONE
    cluster-keyed aggregation + one count-agg join for the mode field;
    the oracle mirrors each rule with an explicitly-ordered window."""
    from pgdedupe_spark.operators.survivorship import golden_record

    c = _t(spark, sf_dir, "customer").select(
        (F.col("c_custkey") % 211).alias("cluster"),
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment", "c_nationkey",
    )
    return golden_record(
        c,
        "cluster",
        {
            "c_name": "longest",
            "c_acctbal": "max",
            "c_mktsegment": "mode",
            "c_nationkey": "latest",
        },
        seq_col="c_custkey",
    )


@query(
    "er_blocking_metrics",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE source = 'src0'
    ), keyed AS (
      SELECT doc_id,
             substr(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), 1, 32)
               AS bkey
      FROM corpus
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM keyed a JOIN keyed b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
    ), truth AS (
      SELECT doc_id AS id1, doc_id + 1000000 AS id2
      FROM documents WHERE source = 'src0'
    ), nums AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
             (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
             (SELECT CAST(count(*) AS BIGINT)
              FROM cand JOIN truth USING (id1, id2)) AS n_hits,
             (SELECT CAST(count(*) AS BIGINT) FROM corpus) AS nr
    )
    SELECT n_candidates, n_truth, n_hits,
           1.0 - CAST(n_candidates AS DOUBLE)
                 / (CAST(nr AS DOUBLE) * (CAST(nr AS DOUBLE) - 1) / 2.0)
             AS reduction_ratio,
           CASE WHEN n_truth > 0
                THEN CAST(n_hits AS DOUBLE) / CAST(n_truth AS DOUBLE) END
             AS completeness,
           CASE WHEN n_candidates > 0
                THEN CAST(n_hits AS DOUBLE) / CAST(n_candidates AS DOUBLE) END
             AS quality
    FROM nums
    """,
)
def er_blocking_metrics(spark, sf_dir):
    """Blocking-stage scorecard (survivorship.blocking_metrics, new r8):
    reduction ratio / pairs completeness / pairs quality of a prefix
    blocker on the re-crawl corpus (documents ∪ src0 shard re-ingested
    under new ids — the dedup_exact_norm scenario, where the planted
    truth is exactly the (doc, recrawl) pairs). The blocker keys on the
    first 32 chars of the normalized text: completeness must be 1.0
    (exact dups share any prefix), quality < 1 where distinct docs
    share openings, and the quadratic denominator comes from a 1-row
    count INSIDE the plan — no driver collects anywhere."""
    from pgdedupe_spark.operators.dedup import normalize_text
    from pgdedupe_spark.operators.survivorship import blocking_metrics

    docs = _t(spark, sf_dir, "documents")
    recrawl = docs.filter(F.col("source") == "src0").withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    corpus = docs.select("doc_id", "text").unionByName(
        recrawl.select("doc_id", "text")
    )
    keyed = corpus.select(
        "doc_id", F.substring(normalize_text(F.col("text")), 1, 32).alias("bkey")
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(b, (F.col("a.bkey") == F.col("b.bkey"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
    )
    truth = docs.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("id1"),
        (F.col("doc_id") + 1_000_000).alias("id2"),
    )
    return blocking_metrics(cand, truth, corpus)


_SW_EN = "'the','a','of','and','to','in','is','it','that','for'"


@query(
    "text_quality_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct
      FROM documents
    )
    SELECT doc_id,
           CAST(len(text) AS BIGINT) AS n_chars_txt,
           n_tokens, n_punct,
           CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
             / greatest(n_tokens, 1) AS avg_token_len,
           CAST(len(list_filter(toks, t2 -> t2 IN ({_SW_EN}))) AS BIGINT) AS en_stopword_hits,
           (n_tokens >= 10 AND n_punct * 2 < n_tokens
            AND CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                / greatest(n_tokens, 1) < 12) AS quality_ok
    FROM t
    """,
)
def text_quality_stats(spark, sf_dir):
    from pgdedupe_spark.operators.text import text_stats

    return text_stats(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _sw_sql(lang: str) -> str:
    from pgdedupe_spark.operators.text import STOPWORDS

    return ",".join(f"'{w}'" for w in STOPWORDS[lang])


@query(
    "text_language_id",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
    ), h AS (
      SELECT doc_id,
             CAST(len(list_filter(toks, x -> x IN ({_sw_sql('de')}))) AS BIGINT) AS h_de,
             CAST(len(list_filter(toks, x -> x IN ({_sw_sql('en')}))) AS BIGINT) AS h_en,
             CAST(len(list_filter(toks, x -> x IN ({_sw_sql('es')}))) AS BIGINT) AS h_es,
             CAST(len(list_filter(toks, x -> x IN ({_sw_sql('fr')}))) AS BIGINT) AS h_fr,
             CAST(len(list_filter(toks, x -> x IN ({_sw_sql('zh')}))) AS BIGINT) AS h_zh
      FROM t
    )
    SELECT doc_id,
           CASE
             WHEN h_de >= greatest(h_en, h_es, h_fr, h_zh) THEN 'de'
             WHEN h_en >= greatest(h_es, h_fr, h_zh) THEN 'en'
             WHEN h_es >= greatest(h_fr, h_zh) THEN 'es'
             WHEN h_fr >= h_zh THEN 'fr'
             ELSE 'zh'
           END AS pred_lang,
           greatest(h_de, h_en, h_es, h_fr, h_zh) AS hits
    FROM h
    """,
)
def text_language_id(spark, sf_dir):
    from pgdedupe_spark.operators.text import language_id

    return language_id(_t(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           CASE WHEN len(text) = 0 THEN 0 ELSE
             list_reduce(
               list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
               (acc, x) -> (acc * 31 + x) % 1000000007)
           END AS fp
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    from pgdedupe_spark.operators.text import doc_fingerprints

    return doc_fingerprints(_t(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "ann_cosine_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS neighbor_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS cv
      FROM embeddings
    ), scored AS (
      SELECT query_id, neighbor_id,
             list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
      FROM q, c WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def ann_cosine_topk(spark, sf_dir):
    from pgdedupe_spark.operators.similarity import cosine_topk

    return cosine_topk(_t(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=5)


# ---------------------------------------------------------------------------
# r9: the whole approximate-ANN family under FULL hash oracles (the pattern
# proven on ann_pq_serve): 10^4-quantized vectors + integer-valued layouts
# (pinned trained centroids for IVF, integer-rounded Gaussian planes for
# LSH) make every bucket id / cell assignment / cosine an exact-integer-
# derived value both engines compute bit-identically. The generators below
# build the DuckDB twins from the SAME constants the Spark plans bake in.
# ---------------------------------------------------------------------------

_ANN_QUANT = (
    "list_transform(embedding, x -> "
    "CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT))"
)
_ANN_K = 5


def _quantized_embeddings(spark, sf_dir):
    """embeddings with the vector 10^4-quantized to integer-valued
    doubles — the Spark twin of ``_ANN_QUANT`` (same floor(x*s+0.5))."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 10000 + 0.5).cast("double"),
        ).alias("embedding"),
    )


def _ann_ilist(vals) -> str:
    return "[" + ",".join(str(int(v)) for v in vals) + "]"


def _ann_exact_tail(k: int) -> str:
    """Exact-cosine re-rank of a ``cand(query_id, neighbor_id)`` CTE over
    the quantized q/c CTEs — identical arithmetic to ann_cosine_topk."""
    sim = (
        "CAST(list_dot_product(q.qv, c.cv) AS DOUBLE)"
        " / (sqrt(CAST(list_dot_product(q.qv, q.qv) AS DOUBLE))"
        " * sqrt(CAST(list_dot_product(c.cv, c.cv) AS DOUBLE)))"
    )
    return f"""
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT cand.query_id, cand.neighbor_id, {sim} AS sim,
             row_number() OVER (PARTITION BY cand.query_id
                                ORDER BY {sim} DESC, cand.neighbor_id) AS rank
      FROM cand
      JOIN q ON q.query_id = cand.query_id
      JOIN c ON c.neighbor_id = cand.neighbor_id
    ) WHERE rank <= {k}
    """


def _ivf_topk_oracle(n_probe: int) -> str:
    """DuckDB twin of the pinned-centroid IVF serve: argmax-cosine cell
    assignment (first-wins, matching _assign_cells' strict-> fold), raw-
    dot probe ranking (matching _rank_cells), exact cosine inside probed
    cells. Identical for ann_ivf_topk and ann_ivf_serve (serve == topk
    when parameters match; pinned in tests/test_serve.py)."""
    import math

    from pgdedupe_spark.operators.similarity import pinned_pq_layout

    _, centroids = pinned_pq_layout(64, 16, 32, 16)
    cos_exprs = []
    probe_structs = []
    for cid, cvec in centroids:
        nrm = math.sqrt(sum(float(x) * float(x) for x in cvec))
        cos_exprs.append(
            f"(CAST(list_dot_product(cv, {_ann_ilist(cvec)}) AS DOUBLE)"
            f" / (sqrt(CAST(list_dot_product(cv, cv) AS DOUBLE)) * {nrm!r}))"
        )
        probe_structs.append(
            f"{{'cid': {cid}, 'cs': list_dot_product(qv, {_ann_ilist(cvec)})}}"
        )
    cl = "[" + ",".join(cos_exprs) + "]"
    return f"""
    WITH c AS (
      SELECT vec_id AS neighbor_id, {_ANN_QUANT} AS cv FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, {_ANN_QUANT} AS qv FROM embeddings WHERE vec_id < 10
    ), cells AS (
      SELECT neighbor_id, list_position({cl}, list_max({cl})) - 1 AS cell FROM c
    ), pr AS (
      SELECT query_id, cid AS cell FROM (
        SELECT query_id, u.cid AS cid,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY u.cs DESC, u.cid) AS prn
        FROM (SELECT query_id, unnest([{",".join(probe_structs)}]) AS u FROM q)
      ) WHERE prn <= {n_probe}
    ), cand AS (
      SELECT pr.query_id, cells.neighbor_id
      FROM pr JOIN cells ON cells.cell = pr.cell
      WHERE pr.query_id <> cells.neighbor_id
    ){_ann_exact_tail(_ANN_K)}"""


def _knn_join_oracle(n_probe: int, k: int) -> str:
    """DuckDB twin of the two-table kNN join: pinned-centroid cell
    assignment on the odd-id corpus, probe ranking for every even-id
    query, exact cosine re-rank — the _ivf_topk_oracle recipe minus the
    self-pair filter, over disjoint query/corpus halves."""
    import math

    from pgdedupe_spark.operators.similarity import pinned_pq_layout

    _, centroids = pinned_pq_layout(64, 16, 32, 16)
    cos_exprs = []
    probe_structs = []
    for cid, cvec in centroids:
        nrm = math.sqrt(sum(float(x) * float(x) for x in cvec))
        cos_exprs.append(
            f"(CAST(list_dot_product(cv, {_ann_ilist(cvec)}) AS DOUBLE)"
            f" / (sqrt(CAST(list_dot_product(cv, cv) AS DOUBLE)) * {nrm!r}))"
        )
        probe_structs.append(
            f"{{'cid': {cid}, 'cs': list_dot_product(qv, {_ann_ilist(cvec)})}}"
        )
    cl = "[" + ",".join(cos_exprs) + "]"
    return f"""
    WITH c AS (
      SELECT vec_id AS neighbor_id, {_ANN_QUANT} AS cv FROM embeddings
      WHERE vec_id % 2 = 1
    ), q AS (
      SELECT vec_id AS query_id, {_ANN_QUANT} AS qv FROM embeddings
      WHERE vec_id % 2 = 0
    ), cells AS (
      SELECT neighbor_id, list_position({cl}, list_max({cl})) - 1 AS cell FROM c
    ), pr AS (
      SELECT query_id, cid AS cell FROM (
        SELECT query_id, u.cid AS cid,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY u.cs DESC, u.cid) AS prn
        FROM (SELECT query_id, unnest([{",".join(probe_structs)}]) AS u FROM q)
      ) WHERE prn <= {n_probe}
    ), cand AS (
      SELECT pr.query_id, cells.neighbor_id
      FROM pr JOIN cells ON cells.cell = pr.cell
    ){_ann_exact_tail(k)}"""


def _lsh_topk_oracle(
    n_planes: int, n_tables: int, n_flip_probes: int, plane_scale: int, seed: int = 42
) -> str:
    """DuckDB twin of integer-plane multi-table multi-probe LSH: per-table
    sign-pattern buckets over the quantized vectors (exact integer
    projections), Hamming-1 probe widening via xor, DISTINCT candidate
    union, exact cosine re-rank."""
    from pgdedupe_spark.operators.similarity import _table_planes

    planes = _table_planes(64, n_planes, n_tables, seed, plane_scale)

    def bucket_expr(vcol: str, p) -> str:
        return "(" + " + ".join(
            f"(CASE WHEN list_dot_product({vcol}, {_ann_ilist(row)}) > 0"
            f" THEN {1 << b} ELSE 0 END)"
            for b, row in enumerate(p)
        ) + ")"

    c_structs = ",".join(
        f"{{'t': {t}, 'bk': {bucket_expr('cv', p)}}}" for t, p in enumerate(planes)
    )
    q_structs = ",".join(
        f"{{'t': {t}, 'bk': {bucket_expr('qv', p)}}}" for t, p in enumerate(planes)
    )
    flips = ",".join(
        f"xor(bucket, {1 << b})" for b in range(min(n_flip_probes, n_planes))
    )
    return f"""
    WITH c AS (
      SELECT vec_id AS neighbor_id, {_ANN_QUANT} AS cv FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, {_ANN_QUANT} AS qv FROM embeddings WHERE vec_id < 10
    ), cb AS (
      SELECT neighbor_id, u.t AS tbl, u.bk AS bucket
      FROM (SELECT neighbor_id, unnest([{c_structs}]) AS u FROM c)
    ), qb AS (
      SELECT query_id, u.t AS tbl, u.bk AS bucket
      FROM (SELECT query_id, unnest([{q_structs}]) AS u FROM q)
    ), qp AS (
      SELECT query_id, tbl, unnest([bucket, {flips}]) AS bucket FROM qb
    ), cand AS (
      SELECT DISTINCT qp.query_id, cb.neighbor_id
      FROM qp JOIN cb ON qp.tbl = cb.tbl AND qp.bucket = cb.bucket
      WHERE qp.query_id <> cb.neighbor_id
    ){_ann_exact_tail(_ANN_K)}"""


@query("ann_lsh_topk", oracle=_lsh_topk_oracle(4, 8, 4, 1000))
def ann_lsh_topk(spark, sf_dir):
    """Multi-table multi-probe LSH top-k. 8 tables × 4 planes + 4
    Hamming-1 probes: measured recall 1.0 (sf0.001) / 0.98 (sf0.01) vs
    ann_cosine_topk (single-table 6-plane was 0.04 on these
    near-orthogonal embeddings — tables/probes are the recall dial;
    tests/test_recall.py pins ≥ 0.9).

    r9: FULL hash oracle — the Gaussian planes round to integers
    (plane_scale=1000; signs essentially unchanged, recall measured
    identical) over 10^4-quantized vectors, so every projection/bucket/
    cosine is exact-integer-derived and DuckDB reproduces the candidate
    union and ranking bit-for-bit."""
    from pgdedupe_spark.operators.similarity import lsh_cosine_topk

    return lsh_cosine_topk(
        _quantized_embeddings(spark, sf_dir), "vec_id", "embedding",
        k=5, n_planes=4, n_tables=8, n_flip_probes=4, plane_scale=1000,
    )


@query(
    "multimodal_binary_stats",
    oracle="""
    SELECT doc_id AS media_id, 'image' AS modality,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           upper(hex(encode(substr(text, 1, 4)))) AS magic
    FROM documents
    """,
)
def multimodal_binary_stats(spark, sf_dir):
    from pgdedupe_spark.operators.multimodal import attach_binary_payload, binary_metadata

    docs = _t(spark, sf_dir, "documents")
    return binary_metadata(attach_binary_payload(docs, "doc_id", "text"))


# ===========================================================================
# Remaining §2 rows as standalone oracle-checked queries: W1 (scale-path
# serial ids), J6 (update-join relabel), P6 (deterministic top-k), F6 (cast
# arithmetic on boolean aggregates).
# ===========================================================================


@query(
    "w1_serial_ids",
    oracle="""
    SELECT c_custkey,
           CAST(row_number() OVER (ORDER BY c_nationkey, c_custkey) AS BIGINT)
             AS _unique_id
    FROM customer
    """,
)
def w1_serial_ids(spark, sf_dir):
    """W1 via the 100 TB path (`operators/ids.add_deterministic_id`):
    range-partition + per-partition row_number + broadcast offsets — must
    equal the oracle's global row_number (run.py:97-98 SERIAL semantics)."""
    from pgdedupe_spark.operators.ids import add_deterministic_id

    return add_deterministic_id(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
        ["c_nationkey", "c_custkey"],
    ).select("c_custkey", "_unique_id")


@query(
    "j6_update_join",
    oracle="""
    SELECT o.o_orderkey,
           coalesce(r.canon, o.o_custkey) AS o_custkey
    FROM orders o
    LEFT JOIN (
      SELECT c_custkey, min(c_custkey) OVER (PARTITION BY c_nationkey) AS canon
      FROM customer
    ) r ON o.o_custkey = r.c_custkey
    """,
)
def j6_update_join(spark, sf_dir):
    """J6 `UPDATE ... FROM` as immutable recompute (run.py:466-467,
    exact_matches.py:97-100): relabel each order's custkey to its nation's
    canonical (min) custkey via left join + coalesce, original kept when no
    relabel row matches."""
    from pyspark.sql import Window

    relabel = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.min("c_custkey").over(Window.partitionBy("c_nationkey")).alias("canon"),
    )
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(relabel, F.col("o_custkey") == F.col("c_custkey"), "left")
        .select(
            "o_orderkey",
            F.coalesce("canon", "o_custkey").alias("o_custkey"),
        )
    )


@query(
    "p6_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def p6_topk(spark, sf_dir):
    """P6 LIMIT with a total order (deterministic top-k; Spark plans this as
    TakeOrderedAndProject — no global sort materialization)."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "f6_cast_ratio",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_discount > 0.05 AS INT)) AS BIGINT) AS n_discounted,
           CAST(SUM(CAST(l_discount > 0.05 AS INT)) AS DOUBLE) / count(*)
             AS frac_discounted
    FROM lineitem GROUP BY l_returnflag
    """,
)
def f6_cast_ratio(spark, sf_dir):
    """F6 boolean→int cast arithmetic (validation-notebook accuracy sums)."""
    flag = (F.col("l_discount") > 0.05).cast("int")
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.sum(flag).cast("bigint").alias("n_discounted"),
            (F.sum(flag).cast("double") / F.count(F.lit(1))).alias("frac_discounted"),
        )
    )


@query(
    "text_token_counts",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT)
             AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(len(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def text_token_counts(spark, sf_dir):
    """Token budgets: whitespace tokens + simplified-BPE pre-tokens."""
    from pgdedupe_spark.operators.text import token_counts

    return token_counts(_t(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS doc,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc, term, count(*) AS tf FROM toks GROUP BY doc, term
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT count(*) AS n FROM documents)
    SELECT doc, term, tf,
           tf * (ln((n + 1.0) / (df + 1.0)) + 1.0) AS tfidf
    FROM tf JOIN dfreq USING (term), n
    """,
)
def text_tfidf(spark, sf_dir):
    """Smoothed TF-IDF per (doc, term) — the §7 phase-6 text-analysis op."""
    from pgdedupe_spark.operators.text import tfidf

    return tfidf(_t(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "dedup_canonical_pick",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text, n_chars
      FROM documents WHERE source = 'src0'
    ), g AS (
      SELECT regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm,
             doc_id, n_chars
      FROM corpus
    )
    SELECT norm,
           max_by(doc_id, n_chars * 1000000000 + doc_id) AS keep_id,
           count(*) AS n_members
    FROM g GROUP BY norm HAVING count(*) > 1
    """,
)
def dedup_canonical_pick(spark, sf_dir):
    """Canonical-document selection: per duplicate group, KEEP the
    highest-quality member (longest text, doc_id as the deterministic
    tie-break) — the argmax-per-group (`max_by` over a struct) curation
    step that follows duplicate detection. One hash aggregate, map-side
    combinable; no window, no join. Runs over corpus ∪ re-crawled src0
    shard (same scenario as `dedup_exact_norm`): the raw documents table
    has NO duplicate groups at any SF, so the original query was
    vacuously green."""
    from pgdedupe_spark.operators.dedup import normalize_text

    docs = _t(spark, sf_dir, "documents")
    recrawl = docs.filter(F.col("source") == "src0").withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    corpus = docs.select("doc_id", "text", "n_chars").unionByName(
        recrawl.select("doc_id", "text", "n_chars")
    )
    return (
        corpus.select(
            normalize_text(F.col("text")).alias("norm"), "doc_id", "n_chars"
        )
        .groupBy("norm")
        .agg(
            # composite numeric key (not a struct: DuckDB's max_by can't
            # order structs) — n_chars dominates, doc_id breaks ties
            F.max_by(
                "doc_id", F.col("n_chars") * F.lit(1_000_000_000) + F.col("doc_id")
            ).alias("keep_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .filter(F.col("n_members") > 1)
    )


@query(
    "sample_stratified",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE doc_id % 20 < (CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 6 ELSE 3 END)
    """,
)
def sample_stratified(spark, sf_dir):
    """Deterministic stratified downsampling — the curation primitive for
    rebalancing a training corpus (cap dominant languages, keep the tail).
    Membership is pure integer arithmetic on the stable id (NOT rand():
    re-runnable, engine-portable, and a WHERE clause so it pushes into the
    scan). At 100 TB this is a full-scan filter with zero shuffle."""
    rate = (
        F.when(F.col("lang") == "en", 10)
        .when(F.col("lang") == "de", 6)
        .otherwise(3)
    )
    return (
        _t(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 20) < rate)
        .select("doc_id", "lang", "source")
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS v
      FROM embeddings
    )
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
             AS cosine
    FROM q a, q b
    WHERE a.vec_id < b.vec_id
      AND list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
    """,
)
def dedup_embedding_cosine(spark, sf_dir, max_rows=100_000):
    """Embedding-cosine near-dup pairs (exact threshold join; the LSH
    bucket path generates candidates for this verifier at scale).
    Threshold 0.4: the synthetic embeddings are near-orthogonal (max
    pairwise cosine ≈ 0.5 at sf0.01), so the old 0.8 cut matched nothing
    and the oracle row was vacuously green. ``max_rows`` threads through
    to the operator's O(n²) guard so callers can tighten or lift it."""
    from pgdedupe_spark.operators.similarity import cosine_pairs

    return cosine_pairs(
        _t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        threshold=0.4,
        max_rows=max_rows,
    )


@query(
    "events_json_props",
    oracle="""
    SELECT CAST(props->>'$.k' AS BIGINT) AS k,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def events_json_props(spark, sf_dir):
    """Semi-structured props column: JSON path extraction + rollup (a
    training-pipeline staple the reference never needed — §2.9 declares
    JSON absent there)."""
    ev = _events(spark, sf_dir)
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
            "value",
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )


@query(
    "skew_salted_agg",
    oracle="""
    SELECT l_suppkey,
           count(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           CAST(max(l_quantity) AS DOUBLE) AS max_qty
    FROM lineitem GROUP BY l_suppkey
    """,
)
def skew_salted_agg(spark, sf_dir):
    """Two-phase salted aggregation (operators/skew.py): must equal the
    direct group-by exactly — the oracle is the UNSALTED SQL, so this query
    proves salting is transparent for algebraic aggregates."""
    from pgdedupe_spark.operators.skew import salted_aggregate

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "_price_dec", F.col("l_extendedprice").cast("decimal(18,2)")
    )
    out = salted_aggregate(
        li,
        keys=["l_suppkey"],
        aggs={
            "n_items": ("count", F.lit(1)),
            "_rev_dec": ("sum", F.col("_price_dec")),
            "max_qty": ("max", F.col("l_quantity")),
        },
        unique_col="l_orderkey",
        salt_n=8,
    )
    return out.select(
        "l_suppkey",
        "n_items",
        F.col("_rev_dec").cast("double").alias("revenue"),
        F.col("max_qty").cast("double").alias("max_qty"),
    )


@query(
    "skew_salted_join",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def skew_salted_join(spark, sf_dir):
    """Explicit salted join (operators/skew.py): fact side salted, dim side
    replicated ×salt_n — must equal the plain join exactly (the oracle is
    the UNSALTED SQL). The pattern for hot-key joins when AQE's runtime
    skew split is unavailable."""
    from pgdedupe_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # salt sources vary WITHIN each hot join key: line number within an
    # order for the orderkey join, order id within a customer for the
    # custkey join (salting by the key itself would spread nothing)
    fact = salted_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        orders,
        on=["o_orderkey"],
        unique_col=["o_orderkey", "l_linenumber"],
        salt_n=8,
    )
    enriched = salted_join(
        fact.withColumnRenamed("o_custkey", "c_custkey"),
        cust,
        on=["c_custkey"],
        unique_col="o_orderkey",
        salt_n=8,
    )
    return enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
    )


@query("ann_ivf_topk", oracle=_ivf_topk_oracle(14))
def ann_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (n_probe == n_centroids degrades to the
    exact brute force — pinned in tests/test_extensions.py; cell pruning
    is the recall dial on these near-orthogonal embeddings).

    r9: FULL hash oracle — the coarse quantizer is the PINNED integer
    centroid set (similarity.pinned_pq_layout, trained once on the
    quantized sf0.01 embeddings) over 10^4-quantized vectors, so cell
    assignment, probe ranking, and the exact in-cell cosine are all
    integer-derived and DuckDB replays them bit-for-bit at any sf.
    14/16 probes hold recall at 0.94 on the layout's home corpus
    (0.88 cross-corpus; both floored in tests/test_recall.py)."""
    from pgdedupe_spark.operators.similarity import ivf_cosine_topk, pinned_pq_layout

    _, cents = pinned_pq_layout(64, 16, 32, 16)
    return ivf_cosine_topk(
        _quantized_embeddings(spark, sf_dir), "vec_id", "embedding",
        k=5, n_centroids=16, n_probe=14, centroids=cents,
    )


@query("ann_knn_join", oracle=_knn_join_oracle(14, 5))
def ann_knn_join(spark, sf_dir):
    """Two-table approximate kNN join (similarity.knn_join, new late-r10)
    — the RAG / contrastive-pair mining primitive: EVERY even-id vector
    (the query corpus) gets its 5 nearest odd-id vectors (the passage
    corpus) by exact cosine among IVF-probed candidates. Unlike
    ann_ivf_topk's bounded-query serve shape, the left side is unbounded:
    probe ranking is row-local (sorted literal-scores array, no Window on
    the query side), the coarse quantizer is the PINNED integer centroid
    set over 10^4-quantized vectors, so cells, probes, and cosines are
    integer-derived and DuckDB replays the join bit-for-bit. 14/16
    probes, k=5. Born pytest-only (window full); promoted into the r11
    driver window later in r10."""
    from pgdedupe_spark.operators.similarity import knn_join, pinned_pq_layout

    _, cents = pinned_pq_layout(64, 16, 32, 16)
    emb = _quantized_embeddings(spark, sf_dir)
    return knn_join(
        emb.filter(F.col("vec_id") % 2 == 0), "vec_id", "embedding",
        emb.filter(F.col("vec_id") % 2 == 1), "vec_id", "embedding",
        k=5, n_centroids=16, n_probe=14, centroids=cents,
    )


@query(
    "events_sessionize",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_us
      FROM events
    ), marked AS (
      SELECT user_id, event_id, ts_us, value,
             CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM seq
    ), numbered AS (
      SELECT user_id, ts_us, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM numbered GROUP BY user_id, session_no
    """,
)
def events_sessionize(spark, sf_dir):
    """Batch sessionization (gaps-and-islands: lag + running sum of
    session-start markers) — the exact-oracle twin of the streaming
    `session_window` op (streaming/ops.sessionize_stream). Window shuffle
    partitions by user_id once; both windows share that partitioning."""
    from pyspark.sql import Window

    gap_us = 30 * 60 * 1_000_000
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wrun = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    marked = ev.select(
        "user_id", "event_id", "ts_us", "value", F.lag("ts_us").over(w).alias("prev_us")
    ).withColumn(
        "new_session",
        F.when(
            F.col("prev_us").isNull() | (F.col("ts_us") - F.col("prev_us") >= gap_us), 1
        ).otherwise(0),
    )
    numbered = marked.withColumn("session_no", F.sum("new_session").over(wrun).cast("bigint"))
    return numbered.groupBy("user_id", "session_no").agg(
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# D1 + D4 + D8 — the scoring spine of the reference pipeline in the hard
# driver signal: candidate pairs (nation-blocked customer self-join) →
# per-field comparator features (String levenshtein-sim ×2, Exact ×1;
# run.py:50-55) → sigmoid(w·x + b) with FIXED weights (the classifier slot,
# run.py:133-136) → threshold filter (run.py:178, threshold run.py:30).
# Fixed weights make the arithmetic engine-reproducible; the fitted path is
# pinned by tests/test_pipeline.py + test_learning.py. The score passes
# through exp(), whose last-ulp may differ between libm and the JVM, so the
# boundary emits DECIMAL(18,6) in both engines.
# ---------------------------------------------------------------------------


@query(
    "d4_pair_scores",
    oracle="""
    WITH p AS (
      SELECT a.c_custkey AS id1, b.c_custkey AS id2,
             1.0 - levenshtein(a.c_name, b.c_name)::DOUBLE
                   / greatest(length(a.c_name), length(b.c_name)) AS name_sim,
             CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1.0 ELSE 0.0 END AS seg_same,
             CASE WHEN a.c_mktsegment = 'BUILDING' AND b.c_mktsegment = 'BUILDING'
                  THEN 1.0 ELSE 0.0 END AS is_b,
             CASE WHEN a.c_mktsegment = 'AUTOMOBILE' AND b.c_mktsegment = 'AUTOMOBILE'
                  THEN 1.0 ELSE 0.0 END AS is_a
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    ), s AS (
      SELECT id1, id2,
             1.0 / (1.0 + exp(-((0.0 + 4.0*name_sim + 1.5*seg_same + 0.5*is_b
                                 + 0.25*is_a + 1.0*(seg_same*name_sim)) + -3.0))) AS score
      FROM p
    )
    SELECT id1, id2, CAST(CAST(score AS DECIMAL(18,6)) AS DOUBLE) AS score
    FROM s WHERE score >= 0.5
    """,
)
def d4_pair_scores(spark, sf_dir):
    import numpy as np

    from pgdedupe_spark.operators.features import FieldDef, assemble_features
    from pgdedupe_spark.operators.scoring import score_pairs

    cust = _t(spark, sf_dir, "customer")
    left = cust.select(
        F.col("c_custkey").alias("id1"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_name").alias("c_name_1"),
        F.col("c_mktsegment").alias("c_mktsegment_1"),
    )
    right = cust.select(
        F.col("c_custkey").alias("id2"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_name").alias("c_name_2"),
        F.col("c_mktsegment").alias("c_mktsegment_2"),
    )
    pairs = left.join(right, "nk").filter(F.col("id1") < F.col("id2"))
    feats, _names = assemble_features(
        pairs,
        [
            FieldDef("c_name"),
            FieldDef("c_mktsegment", type="Categorical",
                     categories=["BUILDING", "AUTOMOBILE"]),
        ],
        interactions=[("c_mktsegment", "c_name")],
    )

    class _Fixed:  # the D4 classifier surface (weights, bias) with pinned values
        weights = np.array([4.0, 1.5, 0.5, 0.25, 1.0])
        bias = -3.0

    scored = score_pairs(feats, _Fixed(), threshold=0.5)
    return scored.withColumn("score", F.col("score").cast("decimal(18,6)").cast("double"))


# ---------------------------------------------------------------------------
# D3 — active-learning SELECTION in the hard driver signal: the loop's
# distributed "which pairs should a human label next" step (reference
# run.py:161-173, dedupe uncertainPairs). Same fixed-weight scored pairs as
# d4; top-25 by |score − 0.5| with a deterministic id tie-break. Uncertainty
# is compared on the DECIMAL(18,6)-rounded score so the two engines order
# identically at libm-vs-JVM last-ulp ties. The interactive labeling +
# refit loop is pinned by tests/test_active.py (a truth-oracle "human").
# ---------------------------------------------------------------------------


@query(
    "d3_uncertain_pairs",
    oracle="""
    WITH p AS (
      SELECT a.c_custkey AS id1, b.c_custkey AS id2,
             1.0 - levenshtein(a.c_name, b.c_name)::DOUBLE
                   / greatest(length(a.c_name), length(b.c_name)) AS name_sim,
             CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1.0 ELSE 0.0 END AS seg_same,
             CASE WHEN a.c_mktsegment = 'BUILDING' AND b.c_mktsegment = 'BUILDING'
                  THEN 1.0 ELSE 0.0 END AS is_b,
             CASE WHEN a.c_mktsegment = 'AUTOMOBILE' AND b.c_mktsegment = 'AUTOMOBILE'
                  THEN 1.0 ELSE 0.0 END AS is_a
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    ), s AS (
      SELECT id1, id2,
             CAST(1.0 / (1.0 + exp(-((0.0 + 4.0*name_sim + 1.5*seg_same + 0.5*is_b
                                 + 0.25*is_a + 1.0*(seg_same*name_sim)) + -3.0)))
                  AS DECIMAL(18,6)) AS score
      FROM p
    )
    SELECT id1, id2, CAST(score AS DOUBLE) AS score
    FROM s ORDER BY abs(score - 0.5) ASC, id1 ASC, id2 ASC LIMIT 25
    """,
)
def d3_uncertain_pairs(spark, sf_dir):
    import numpy as np

    from pgdedupe_spark.ml.active import uncertain_pairs
    from pgdedupe_spark.operators.features import FieldDef, assemble_features
    from pgdedupe_spark.operators.scoring import score_expr

    cust = _t(spark, sf_dir, "customer")
    left = cust.select(
        F.col("c_custkey").alias("id1"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_name").alias("c_name_1"),
        F.col("c_mktsegment").alias("c_mktsegment_1"),
    )
    right = cust.select(
        F.col("c_custkey").alias("id2"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_name").alias("c_name_2"),
        F.col("c_mktsegment").alias("c_mktsegment_2"),
    )
    pairs = left.join(right, "nk").filter(F.col("id1") < F.col("id2"))
    feats, _names = assemble_features(
        pairs,
        [
            FieldDef("c_name"),
            FieldDef("c_mktsegment", type="Categorical",
                     categories=["BUILDING", "AUTOMOBILE"]),
        ],
        interactions=[("c_mktsegment", "c_name")],
    )
    w, b = np.array([4.0, 1.5, 0.5, 0.25, 1.0]), -3.0
    scored = feats.select(
        "id1", "id2", score_expr(w, b).cast("decimal(18,6)").alias("score")
    )
    return uncertain_pairs(scored, 25).withColumn("score", F.col("score").cast("double"))


# ---------------------------------------------------------------------------
# D6/D7 index predicate — the TF-IDF-canopy analog in the hard signal: block
# documents on informative (mid-document-frequency) tokens only. Hot tokens
# (df > 25) are the canopy-suppression case; hapaxes (df < 2) block nothing.
# Two key-partitioned shuffles (token df agg + token join) — the 100 TB shape.
# ---------------------------------------------------------------------------


@query(
    "d6_rare_token_blocks",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct(list_filter(
               string_split_regex(text, '\\s+'), t -> t <> ''))) AS tok
      FROM documents
    ), freq AS (
      SELECT tok, count(*) AS df FROM toks GROUP BY tok
      HAVING count(*) BETWEEN 2 AND 25
    )
    SELECT 'rare:text:' || t.tok AS block_key, t.doc_id AS _unique_id
    FROM toks t JOIN freq USING (tok)
    """,
)
def d6_rare_token_blocks(spark, sf_dir):
    from pgdedupe_spark.operators.blocking import rare_token_blocking_map

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("_unique_id"), "text"
    )
    return rare_token_blocking_map(docs, "text", max_df=25, min_df=2)


# ---------------------------------------------------------------------------
# Bench-only: ngram-Jaccard ARRAY path on a NON-degenerate Zipfian corpus
# (VERDICT r1 watch item a). The driver's `documents` table has a ~2k-shingle
# vocabulary, which keeps the verify in the bitmap regime; this generates a
# Heaps-law corpus (vocab ∝ docs) with >1e5 distinct shingles at sf0.1 and
# runs the sorted-int-array path end-to-end. No parquet input and xxhash64
# isn't reproducible in DuckDB → excluded from the driver contract
# (__spark_entry__._BENCH_ONLY); exactness is pinned vs brute force in
# tests/test_ngram_zipf.py.
# ---------------------------------------------------------------------------


@query("dedup_ngram_zipf")
def dedup_ngram_zipf(spark, sf_dir):
    from pgdedupe_spark.corpus import zipf_corpus
    from pgdedupe_spark.operators.dedup import ngram_jaccard_pairs

    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    n_docs = max(500, int(40_000 * sf))
    corpus = zipf_corpus(
        spark, n_docs=n_docs, doc_len=110, vocab=400 * n_docs, dup_every=10, mutate_pct=5
    )
    return ngram_jaccard_pairs(corpus, "doc_id", "text", n=5, threshold=0.8, strategy="array")


# ===========================================================================
# Curation family (round 2): the stages an LLM training-data pipeline runs
# between ingest and tokenization — decontamination, repetition signals,
# PII redaction, corpus balancing, embedding-centroid analytics, and
# end-to-end near-dup clustering. All pure-codegen plans with full DuckDB
# oracles (operators/curation.py, operators/dedup.py).
# ===========================================================================

# Shared oracle fragment: distinct word n-grams per document (lower,
# [a-z0-9]+ tokens, space-joined n-grams; empty when < n tokens) — matches
# curation.word_ngrams exactly.
_NG_TOK = """
    tok AS (
      SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    )
"""


@query(
    "decontaminate_ngrams",
    oracle=f"""
    WITH {_NG_TOK},
    ng AS (
      SELECT doc_id, source,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(w)-2),
                       i -> array_to_string(w[i:i+2], ' ')))
                  ELSE []::VARCHAR[] END AS ngs
      FROM tok
    ),
    bng AS (SELECT DISTINCT unnest(ngs) AS ng FROM ng WHERE source = 'src0'),
    ex AS (SELECT doc_id, unnest(ngs) AS ng FROM ng WHERE source <> 'src0'),
    cnt AS (
      SELECT doc_id, count(*) AS n_ngrams,
             CAST(coalesce(sum(CASE WHEN ng IN (SELECT ng FROM bng) THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits
      FROM ex GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(c.n_ngrams, 0) AS n_ngrams,
           coalesce(c.n_hits, 0) AS n_hits,
           CAST(coalesce(c.n_ngrams, 0) > 0
                AND coalesce(c.n_hits, 0) * 100 >= coalesce(c.n_ngrams, 0) * 20
                AS INT) AS contaminated
    FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
    LEFT JOIN cnt c USING (doc_id)
    """,
)
def decontaminate_ngrams(spark, sf_dir):
    """GPT-3-style benchmark decontamination: flag corpus docs whose word-
    3-gram overlap with the benchmark slice (source='src0') is >= 20%."""
    from pgdedupe_spark.operators.curation import decontaminate

    docs = _t(spark, sf_dir, "documents")
    return decontaminate(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        "doc_id", "text", n=3, threshold_pct=20,
    )


@query(
    "text_repetition_signals",
    oracle=f"""
    WITH {_NG_TOK},
    base AS (
      SELECT doc_id,
             CAST(len(w) AS INT) AS n_tokens,
             CAST(len(list_distinct(w)) AS INT) AS n_distinct,
             CASE WHEN len(w) >= 2
                  THEN list_transform(generate_series(1, len(w)-1),
                       i -> array_to_string(w[i:i+1], ' '))
                  ELSE []::VARCHAR[] END AS bgs
      FROM tok
    ),
    ex AS (SELECT doc_id, unnest(bgs) AS bigram FROM base),
    pb AS (SELECT doc_id, bigram, count(*) AS _n FROM ex GROUP BY doc_id, bigram),
    agg AS (
      SELECT doc_id, CAST(sum(_n) AS BIGINT) AS n_bigrams,
             CAST(max(_n) AS BIGINT) AS top_bigram_n
      FROM pb GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens, b.n_distinct,
           coalesce(a.n_bigrams, 0) AS n_bigrams,
           coalesce(a.top_bigram_n, 0) AS top_bigram_n,
           CAST(b.n_distinct * 2 <= b.n_tokens AS INT) AS dup_word_heavy,
           CAST(coalesce(a.top_bigram_n, 0) >= 2
                AND coalesce(a.top_bigram_n, 0) * 5 >= coalesce(a.n_bigrams, 0)
                AS INT) AS top_bigram_heavy
    FROM base b LEFT JOIN agg a USING (doc_id)
    """,
)
def text_repetition_signals(spark, sf_dir):
    """Gopher-style within-doc repetition measures (integer contract)."""
    from pgdedupe_spark.operators.curation import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "pii_redact_ids",
    oracle="""
    SELECT c_custkey,
           regexp_replace(c_name, '[0-9]{6,}', '[ID]', 'g') AS c_name_redacted,
           CAST(len(regexp_extract_all(c_name, '[0-9]{6,}')) AS INT) AS n_pii_hits
    FROM customer
    """,
)
def pii_redact_ids(spark, sf_dir):
    """Regex PII masking (long digit runs — ids/SSN-like spans) — pure
    codegen regexp_replace; the hit count is auditable pre-redaction.
    Lookahead-free pattern so Java regex (Spark) and RE2 (oracle) agree."""
    from pgdedupe_spark.operators.curation import pii_redact

    return pii_redact(_t(spark, sf_dir, "customer"), "c_custkey", "c_name")


@query(
    "corpus_quota_sample",
    oracle="""
    SELECT lang, doc_id, sample_rank FROM (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS sample_rank
      FROM documents
    ) WHERE sample_rank <= 20
    """,
)
def corpus_quota_sample(spark, sf_dir):
    """Corpus balancing: deterministic 20-doc quota per language via an
    engine-portable md5 pseudo-random order."""
    from pgdedupe_spark.operators.curation import quota_sample

    return quota_sample(_t(spark, sf_dir, "documents"), "lang", "doc_id", quota=20)


@query(
    "embedding_label_centroids",
    oracle="""
    WITH q AS (
      SELECT label, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    ex AS (
      SELECT label, i, qv[i] AS v
      FROM q CROSS JOIN generate_series(1, 64) AS t(i)
    ),
    dims AS (
      SELECT label, i, CAST(sum(v) AS BIGINT) AS s, count(*) AS n
      FROM ex GROUP BY label, i
    )
    SELECT label,
           CAST(max(n) AS BIGINT) AS n_vecs,
           sqrt(CAST(sum(s*s) AS DOUBLE)) / (max(n) * 10000) AS centroid_norm,
           CAST(max(CASE WHEN i = 1 THEN s END) AS DOUBLE) / (max(n) * 10000) AS mean_c0
    FROM dims GROUP BY label
    """,
)
def embedding_label_centroids(spark, sf_dir):
    """Per-label centroid stats over quantized-long sums: exact integer
    arithmetic until the final sqrt/division ⇒ bit-identical across
    engines."""
    from pgdedupe_spark.operators.curation import label_centroids

    return label_centroids(_t(spark, sf_dir, "embeddings"), "label", "embedding", dim=64)


# Near-dup clustering as recursive CTEs (5-gram Jaccard pairs >= 0.6 →
# reachability closure → min-id components) — shared by the
# dedup_near_clusters row and the leakage-safe split composite. Ends at
# ``comp(doc_id, cluster)``.
_NEAR_CLUSTERS_CTES = """sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(text)-3, 2)),
                           i -> substr(text, i::int, 5))) AS ss
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2
      FROM sh a, sh b
      WHERE a.doc_id < b.doc_id
        AND len(list_intersect(a.ss, b.ss))::DOUBLE /
              (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))) >= 0.6
    ),
    sym AS (SELECT id1 AS s, id2 AS d FROM pairs UNION SELECT id2, id1 FROM pairs),
    reach AS (
      SELECT s, d FROM sym
      UNION
      SELECT r.s, sym.d FROM reach r JOIN sym ON r.d = sym.s
    ),
    comp AS (SELECT s AS doc_id, least(s, min(d)) AS cluster FROM reach GROUP BY s)"""


def _leakage_split_oracle(weights: dict[str, float], salt: str = "split") -> str:
    """DuckDB twin of curation.leakage_safe_split: the shared near-dup
    component chain, cluster-representative keys, and the SAME cumulative
    float→int u32 boundaries the Spark expression embeds (computed by the
    identical Python loop, so float-accumulation quirks like 0.8+0.1
    match bit-for-bit)."""
    items = list(weights.items())
    clauses = []
    acc = 0.0
    for name, w in items[:-1]:
        acc += w
        clauses.append(f"WHEN b < {int(acc * float(2**32))} THEN '{name}'")
    case = "CASE " + " ".join(clauses) + f" ELSE '{items[-1][0]}' END"
    return f"""
    WITH RECURSIVE {_NEAR_CLUSTERS_CTES},
    keyed AS (
      SELECT d.doc_id, CAST(coalesce(c.cluster, d.doc_id) AS BIGINT) AS split_key
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    u AS (
      SELECT doc_id, split_key,
             CAST('0x' || substr(md5('{salt}' || CAST(split_key AS VARCHAR)), 1, 8)
                  AS BIGINT) AS b
      FROM keyed
    )
    SELECT doc_id, split_key, {case} AS split FROM u
    """


@query(
    "corpus_leakage_safe_split",
    oracle=_leakage_split_oracle({"train": 0.8, "val": 0.1, "test": 0.1}),
)
def corpus_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split (curation.leakage_safe_split,
    new late-r10): hash-interval assignment over the near-dup CLUSTER
    representative instead of the document id, so paraphrased/recrawled
    copies can never straddle the split — the leakage a per-document
    corpus_split permits and downstream decontamination never re-checks.
    80/10/10 over the documents table; near-dup clusters via 5-gram
    Jaccard >= 0.6 into connected components (the dedup_near_clusters
    chain). Promoted into the r11 driver window (VERDICT r10 #6) — the
    last r10-born full-hash composite to get a driver row."""
    from pgdedupe_spark.operators.curation import leakage_safe_split

    return leakage_safe_split(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )


@query(
    "dedup_near_clusters",
    oracle=f"""
    WITH RECURSIVE {_NEAR_CLUSTERS_CTES}
    SELECT doc_id, cluster,
           count(*) OVER (PARTITION BY cluster) AS cluster_size
    FROM comp
    """,
)
def dedup_near_clusters(spark, sf_dir):
    """End-to-end near-dup clustering: exact 5-gram Jaccard pairs (>=0.6)
    -> distributed CC (min-id labels) -> per-doc cluster + size."""
    from pgdedupe_spark.operators.dedup import near_duplicate_clusters

    return near_duplicate_clusters(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=5, threshold=0.6
    )


@query(
    "dedup_incremental",
    oracle="""
    WITH sh AS (
      SELECT doc_id, source,
             list_distinct(list_transform(range(1, greatest(len(text)-3, 2)),
                           i -> substr(text, i::int, 5))) AS ss
      FROM documents
    )
    SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
           len(list_intersect(n.ss, c.ss))::DOUBLE /
             (len(n.ss) + len(c.ss) - len(list_intersect(n.ss, c.ss))) AS jaccard
    FROM sh n, sh c
    WHERE n.source = 'src19' AND c.source <> 'src19'
      AND len(list_intersect(n.ss, c.ss))::DOUBLE /
            (len(n.ss) + len(c.ss) - len(list_intersect(n.ss, c.ss))) >= 0.3
    """,
)
def dedup_incremental(spark, sf_dir):
    """Incremental dedup: the source='src19' slice plays the new crawl
    increment, deduped against the standing corpus (every other source)
    without recomputing corpus self-pairs. Threshold 0.3: the generator
    plants near-dup pairs within a source but the cross-source overlap
    tops out just above 0.3 (probed at sf0.01), so the old 0.6 cut
    matched nothing and this row was vacuously green."""
    from pgdedupe_spark.operators.dedup import incremental_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return incremental_jaccard_pairs(
        docs.filter(F.col("source") != "src19"),
        docs.filter(F.col("source") == "src19"),
        "doc_id", "text", n=5, threshold=0.3,
    )


@query(
    "text_duplicated_spans",
    oracle="""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ),
    pos AS (
      SELECT doc_id, u['pos'] AS pos, u['kg'] AS kg FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(w)-4, 0)),
                      i -> {'pos': CAST(i AS INT), 'kg': array_to_string(w[i:i+4], ' ')})) AS u
        FROM tok)
    ),
    dup AS (SELECT kg FROM pos GROUP BY kg HAVING count(DISTINCT doc_id) > 1),
    d AS (SELECT doc_id, pos FROM pos WHERE kg IN (SELECT kg FROM dup)),
    isl AS (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
            FROM d)
    SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
           CAST(max(pos) - min(pos) + 5 AS INT) AS span_len,
           CAST(count(*) AS BIGINT) AS n_kgrams
    FROM isl GROUP BY doc_id, g
    """,
)
def text_duplicated_spans(spark, sf_dir):
    """Substring-dedup signal: maximal cross-document duplicated word-
    5-gram spans per document (gaps-and-islands merge)."""
    from pgdedupe_spark.operators.curation import duplicated_spans

    return duplicated_spans(_t(spark, sf_dir, "documents"), "doc_id", "text", k=5)


# ===========================================================================
# Round 4 extensions: corpus mixing (data-mixing recipe), time-weighted
# average (hypertable-style temporal aggregate), ordered conversion funnel.
# ===========================================================================


@query(
    "corpus_mix_weighted",
    oracle="""
    SELECT doc_id, source FROM documents
    WHERE CAST(concat('0x', substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
          < CAST(floor((CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                                    WHEN 'src2' THEN 0.25 ELSE 0.1 END)
                       * 4294967296.0) AS UBIGINT)
    """,
)
def corpus_mix_weighted(spark, sf_dir):
    """Data-mixing recipe: keep src0 at 100%, src1 at 50%, src2 at 25%,
    everything else at 10% — deterministic hash-threshold sampling, so the
    mix is reproducible and stable under corpus growth (a kept doc stays
    kept when new rows arrive). Zero shuffles (pinned): the decision is a
    per-row md5(salt‖id) predicate evaluated in the scan's codegen stage."""
    from pgdedupe_spark.operators.curation import weighted_mix

    return weighted_mix(
        _t(spark, sf_dir, "documents"),
        "source",
        "doc_id",
        rates={"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.1,
    ).select("doc_id", "source")


@query(
    "events_time_weighted",
    oracle="""
    WITH seg AS (
      SELECT user_id,
             CAST(floor(CAST(value AS DOUBLE)*10000 + 0.5) AS BIGINT) AS q,
             lead(CAST(floor(CAST(value AS DOUBLE)*10000 + 0.5) AS BIGINT))
               OVER w AS nq,
             lead(epoch_us(ts)) OVER w - epoch_us(ts) AS dt
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           count(*) AS n_samples,
           CASE WHEN SUM(dt) > 0
                THEN CAST(SUM((CAST(q AS HUGEINT) + nq) * dt) AS DOUBLE)
                     / (2.0 * 10000 * CAST(SUM(dt) AS DOUBLE))
           END AS twa_value
    FROM seg GROUP BY user_id
    """,
)
def events_time_weighted(spark, sf_dir):
    """Hypertable-style time-weighted average of `value` per user:
    trapezoidal integration over irregular samples, exact integer
    accumulation (quantized values × µs gaps summed as decimal(38,0)) so
    both engines produce the identical double in ONE final division."""
    from pgdedupe_spark.operators.temporal import time_weighted_avg

    return time_weighted_avg(
        _events(spark, sf_dir), "user_id", "ts_us", "value", tiebreak_col="event_id"
    )


@query(
    "events_funnel",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t0,
             min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t1,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t2
      FROM events GROUP BY user_id
    ), reach AS (
      SELECT CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END AS r0,
             CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
                  THEN 1 ELSE 0 END AS r1,
             CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
                       AND t2 IS NOT NULL AND t2 >= t1
                  THEN 1 ELSE 0 END AS r2
      FROM firsts
    )
    SELECT stage_no, stage, n_keys FROM (
      SELECT 1 AS stage_no, 'signup' AS stage,
             CAST(coalesce(SUM(r0), 0) AS BIGINT) AS n_keys FROM reach
      UNION ALL
      SELECT 2, 'view', CAST(coalesce(SUM(r1), 0) AS BIGINT) FROM reach
      UNION ALL
      SELECT 3, 'purchase', CAST(coalesce(SUM(r2), 0) AS BIGINT) FROM reach
    )
    """,
)
def events_funnel(spark, sf_dir):
    """Ordered signup→view→purchase funnel: per-stage user counts where
    each stage's first event is at-or-after the first of every earlier
    stage. One conditional-aggregation shuffle + one tiny count agg."""
    from pgdedupe_spark.operators.temporal import ordered_funnel

    return ordered_funnel(
        _events(spark, sf_dir), "user_id", "ts_us", "event_type",
        stages=["signup", "view", "purchase"],
    )


# ===========================================================================
# END-TO-END pipeline driver row (reference tests/test_integration.py:29-30
# analog): the full relational spine of the 7-stage pipeline COMPOSED in one
# query — collapse (A1+P2+W1) → two-family blocking chain (D6, J1, A2, A3,
# F2) → redundant-free candidate pairs (J7) → comparator features + fixed-
# weight sigmoid scoring (D1/D4/D8) → connected components (G1) → singleton-
# coalesced entity mapping (J3). Every stage re-uses the operator the
# individual driver rows pin; the oracle is the same chain as one DuckDB
# CTE pipeline (recursive CTE for the CC stage). Fixed classifier weights
# (the d4 convention) keep the arithmetic engine-reproducible; the FITTED
# path plus per-component HAC (D9, not SQL-expressible) is pinned by
# tests/test_pipeline.py. The 'ns:' nation×segment blocks are strict
# subsets of the 'n:' nation blocks, so the Kolb smaller_ids filter
# genuinely suppresses their pairs (every ns-pair co-occurs in a
# smaller-id n-block) — the redundant-free device is load-bearing here.
# ===========================================================================


@query(
    "pipeline_entity_map",
    oracle="""
    WITH RECURSIVE eu AS (
      SELECT c_name, c_mktsegment, c_nationkey,
             row_number() OVER (
               ORDER BY c_name NULLS FIRST, c_mktsegment NULLS FIRST,
                        c_nationkey NULLS FIRST
             ) AS _unique_id
      FROM (SELECT c_name, c_mktsegment, c_nationkey
            FROM customer WHERE c_acctbal > 0
            GROUP BY c_name, c_mktsegment, c_nationkey)
    ), bmap AS (
      SELECT 'n:' || c_nationkey AS block_key, _unique_id FROM eu
      UNION ALL
      SELECT 'ns:' || c_nationkey || ':' || c_mktsegment, _unique_id FROM eu
    ), pk AS (
      SELECT block_key,
             row_number() OVER (ORDER BY block_key NULLS FIRST) AS block_id
      FROM (SELECT block_key FROM bmap GROUP BY block_key HAVING count(*) > 1)
    ), pb AS (
      SELECT pk.block_id, bmap._unique_id FROM bmap JOIN pk USING (block_key)
    ), cov AS (
      SELECT _unique_id, array_agg(block_id ORDER BY block_id) AS sorted_ids
      FROM pb GROUP BY _unique_id
    ), scov AS (
      SELECT pb._unique_id, pb.block_id,
             list_filter(cov.sorted_ids, x -> x < pb.block_id) AS smaller_ids
      FROM pb JOIN cov USING (_unique_id)
    ), cp AS (
      SELECT a._unique_id AS id1, b._unique_id AS id2
      FROM scov a JOIN scov b
        ON a.block_id = b.block_id AND a._unique_id < b._unique_id
      WHERE len(list_intersect(a.smaller_ids, b.smaller_ids)) = 0
    ), feat AS (
      SELECT cp.id1, cp.id2,
             1.0 - levenshtein(e1.c_name, e2.c_name)::DOUBLE
                   / greatest(length(e1.c_name), length(e2.c_name)) AS name_sim,
             CASE WHEN e1.c_mktsegment = e2.c_mktsegment THEN 1.0 ELSE 0.0 END AS seg_same,
             CASE WHEN e1.c_mktsegment = 'BUILDING' AND e2.c_mktsegment = 'BUILDING'
                  THEN 1.0 ELSE 0.0 END AS is_b,
             CASE WHEN e1.c_mktsegment = 'AUTOMOBILE' AND e2.c_mktsegment = 'AUTOMOBILE'
                  THEN 1.0 ELSE 0.0 END AS is_a
      FROM cp JOIN eu e1 ON cp.id1 = e1._unique_id
              JOIN eu e2 ON cp.id2 = e2._unique_id
    ), s AS (
      SELECT id1, id2,
             1.0 / (1.0 + exp(-((0.0 + 4.0*name_sim + 1.5*seg_same + 0.5*is_b
                                 + 0.25*is_a + 1.0*(seg_same*name_sim)) + -3.0))) AS score
      FROM feat
    ), edges AS (
      SELECT id1, id2, CAST(CAST(score AS DECIMAL(18,6)) AS DOUBLE) AS score
      FROM s WHERE score >= 0.92
    ), sym AS (
      SELECT id1 AS s, id2 AS d FROM edges UNION SELECT id2, id1 FROM edges
    ), reach AS (
      SELECT s, d FROM sym
      UNION
      SELECT r.s, sym.d FROM reach r JOIN sym ON r.d = sym.s
    ), comp AS (
      SELECT s AS id, least(s, min(d)) AS component FROM reach GROUP BY s
    ), ms AS (
      SELECT id, max(score) AS mscore FROM (
        SELECT id1 AS id, score FROM edges
        UNION ALL
        SELECT id2 AS id, score FROM edges
      ) GROUP BY id
    )
    SELECT eu._unique_id,
           coalesce(comp.component, eu._unique_id) AS canon_id,
           coalesce(ms.mscore, 1.0) AS cluster_score
    FROM eu
    LEFT JOIN comp ON eu._unique_id = comp.id
    LEFT JOIN ms ON eu._unique_id = ms.id
    """,
)
def pipeline_entity_map(spark, sf_dir):
    """collapse → blocking → pairs → scoring → CC → entity mapping,
    composed end-to-end from the pipeline's own operators (the driver-row
    twin of run_pipeline / reference cli.main). Output = the reference's
    `map` table shape (run.py:441-446): every collapsed record with its
    canonical cluster id (itself when unclustered, J3 coalesce) and a
    cluster confidence (max incident accepted-edge score; 1.0 singleton)."""
    import numpy as np

    from pgdedupe_spark.operators.clustering import connected_components
    from pgdedupe_spark.operators.collapse import collapse_exact_duplicates
    from pgdedupe_spark.operators.blocking import blocking_chain
    from pgdedupe_spark.operators.features import FieldDef, assemble_features
    from pgdedupe_spark.operators.pairs import candidate_pairs
    from pgdedupe_spark.operators.scoring import score_pairs

    cust = _t(spark, sf_dir, "customer")
    fields = ["c_name", "c_mktsegment", "c_nationkey"]
    # stage-boundary checkpoints (r12 optimization round): declaratively the
    # collapse output is re-executed FOUR times (blocking map, both sides of
    # the pair field-attach, final id universe) and the smaller-coverage
    # frame TWICE (the Kolb self-join aliases one subtree twice) — each a
    # full re-run of the upstream groupBy/window chain. Eager localCheckpoint
    # computes each stage once; identical rows, oracle-pinned. This is the
    # CLI pipeline's stage-boundary handoff shape (llm_prep materialize).
    entries = collapse_exact_duplicates(
        cust, fields, "c_custkey", "c_acctbal > 0"
    ).localCheckpoint(eager=True)

    keys = F.array(
        F.concat(F.lit("n:"), F.col("c_nationkey").cast("string")),
        F.concat(
            F.lit("ns:"), F.col("c_nationkey").cast("string"),
            F.lit(":"), F.col("c_mktsegment"),
        ),
    )
    _, _, _, _, smaller = blocking_chain(entries, keys)
    smaller = smaller.localCheckpoint(eager=True)

    pairs = candidate_pairs(smaller, entries, ["c_name", "c_mktsegment"])
    feats, _names = assemble_features(
        pairs,
        [
            FieldDef("c_name"),
            FieldDef("c_mktsegment", type="Categorical",
                     categories=["BUILDING", "AUTOMOBILE"]),
        ],
        interactions=[("c_mktsegment", "c_name")],
    )

    class _Fixed:  # pinned classifier weights (the d4_pair_scores convention)
        weights = np.array([4.0, 1.5, 0.5, 0.25, 1.0])
        bias = -3.0

    edges = score_pairs(feats, _Fixed(), threshold=0.92).withColumn(
        "score", F.col("score").cast("decimal(18,6)").cast("double")
    )
    edges = edges.persist()
    comp = connected_components(edges.select("id1", "id2"))
    mscore = (
        edges.select(F.col("id1").alias("id"), "score")
        .unionByName(edges.select(F.col("id2").alias("id"), "score"))
        .groupBy("id")
        .agg(F.max("score").alias("mscore"))
    )
    return (
        entries.select("_unique_id")
        .join(comp.withColumnRenamed("id", "_unique_id"), "_unique_id", "left")
        .join(mscore.withColumnRenamed("id", "_unique_id"), "_unique_id", "left")
        .select(
            "_unique_id",
            F.coalesce("component", "_unique_id").alias("canon_id"),
            F.coalesce("mscore", F.lit(1.0)).alias("cluster_score"),
        )
    )


# ===========================================================================
# D5 — blocking-rule learning (reference run.py:175-178: dedupe's greedy
# predicate set-cover over labeled matches, recall knob run.py:31). The
# learned rule list is a pure function of code + the literal labeled-pair
# fixture (ml/learning.py reference_training_fixture — no RNG, no parquet
# dependence), so the oracle is the pinned literal output of the greedy
# cover: whole_field(ssn) covers the 8 ssn-agreeing matches at zero
# distinct cost, then suffixes(first_name,5) covers the 4 missing-ssn
# married matches (it outscores whole_field(first_name) because the
# 4-char "mary" namesake negative emits no length-5 suffix key).
# ===========================================================================


@query(
    "d5_learned_rules",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'whole_field', 'ssn', ''),
      (2, 'suffixes', 'first_name', '5')
    ) AS t(rule_no, predicate, field, args)
    """,
)
def d5_learned_rules(spark, sf_dir):
    """Greedy set-cover blocking-rule learning on the reference-shaped
    labeled fixture; emits the chosen (predicate, field, args) list in
    selection order. Coverage evaluation is one JVM-side Spark pass
    (96 candidate rules × 24 labeled pairs as boolean columns); the
    greedy loop is driver-side over that human-scale matrix, exactly
    like the reference's dedupe.train."""
    from pgdedupe_spark.ml.learning import learn_blocking_rules, reference_training_fixture

    rules = learn_blocking_rules(
        spark,
        reference_training_fixture(),
        fields=["first_name", "last_name", "ssn", "dob"],
        recall=0.9,
    )
    rows = [
        (i + 1, pred, field, ",".join(str(a) for a in args))
        for i, (pred, field, args) in enumerate(rules)
    ]
    return spark.createDataFrame(rows, "rule_no int, predicate string, field string, args string")


# ===========================================================================
# Round 5: persisted-index SERVING queries — the write-once/query-many path
# (the 100 TB story: probing = static partition pruning on the index layout)
# made driver-visible. Rows-only by design (approximate top-k has no SQL
# oracle); exact parity with the in-memory path is pinned in
# tests/test_lsh_index.py / tests/test_ivf_index.py, and serve==memory
# equality for THESE registry entries is pinned in tests/test_serve.py.
# ===========================================================================


def _serve_index_path(sf_dir: str, kind: str) -> str:
    """Deterministic per-sf scratch location for the serving index (the
    write side of write-once/query-many; mode('overwrite') keeps re-runs
    idempotent). Lives under the system temp dir, never the repo."""
    import tempfile

    sf_tag = sf_dir.rstrip("/").replace("/", "_").lstrip("_")
    return os.path.join(tempfile.gettempdir(), "pgdedupe_spark_serve", f"{kind}_{sf_tag}")


@query("ann_lsh_serve", oracle=_lsh_topk_oracle(4, 8, 4, 1000))
def ann_lsh_serve(spark, sf_dir):
    """Persisted-LSH serving: write the table=/bucket= id-only index once
    (operators/similarity.py write_lsh_index), then answer top-k through
    lsh_topk_from_index — probe (table, bucket) pairs become STATIC
    PartitionFilters on the index scan, so serving work is O(probed
    buckets), not O(corpus). Same planes/probes as ann_lsh_topk, so the
    result equals the in-memory path (pinned in tests/test_serve.py) —
    and therefore shares its r9 FULL hash oracle (integer planes over
    quantized vectors; plane_scale persists in /meta so readers
    regenerate the identical integer planes)."""
    from pgdedupe_spark.operators.similarity import lsh_topk_from_index, write_lsh_index

    qemb = _quantized_embeddings(spark, sf_dir)
    path = _serve_index_path(sf_dir, "lsh")
    write_lsh_index(
        qemb, "vec_id", "embedding", path,
        n_planes=4, n_tables=8, dim=64, plane_scale=1000,
    )
    return lsh_topk_from_index(
        spark, path, qemb, "vec_id", "embedding", k=5, n_flip_probes=4
    )


@query("ann_ivf_serve", oracle=_ivf_topk_oracle(14))
def ann_ivf_serve(spark, sf_dir):
    """Persisted-IVF serving: write the cell= id-only index + centroid
    sidecar once (operators/similarity.py write_ivf_index), then answer
    top-k through ivf_topk_from_index — probed cell ids become static
    partition filters, so only probed cell= directories are opened. Same
    quantizer/probes as ann_ivf_topk ⇒ identical result (pinned) — and
    therefore shares its r9 FULL hash oracle (pinned integer centroids
    over quantized vectors, persisted losslessly in the sidecar)."""
    from pgdedupe_spark.operators.similarity import (
        ivf_topk_from_index,
        pinned_pq_layout,
        write_ivf_index,
    )

    _, cents = pinned_pq_layout(64, 16, 32, 16)
    qemb = _quantized_embeddings(spark, sf_dir)
    path = _serve_index_path(sf_dir, "ivf")
    write_ivf_index(qemb, "vec_id", "embedding", path, n_centroids=16, centroids=cents)
    return ivf_topk_from_index(
        spark, path, qemb, "vec_id", "embedding", k=5, n_probe=14
    )


@query("ann_lsh_stress")  # bench-only: synthetic corpus, no parquet input
def ann_lsh_stress(spark, sf_dir):
    """ANN stress probe: multi-table multi-probe LSH top-k over a
    hash-synthesized corpus 4× the driver's embeddings table (20k vectors
    at sf0.1, 64-dim, planted near-duplicates every 10th vector). At this
    size the 8×8-plane tables are genuinely selective (candidates ≈10% of
    corpus vs ≈100% on the 500-vector table), so the bench exercises the
    pruning regime the 100 TB path lives in; planted-pair recall is
    pinned in tests/test_recall.py."""
    from pgdedupe_spark.corpus import hash_embeddings
    from pgdedupe_spark.operators.similarity import lsh_cosine_topk

    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    n_vecs = max(2000, int(200_000 * sf))
    emb = hash_embeddings(spark, n_vecs=n_vecs, dim=64)
    return lsh_cosine_topk(
        emb, "vec_id", "embedding",
        k=5, n_planes=8, n_tables=8, n_flip_probes=4,
    )


# ===========================================================================
# Round 5: streaming custom-state op made driver-visible (batch twin), and
# classic OLAP breadth — the TPC-H join/agg shapes (q3/q10/q18) a user of
# any analytics engine expects, adapted to the reduced testdata schemas
# (orders has no o_shippriority -> o_orderpriority; customer has no
# address/phone columns).
# ===========================================================================


@query(
    "events_user_state",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(epoch_us(ts)) AS BIGINT) AS last_seen_us
    FROM events GROUP BY user_id
    """,
)
def events_user_state(spark, sf_dir):
    """Batch twin of streaming/ops.py stateful_user_counts
    (applyInPandasWithState): the final per-user state — running event
    count + last-seen instant — computed as one hash aggregate. The
    stream's terminal state equals this exactly (pinned in
    tests/test_streaming.py::test_stateful_final_state_matches_registry),
    which is the stream/batch-parity contract for the custom-state op
    family (VERDICT r4 #8). One shuffle on user_id; partial aggregation
    map-side; no window, no join."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts_us").alias("last_seen_us"),
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter -> two fact joins -> group ->
    deterministic top-N. Customer (filtered to one segment) is dim-sized
    relative to the facts, so AQE broadcasts it onto orders; the
    orders><lineitem join shuffles once on the order key. Revenue stays
    DECIMAL until one final double cast so the top-10 cut is
    engine-exact; ties break on l_orderkey. The LIMIT is a TakeOrdered —
    per-partition top-10 then a 10-row driver merge, never a full sort."""
    cutoff = F.lit("1998-06-01 00:00:00").cast("timestamp")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape (returned-item reporting): quarter-windowed orders,
    return-flagged lineitems, revenue per customer, deterministic top-20.
    All three predicates push to their scans; nation broadcasts; the fact
    join shuffles once on the order key. Group keys include the
    functionally-dependent c_name/n_name so no second join is needed to
    decorate the winners."""
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q18_large_orders",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customer): HAVING-filtered aggregate
    subquery feeding a LEFT SEMI join back onto the facts. The heavy-order
    key set is aggregated first (one shuffle on l_orderkey, partial
    map-side sums), and is tiny (top ~0.2%% of orders), so the semi join
    broadcasts — the probe side streams with zero payload shuffle. The
    final per-order re-aggregation then touches only surviving rows."""
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    li = _t(spark, sf_dir, "lineitem")
    heavy = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("_sq"))
        .filter(F.col("_sq") > 300)
        .select("l_orderkey")
    )
    o = _t(spark, sf_dir, "orders").join(
        F.broadcast(heavy), F.col("o_orderkey") == heavy.l_orderkey, "left_semi"
    )
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        .agg(F.sum(dec("l_quantity")).cast("double").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


def _pq_oracle_fragments(books) -> dict:
    """Shared generated-SQL pieces of the pinned-layout PQ oracles
    (ann_pq_serve and, new r10, ann_pq_topk): 10^4 quantization, the
    per-subspace argmin encode, the code-norm, the per-query ADC LUT and
    the ADC accumulator — all exact integers carried in doubles, with
    expression shapes that mirror the Spark plan operator-for-operator
    (similarity.pq_encode / _pq_query_lut / _pq_adc_shortlist)."""
    m, ksub, dsub = books.shape

    def ilist(vals) -> str:
        return "[" + ",".join(str(int(v)) for v in vals) + "]"

    # -- PQ encode: per-subspace argmin L2, first-wins (similarity.pq_encode)
    code_cols, n2_terms = [], []
    for j in range(m):
        dists = []
        for c in range(ksub):
            # parenthesize negatives: a bare `x--5` parses as a SQL comment
            terms = [
                f"(cv[{j * dsub + d + 1}]-({int(books[j, c, d])}))"
                f"*(cv[{j * dsub + d + 1}]-({int(books[j, c, d])}))"
                for d in range(dsub)
            ]
            dists.append("(" + "+".join(terms) + ")")
        dl = "[" + ",".join(dists) + "]"
        code_cols.append(f"list_position({dl}, list_min({dl})) - 1 AS c{j}")
        n2 = ilist((books[j] ** 2).sum(axis=1))
        n2_terms.append(f"{n2}[c{j} + 1]")
    pqnorm = "sqrt(CAST(" + " + ".join(n2_terms) + " AS DOUBLE))"

    # -- per-query ADC LUT: dot(q_sub_j, book[j][c]) (similarity._pq_query_lut)
    lut_cols = []
    for j in range(m):
        ents = []
        for c in range(ksub):
            ents.append(
                "("
                + "+".join(
                    f"qv[{j * dsub + d + 1}]*({int(books[j, c, d])})"
                    for d in range(dsub)
                )
                + ")"
            )
        lut_cols.append("[" + ",".join(ents) + f"] AS lut{j}")
    adc_sum = " + ".join(f"lut{j}[c{j} + 1]" for j in range(m))

    quant = (
        "list_transform(embedding, x -> "
        "CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT))"
    )
    return {
        "ilist": ilist,
        "code_cols": code_cols,
        "pqnorm": pqnorm,
        "lut_cols": lut_cols,
        "adc_sum": adc_sum,
        "quant": quant,
    }


def _pq_topk_oracle() -> str:
    """DuckDB twin of the pinned-layout pure-PQ top-k (no IVF tier): PQ
    encode → full-corpus ADC shortlist → exact refine. Same fragment
    generators as ann_pq_serve (VERDICT r9 #4: retire the last rows-only
    rows via the pinned-integer recipe); the only structural difference
    from the serve oracle is that the shortlist scans every code row
    instead of probed cells, so no cell/probe CTEs."""
    from pgdedupe_spark.operators.similarity import pinned_pq_layout

    books, _centroids = pinned_pq_layout(64, 16, 32, 16)
    refine_k, k = 40, 5
    fr = _pq_oracle_fragments(books)
    return f"""
    WITH c AS (
      SELECT vec_id AS neighbor_id, {fr["quant"]} AS cv FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, {fr["quant"]} AS qv FROM embeddings WHERE vec_id < 10
    ), enc AS (
      SELECT neighbor_id, {", ".join(fr["code_cols"])} FROM c
    ), encn AS (
      SELECT *, {fr["pqnorm"]} AS pqnorm FROM enc
    ), qlut AS (
      SELECT query_id, {", ".join(fr["lut_cols"])},
             sqrt(CAST(list_dot_product(qv, qv) AS DOUBLE)) AS qn
      FROM q
    ), sl AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc DESC, neighbor_id) AS r
        FROM (
          SELECT ql.query_id, e.neighbor_id,
                 CAST({fr["adc_sum"]} AS DOUBLE) / (ql.qn * e.pqnorm) AS adc
          FROM qlut ql
          CROSS JOIN encn e
          WHERE ql.query_id <> e.neighbor_id
        )
      ) WHERE r <= {refine_k}
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT sl.query_id, sl.neighbor_id,
             CAST(list_dot_product(q.qv, c.cv) AS DOUBLE)
               / (sqrt(CAST(list_dot_product(q.qv, q.qv) AS DOUBLE))
                  * sqrt(CAST(list_dot_product(c.cv, c.cv) AS DOUBLE))) AS sim,
             row_number() OVER (PARTITION BY sl.query_id
                                ORDER BY CAST(list_dot_product(q.qv, c.cv) AS DOUBLE)
                                         / (sqrt(CAST(list_dot_product(q.qv, q.qv) AS DOUBLE))
                                            * sqrt(CAST(list_dot_product(c.cv, c.cv) AS DOUBLE))) DESC,
                                sl.neighbor_id) AS rank
      FROM sl
      JOIN q ON q.query_id = sl.query_id
      JOIN c ON c.neighbor_id = sl.neighbor_id
    ) WHERE rank <= {k}
    """


@query("ann_pq_topk", oracle=_pq_topk_oracle())
def ann_pq_topk(spark, sf_dir):
    """Product-quantization top-k over `embeddings`: 16 sub-codebooks × 32
    centroids compress each 64-float vector to 16 five-bit codes (≈16× as
    bytes); the ADC scan reads ONLY the codes column, then an exact
    re-rank of the 8k-per-query shortlist re-joins raw vectors. The
    codes-only scan is the 100 TB story: raw vectors are touched twice per
    query batch (query rows + shortlist), never per candidate.

    r10 (VERDICT r9 #4): runs the PINNED integer codebooks over
    10^4-quantized vectors, so the whole encode → ADC → refine pipeline is
    exact-integer-derived and carries a FULL DuckDB hash oracle
    (_pq_topk_oracle) — the last ANN rows-only row retired. The
    freshly-TRAINED codebook path stays the quality default of
    pq_cosine_topk and keeps its own recall/degeneration pins in
    tests/test_pq.py (recall ≥ 0.9, measured 0.96 trained / 0.94 pinned
    on this corpus)."""
    from pgdedupe_spark.operators.similarity import pinned_pq_layout, pq_cosine_topk

    qemb = _quantized_embeddings(spark, sf_dir)
    books, _ = pinned_pq_layout(64, 16, 32, 16)
    return pq_cosine_topk(
        qemb, "vec_id", "embedding", dim=64, k=5, m=16, ksub=32, refine=8,
        books=books,
    )


def _pq_serve_oracle() -> str:
    """Generate the DuckDB twin of the ENTIRE pinned-layout IVFADC serve
    (VERDICT r8 #3): cell assignment → PQ encode → per-query probe
    ranking → ADC shortlist → exact refine, all from the embeddings table
    plus the same :func:`pinned_pq_layout` literals the Spark side bakes
    into its plan. Every distance/LUT/ADC value is an exact integer
    carried in doubles (10^4-quantized vectors × integer codebooks), and
    the non-integer ops (sqrt, one division) are IEEE-correctly-rounded
    in both engines with identical expression shapes — so the candidate
    sets, orderings, and sims hash-match bit-for-bit. Tie-breaks mirror
    the Spark folds exactly: first-wins argmin/argmax (list_position
    finds the FIRST min/max), then neighbor_id in the window sorts."""
    import math

    from pgdedupe_spark.operators.similarity import pinned_pq_layout

    books, centroids = pinned_pq_layout(64, 16, 32, 16)
    n_probe, refine_k, k = 14, 40, 5
    fr = _pq_oracle_fragments(books)
    ilist, pqnorm = fr["ilist"], fr["pqnorm"]
    code_cols, lut_cols, adc_sum, quant = (
        fr["code_cols"], fr["lut_cols"], fr["adc_sum"], fr["quant"],
    )

    # -- coarse cells: argmax cosine, first-wins (similarity._assign_cells)
    cos_exprs = []
    for cid, cvec in centroids:
        nrm = math.sqrt(sum(float(x) * float(x) for x in cvec))
        cos_exprs.append(
            f"(CAST(list_dot_product(cv, {ilist(cvec)}) AS DOUBLE)"
            f" / (sqrt(CAST(list_dot_product(cv, cv) AS DOUBLE)) * {nrm!r}))"
        )
    cell_expr = (
        "list_position(["
        + ",".join(cos_exprs)
        + "], list_max(["
        + ",".join(cos_exprs)
        + "])) - 1"
    )

    # -- per-query probe ranking by raw centroid dot (similarity._rank_cells)
    probe_structs = ",".join(
        f"{{'cid': {cid}, 'cs': list_dot_product(qv, {ilist(cvec)})}}"
        for cid, cvec in centroids
    )

    return f"""
    WITH c AS (
      SELECT vec_id AS neighbor_id, {quant} AS cv FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, {quant} AS qv FROM embeddings WHERE vec_id < 10
    ), cells AS (
      SELECT neighbor_id, cv, {cell_expr} AS cell FROM c
    ), enc AS (
      SELECT neighbor_id, cell, {", ".join(code_cols)} FROM cells
    ), encn AS (
      SELECT *, {pqnorm} AS pqnorm FROM enc
    ), pr AS (
      SELECT query_id, cid AS cell FROM (
        SELECT query_id, u.cid AS cid,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY u.cs DESC, u.cid) AS prn
        FROM (SELECT query_id, unnest([{probe_structs}]) AS u FROM q)
      ) WHERE prn <= {n_probe}
    ), qlut AS (
      SELECT query_id, {", ".join(lut_cols)},
             sqrt(CAST(list_dot_product(qv, qv) AS DOUBLE)) AS qn
      FROM q
    ), sl AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc DESC, neighbor_id) AS r
        FROM (
          SELECT ql.query_id, e.neighbor_id,
                 CAST({adc_sum} AS DOUBLE) / (ql.qn * e.pqnorm) AS adc
          FROM pr
          JOIN qlut ql USING (query_id)
          JOIN encn e ON e.cell = pr.cell
          WHERE ql.query_id <> e.neighbor_id
        )
      ) WHERE r <= {refine_k}
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT sl.query_id, sl.neighbor_id,
             CAST(list_dot_product(q.qv, c.cv) AS DOUBLE)
               / (sqrt(CAST(list_dot_product(q.qv, q.qv) AS DOUBLE))
                  * sqrt(CAST(list_dot_product(c.cv, c.cv) AS DOUBLE))) AS sim,
             row_number() OVER (PARTITION BY sl.query_id
                                ORDER BY CAST(list_dot_product(q.qv, c.cv) AS DOUBLE)
                                         / (sqrt(CAST(list_dot_product(q.qv, q.qv) AS DOUBLE))
                                            * sqrt(CAST(list_dot_product(c.cv, c.cv) AS DOUBLE))) DESC,
                                sl.neighbor_id) AS rank
      FROM sl
      JOIN q ON q.query_id = sl.query_id
      JOIN c ON c.neighbor_id = sl.neighbor_id
    ) WHERE rank <= {k}
    """


@query("ann_pq_serve", oracle=_pq_serve_oracle())
def ann_pq_serve(spark, sf_dir):
    """Persisted IVF+PQ serving (the canonical billion-scale composition):
    write the cell=-partitioned codes index once (write_pq_index), then
    answer top-k through pq_topk_from_index — probed cells become static
    PartitionFilters, and within them the scan reads only PQ codes, so
    serving cost is O(code bytes in probed cells). PQ budget matches
    ann_pq_topk (16×32, wide refine); 14/16 probes hold the pinned
    layout's recall at 0.94 on its home corpus.

    r9 (VERDICT r8 #3): the layout is the PINNED integer codebook/centroid
    set (similarity.pinned_pq_layout — trained once on the 1e4-quantized
    sf0.01 embeddings, rounded to ints) over 10^4-quantized vectors, which
    makes every serve value exact-integer-derived and the whole pipeline —
    cell assign, codes, probe ranking, ADC shortlist, exact refine —
    reproducible as a DuckDB hash oracle at ANY sf. Recall is pinned at
    the layout's home corpus (0.9 floor) with a 0.8 cross-corpus floor in
    tests/test_pq.py; freshly-TRAINED layouts stay the quality default
    for every other PQ entry point (their own pins unchanged)."""
    from pgdedupe_spark.operators.similarity import (
        pinned_pq_layout,
        pq_topk_from_index,
        write_pq_index,
    )

    qemb = _quantized_embeddings(spark, sf_dir)
    books, centroids = pinned_pq_layout(64, 16, 32, 16)
    path = _serve_index_path(sf_dir, "pq")
    write_pq_index(
        qemb, "vec_id", "embedding", path, dim=64, m=16, ksub=32,
        n_centroids=16, books=books, centroids=centroids,
    )
    return pq_topk_from_index(
        spark, path, qemb, "vec_id", "embedding", k=5, n_probe=14, refine=8
    )


def _pq_knn_join_oracle(n_probe: int, k: int, refine: int) -> str:
    """DuckDB twin of the compressed two-table kNN join (pq_knn_join,
    new r11): the _knn_join_oracle's cell/probe CTEs composed with the
    _pq_oracle_fragments encode/LUT/ADC pieces — shortlist by approximate
    ADC cosine inside probed cells, exact-cosine tail. Every value
    exact-integer-derived under the pinned layout (additions of exact
    integers carried in doubles are order-free, so the Spark fold and
    DuckDB's sums agree bit-for-bit)."""
    import math

    from pgdedupe_spark.operators.similarity import pinned_pq_layout

    books, centroids = pinned_pq_layout(64, 16, 32, 16)
    fr = _pq_oracle_fragments(books)
    cos_exprs = []
    probe_structs = []
    for cid, cvec in centroids:
        nrm = math.sqrt(sum(float(x) * float(x) for x in cvec))
        cos_exprs.append(
            f"(CAST(list_dot_product(cv, {_ann_ilist(cvec)}) AS DOUBLE)"
            f" / (sqrt(CAST(list_dot_product(cv, cv) AS DOUBLE)) * {nrm!r}))"
        )
        probe_structs.append(
            f"{{'cid': {cid}, 'cs': list_dot_product(qv, {_ann_ilist(cvec)})}}"
        )
    cl = "[" + ",".join(cos_exprs) + "]"
    return f"""
    WITH c AS (
      SELECT vec_id AS neighbor_id, {_ANN_QUANT} AS cv FROM embeddings
      WHERE vec_id % 2 = 1
    ), q AS (
      SELECT vec_id AS query_id, {_ANN_QUANT} AS qv FROM embeddings
      WHERE vec_id % 2 = 0
    ), cells AS (
      SELECT neighbor_id, list_position({cl}, list_max({cl})) - 1 AS cell FROM c
    ), enc AS (
      SELECT neighbor_id, {", ".join(fr["code_cols"])} FROM c
    ), encn AS (
      SELECT *, {fr["pqnorm"]} AS pqnorm FROM enc
    ), pr AS (
      SELECT query_id, cid AS cell FROM (
        SELECT query_id, u.cid AS cid,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY u.cs DESC, u.cid) AS prn
        FROM (SELECT query_id, unnest([{",".join(probe_structs)}]) AS u FROM q)
      ) WHERE prn <= {n_probe}
    ), lut AS (
      SELECT query_id, {", ".join(fr["lut_cols"])},
             sqrt(CAST(list_dot_product(qv, qv) AS DOUBLE)) AS qn
      FROM q
    ), cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT lut.query_id, encn.neighbor_id,
               row_number() OVER (PARTITION BY lut.query_id
                 ORDER BY CAST({fr["adc_sum"]} AS DOUBLE)
                          / (lut.qn * encn.pqnorm) DESC,
                 encn.neighbor_id) AS r
        FROM pr
        JOIN cells ON cells.cell = pr.cell
        JOIN encn ON encn.neighbor_id = cells.neighbor_id
        JOIN lut ON lut.query_id = pr.query_id
      ) WHERE r <= {refine * k}
    ){_ann_exact_tail(k)}"""


@query("ann_pq_knn_join", oracle=_pq_knn_join_oracle(14, 5, 8))
def ann_pq_knn_join(spark, sf_dir):
    """Compressed two-table kNN join (similarity.pq_knn_join, new r11):
    every even-id vector gets its 5 nearest odd-id vectors, but the
    candidate scan touches m-byte PQ CODES instead of raw vectors — the
    IVFADC composition of ann_knn_join, with the per-query ADC lookup
    table riding the query row through the cell join (row-local, never
    broadcast, so the left stays unbounded). Pinned integer layout over
    10^4-quantized vectors makes cells, codes, LUT, ADC shortlist, and
    exact refine all hash-oracle checkable. 14/16 probes, refine 8·k.
    Born r11 with a full DuckDB oracle; promoted into the r12 driver
    window (VERDICT r11 #1)."""
    from pgdedupe_spark.operators.similarity import pinned_pq_layout, pq_knn_join

    books, cents = pinned_pq_layout(64, 16, 32, 16)
    emb = _quantized_embeddings(spark, sf_dir)
    return pq_knn_join(
        emb.filter(F.col("vec_id") % 2 == 0), "vec_id", "embedding",
        emb.filter(F.col("vec_id") % 2 == 1), "vec_id", "embedding",
        dim=64, k=5, m=16, ksub=32, n_centroids=16, n_probe=14, refine=8,
        books=books, centroids=cents,
    )


@query("ann_pq_knn_serve", oracle=_pq_knn_join_oracle(14, 5, 8))
def ann_pq_knn_serve(spark, sf_dir):
    """Persisted-index serve path for the compressed two-table kNN join
    (similarity.pq_knn_join_from_index, new r12 — VERDICT r11 #4): the
    odd-id half is cell-assigned + PQ-encoded ONCE into a write_pq_index
    layout, then every even-id vector joins against the persisted CODES
    under static ``cell IN (...)`` PartitionFilters — the billion-scale
    write-once/query-many join shape. Same pinned integer layout and
    dials as ann_pq_knn_join, and bit-identical to it (pinned in
    tests/test_pq.py), so it shares that FULL hash oracle."""
    from pgdedupe_spark.operators.similarity import (
        pinned_pq_layout,
        pq_knn_join_from_index,
        write_pq_index,
    )

    books, cents = pinned_pq_layout(64, 16, 32, 16)
    emb = _quantized_embeddings(spark, sf_dir)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    path = _serve_index_path(sf_dir, "pq_join")
    write_pq_index(
        right, "vec_id", "embedding", path, dim=64, m=16, ksub=32,
        n_centroids=16, books=books, centroids=cents,
    )
    return pq_knn_join_from_index(
        spark, path, emb.filter(F.col("vec_id") % 2 == 0), "vec_id", "embedding",
        right, "vec_id", "embedding", k=5, n_probe=14, refine=8,
    )


@query(
    "q17_small_qty_revenue",
    oracle="""
    WITH pa AS (
      SELECT l_partkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s,
             count(*) AS c
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) / 7.0 AS DOUBLE)
           AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa   ON pa.l_partkey = lineitem.l_partkey
    WHERE p_brand = 'Brand#1'
      AND 5 * CAST(l_quantity AS DECIMAL(18,2)) * c < s
    """,
)
def q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue): a correlated scalar
    subquery — `l_quantity < 0.2 * avg(l_quantity) per part` — decorrelated
    into a per-part pre-aggregation + equi-join, the plan Spark and every
    warehouse engine actually runs. The threshold compare is rewritten
    exact-integer (5·qty·cnt < sum, all DECIMAL) so no floating 0.2·avg
    rounds differently across engines at the strict-< boundary. The brand
    filter pushes to the part scan; the per-part agg frame is part-sized
    (≪ lineitem) so AQE broadcasts both onto the fact scan."""
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    li = _t(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum(dec("l_quantity")).alias("_s"), F.count(F.lit(1)).alias("_c")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(pa, F.col("_pk") == F.col("l_partkey"))
        .filter(F.lit(5) * dec("l_quantity") * F.col("_c") < F.col("_s"))
        .agg(
            (F.sum(dec("l_extendedprice")) / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly")
        )
    )


# ===========================================================================
# Round 5 (third batch): MERGE/CDC as immutable recompute (the distributed
# answer to the reference's in-place UPDATE writebacks, S8), and CUBE
# grouping sets rounding out the OLAP shapes (a10_rollup covers ROLLUP).
# ===========================================================================


@query(
    "j10_merge_upsert",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_mktsegment <> 'BUILDING'
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0, c_mktsegment
    FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def j10_merge_upsert(spark, sf_dir):
    """SCD1 MERGE: upsert a derived change set (every BUILDING customer
    with a bumped balance) into the customer snapshot. One broadcast
    anti join + union — the change set is the build side, the target
    streams (operators/merge.py scale notes)."""
    from pgdedupe_spark.operators.merge import merge_upsert

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    src = cust.filter(F.col("c_mktsegment") == "BUILDING").withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(100.0)
    )
    return merge_upsert(cust, src, ["c_custkey"])


@query(
    "j11_cdc_apply",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey % 10 NOT IN (0, 1)
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, 50.0, c_mktsegment
    FROM customer WHERE c_custkey % 10 = 1
    UNION ALL
    SELECT c_custkey + 1000000, c_name, c_nationkey, 999.0, c_mktsegment
    FROM customer WHERE c_custkey % 10 = 2
    """,
)
def j11_cdc_apply(spark, sf_dir):
    """CDC apply: a change feed with deletes (keys ≡0 mod 10), two
    successive updates for the same keys (≡1 mod 10 — the later seq wins
    via latest_change_per_key compaction), and inserts (new keys), all
    applied in one snapshot rewrite. Feed compaction is one window over
    the FEED only; the apply is the same anti-join+union as MERGE."""
    from pgdedupe_spark.operators.merge import apply_cdc, latest_change_per_key

    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    cust = _t(spark, sf_dir, "customer").select(*cols)
    dels = (
        cust.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("op", F.lit("D")).withColumn("seq", F.lit(1))
    )
    upd1 = (
        cust.filter(F.col("c_custkey") % 10 == 1)
        .withColumn("c_acctbal", F.lit(0.0))
        .withColumn("op", F.lit("U")).withColumn("seq", F.lit(1))
    )
    upd2 = (
        cust.filter(F.col("c_custkey") % 10 == 1)
        .withColumn("c_acctbal", F.lit(50.0))
        .withColumn("op", F.lit("U")).withColumn("seq", F.lit(2))
    )
    ins = (
        cust.filter(F.col("c_custkey") % 10 == 2)
        .withColumn("c_custkey", F.col("c_custkey") + F.lit(1000000))
        .withColumn("c_acctbal", F.lit(999.0))
        .withColumn("op", F.lit("I")).withColumn("seq", F.lit(1))
    )
    feed = dels.unionByName(upd1).unionByName(upd2).unionByName(ins)
    compacted = latest_change_per_key(feed, ["c_custkey"], "seq").drop("seq")
    return apply_cdc(cust, compacted, ["c_custkey"])


@query(
    "a13_cube",
    oracle="""
    WITH c AS (
      SELECT c_mktsegment, CAST(c_nationkey AS VARCHAR) AS nat, c_acctbal
      FROM customer
    )
    SELECT coalesce(c_mktsegment, 'ALL') AS seg,
           coalesce(nat, 'ALL') AS nation,
           count(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
    FROM c GROUP BY CUBE (c_mktsegment, nat)
    """,
)
def a13_cube(spark, sf_dir):
    """CUBE grouping sets (all four (segment × nation) margins in one
    pass): like ROLLUP (a10), Spark plans this as ONE Expand + aggregate
    — a single shuffle carries every grouping set, no per-set re-scan.
    Rolled-up levels are labeled 'ALL' (source columns are non-null, so
    the sentinel is unambiguous without grouping_id)."""
    c = _t(spark, sf_dir, "customer").select(
        "c_mktsegment", F.col("c_nationkey").cast("string").alias("nat"), "c_acctbal"
    )
    return (
        c.cube("c_mktsegment", "nat")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("sum_bal"),
        )
        .select(
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("seg"),
            F.coalesce("nat", F.lit("ALL")).alias("nation"),
            "n_customers",
            "sum_bal",
        )
    )


@query(
    "stats_analyze",
    oracle="""
    SELECT 'c_name' AS "column", count(*) AS n_rows,
           count(*) - count(c_name) AS n_nulls,
           count(DISTINCT c_name) AS n_distinct FROM customer
    UNION ALL
    SELECT 'c_nationkey', count(*), count(*) - count(c_nationkey),
           count(DISTINCT c_nationkey) FROM customer
    UNION ALL
    SELECT 'c_mktsegment', count(*), count(*) - count(c_mktsegment),
           count(DISTINCT c_mktsegment) FROM customer
    UNION ALL
    SELECT 'c_acctbal', count(*), count(*) - count(c_acctbal),
           count(DISTINCT c_acctbal) FROM customer
    """,
)
def stats_analyze(spark, sf_dir):
    """ANALYZE: per-column (rows, nulls, exact ndv) in ONE aggregation
    pass over the table (multi-distinct plans as a single Expand+agg —
    one shuffle for all columns, vs the oracle's four scans), then
    `stack` to one row per column. The planner-metadata operator the
    reference delegates to Postgres ANALYZE."""
    from pgdedupe_spark.operators.stats import analyze_table

    return analyze_table(
        _t(spark, sf_dir, "customer"),
        ["c_name", "c_nationkey", "c_mktsegment", "c_acctbal"],
    )


@query(
    "events_histogram",
    oracle="""
    SELECT event_type,
           least(greatest(CAST(floor((CAST(value AS DOUBLE) - 0.0) / 500.0 * 20)
                               AS INT), 0), 19) AS bucket,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def events_histogram(spark, sf_dir):
    """Fixed-range value histogram per event type (20 buckets over
    [0, 500)): clamped explicit double bucketing — one map-side-combining
    aggregation, no sort, no percentile state; the distribution summary a
    100 TB profiler runs before choosing finer analyses."""
    from pgdedupe_spark.operators.stats import fixed_histogram

    ev = _events(spark, sf_dir)
    return fixed_histogram(
        ev, "value", ["event_type"], lo=0.0, hi=500.0, n_buckets=20
    )


@query(
    "w3_rolling",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             CAST(value AS DECIMAL(18,4)) AS vdec
      FROM events
    )
    SELECT event_id, user_id, ts_us,
           CAST(SUM(vdec) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll7_sum,
           count(*) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n,
           CAST(SUM(vdec) OVER (
             PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS hour_sum
    FROM e
    """,
)
def w3_rolling(spark, sf_dir):
    """Frame-bounded window aggregates (the shapes w2's ranking suite
    doesn't cover): a 7-row trailing sum, a running count, and a
    TIME-based RANGE frame — `value` summed over the trailing hour per
    user, the sliding-window metric a temporal engine must express
    without a self-join. All three share one hash-partition on user_id
    (one shuffle); sums stay DECIMAL inside the frame so engines agree
    bit-for-bit. RANGE orders by ts_us alone (peers merge — identical
    semantics both engines); ROWS frames add the event_id tie-break."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).withColumn(
        "vdec", F.col("value").cast("decimal(18,4)")
    )
    wrows = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(-6, 0)
    wrun = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wrange = Window.partitionBy("user_id").orderBy("ts_us").rangeBetween(
        -3_600_000_000, 0
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_us",
        F.sum("vdec").over(wrows).cast("double").alias("roll7_sum"),
        F.count(F.lit(1)).over(wrun).alias("running_n"),
        F.sum("vdec").over(wrange).cast("double").alias("hour_sum"),
    )


@query(
    "f11_string_agg",
    oracle="""
    SELECT n_name,
           string_agg(c_name, ',' ORDER BY c_name) AS members,
           count(*) AS n
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > 9000
    GROUP BY n_name
    """,
)
def f11_string_agg(spark, sf_dir):
    """Ordered string aggregation (PG string_agg / LISTAGG): Spark has no
    ordered string_agg aggregate, so the deterministic spelling is
    collect_list → array_sort → array_join — same one-shuffle aggregate
    plan, with the ordering done per-group after collection (exact, not
    partial-order-dependent). The selective acctbal filter keeps
    per-group arrays bounded; unbounded groups would cap or bucket first
    (same contract as A1's collect_list)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias("members"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "events_retention",
    oracle="""
    WITH e AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(ts) % 604800000000 AS week_us
      FROM events
    ), cohort AS (
      SELECT user_id, min(week_us) AS cohort_week FROM e GROUP BY user_id
    )
    SELECT cohort.cohort_week,
           CAST((e.week_us - cohort.cohort_week) / 604800000000 AS INT)
             AS weeks_since,
           count(DISTINCT e.user_id) AS n_users
    FROM e JOIN cohort USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_retention(spark, sf_dir):
    """Cohort retention matrix: users bucketed by first-seen week, counted
    distinct in every subsequent activity week. Two aggregations + one
    equi-join on user_id — the cohort frame is users-sized (≪ events), so
    AQE broadcasts it back onto the weekly activity; integer µs week
    arithmetic keeps both engines exact. The classic product-analytics
    query no engine claiming 'events support' can skip."""
    ev = _events(spark, sf_dir)
    week = (F.col("ts_us") - F.col("ts_us") % F.lit(604_800_000_000)).alias("week_us")
    e = ev.select("user_id", week)
    cohort = e.groupBy("user_id").agg(F.min("week_us").alias("cohort_week"))
    return (
        e.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            ((F.col("week_us") - F.col("cohort_week")) / F.lit(604_800_000_000))
            .cast("int")
            .alias("weeks_since"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@query(
    "events_gapfill",
    oracle="""
    WITH src AS (
      SELECT event_type, epoch_us(ts) AS ts_us, value FROM events
      WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
        AND ts <  TIMESTAMP '2024-01-12 00:00:00'
    ), actual AS (
      SELECT event_type,
             ts_us - ts_us % 3600000000 AS bucket_us,
             count(*) AS n_rows,
             SUM(CAST(value AS DECIMAL(18,4))) AS sv
      FROM src GROUP BY 1, 2
    ), span AS (
      SELECT event_type, min(bucket_us) AS lo, max(bucket_us) AS hi
      FROM actual GROUP BY 1
    ), buckets AS (
      SELECT event_type, unnest(generate_series(lo, hi, 3600000000)) AS bucket_us
      FROM span
    ), filled AS (
      SELECT b.event_type, b.bucket_us, a.n_rows, a.sv,
             SUM(CASE WHEN a.sv IS NOT NULL THEN 1 ELSE 0 END) OVER (
               PARTITION BY b.event_type ORDER BY b.bucket_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM buckets b
      LEFT JOIN actual a USING (event_type, bucket_us)
    )
    SELECT event_type, bucket_us,
           CAST(coalesce(n_rows, 0) AS BIGINT) AS n_rows,
           CAST(MAX(sv) OVER (PARTITION BY event_type, grp) AS DOUBLE)
             AS locf_value
    FROM filled
    """,
)
def events_gapfill(spark, sf_dir):
    """Gap-filled hourly buckets with LOCF over a one-week window (the
    hypertable `time_bucket_gapfill` + `locf` analog): every hour in each
    type's observed span appears, empty hours carry the last seen hourly
    sum forward. Bucket series generation is `sequence`+`explode` (JVM);
    LOCF is the portable islands formulation (running non-null count →
    max per island), so the oracle runs the SAME algorithm — see
    operators/temporal.py gapfill_locf."""
    from pgdedupe_spark.operators.temporal import gapfill_locf

    ev = _events(spark, sf_dir).filter(
        (F.col("ts_us") >= F.lit(1_704_412_800_000_000))
        & (F.col("ts_us") < F.lit(1_705_017_600_000_000))
    )
    return gapfill_locf(ev, "event_type", "ts_us", "value", bucket_us=3_600_000_000)


@query(
    "multimodal_audio_native",
    # The fixture is fully deterministic (sine sweeps → int16 PCM → the
    # numpy RIFF parser), so the oracle pins the decoded feature rows as
    # literals — the d5_learned_rules pattern: decode happens Spark-side,
    # the oracle pins the answer (VERDICT r8 #3; rms ≈ 1/√2 for a full-
    # scale sine, zcr ≈ 2·freq/rate — the literals are the exact decoded
    # values at 6 decimals, regenerated by tests/test_multimodal.py's
    # independent-decoder pins if the fixture ever changes).
    oracle="""
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(sample_rate AS DOUBLE) AS sample_rate,
           CAST(n_samples AS DOUBLE) AS n_samples,
           CAST(n_channels AS DOUBLE) AS n_channels,
           CAST(rms AS DOUBLE) AS rms,
           CAST(zcr AS DOUBLE) AS zcr
    FROM (VALUES
      (0, 4044, 8000, 2000, 1, 0.70707,  0.054527),
      (1, 4044, 8000, 2000, 1, 0.707071, 0.082041),
      (2, 4044, 8000, 2000, 1, 0.70707,  0.109555),
      (3, 4044, 8000, 2000, 1, 0.70707,  0.137069),
      (4, 4044, 8000, 2000, 1, 0.70707,  0.164582),
      (5, 4044, 8000, 2000, 1, 0.707071, 0.192096),
      (6, 4044, 8000, 2000, 1, 0.707072, 0.21961),
      (7, 4044, 8000, 2000, 1, 0.707071, 0.247124),
      (8, 4044, 8000, 2000, 1, 0.70707,  0.274637),
      (9, 4044, 8000, 2000, 1, 0.707071, 0.302151)
    ) AS t(media_id, n_bytes, sample_rate, n_samples, n_channels, rms, zcr)
    """,
)
def multimodal_audio_native(spark, sf_dir):
    """Native (dependency-free) REAL audio decode through the Spark
    plumbing: deterministic PCM WAV payloads are synthesized driver-side
    (sine sweeps keyed by media_id — a bounded fixture, like d5's labeled
    pairs), decoded inside mapInPandas by the pure-numpy RIFF parser, and
    reduced to the audio feature convention (rate, samples, channels,
    duration, rms, peak, mean, zcr). Exact feature values are pinned in
    tests/test_multimodal.py; the VALUES oracle pins the same rows for
    the driver's full rows+schema+hash check."""
    import struct

    import numpy as np

    from pgdedupe_spark.operators.multimodal import decode_features

    def wav(freq: int, rate: int = 8000, n: int = 2000) -> bytes:
        t = np.arange(n) / float(rate)
        data = (np.sin(2 * np.pi * freq * t) * 32767).astype("<i2").tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    rows = [(i, "audio", wav(220 + 110 * i)) for i in range(10)]
    media = spark.createDataFrame(rows, "media_id long, modality string, payload binary")
    out = decode_features(media, mode="native", modality="audio")
    # round the float stats so the driver's value hash is stable across
    # numpy versions; container facts (rate/samples/channels) stay exact
    return out.select(
        "media_id",
        "n_bytes",
        F.round(F.col("features")[0], 6).alias("sample_rate"),
        F.round(F.col("features")[1], 6).alias("n_samples"),
        F.round(F.col("features")[2], 6).alias("n_channels"),
        F.round(F.col("features")[4], 6).alias("rms"),
        F.round(F.col("features")[7], 6).alias("zcr"),
    )


@query(
    "j12_full_outer",
    oracle="""
    WITH co AS (
      SELECT o_custkey, count(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      FROM orders WHERE o_totalprice > 150000 GROUP BY o_custkey
    )
    SELECT coalesce(c_custkey, o_custkey) AS cust_id,
           coalesce(c_mktsegment, '') AS c_mktsegment,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(spend, 0.0) AS spend,
           CASE WHEN c_custkey IS NULL THEN 'orphan_order'
                WHEN o_custkey IS NULL THEN 'no_orders'
                ELSE 'matched' END AS side
    FROM (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 0) c
    FULL OUTER JOIN co ON c_custkey = o_custkey
    """,
)
def j12_full_outer(spark, sf_dir):
    """FULL OUTER join (the one outer-join shape j3/j5/j8/j9 don't
    cover): positive-balance customers against per-customer HIGH-VALUE
    order rollups, keeping unmatched rows from BOTH sides with a
    provenance tag — all three provenances populated (orphan = big buyer
    excluded by the balance predicate; no_orders = positive-balance
    customer with no big order). Full outer cannot broadcast (both sides
    must surface unmatched rows) — Spark plans a shuffle sort-merge join
    on the key, the right call at any scale."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select("c_custkey", "c_mktsegment")
    )
    co = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 150000)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("spend"),
        )
    )
    j = c.join(co, c.c_custkey == co.o_custkey, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("cust_id"),
        F.coalesce("c_mktsegment", F.lit("")).alias("c_mktsegment"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("spend", F.lit(0.0)).alias("spend"),
        F.when(F.col("c_custkey").isNull(), "orphan_order")
        .when(F.col("o_custkey").isNull(), "no_orders")
        .otherwise("matched")
        .alias("side"),
    )


@query(
    "a14_except",
    oracle="""
    SELECT c_custkey AS id FROM customer WHERE c_acctbal > 5000
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    """,
)
def a14_except(spark, sf_dir):
    """EXCEPT (set-difference semantics, dedup both sides — the INTERSECT
    twin of a12): high-balance customers with no high-value order.
    Plans as a LeftAnti join after distinct, same as the SQL spelling."""
    rich = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("id"))
    )
    big = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("id"))
    )
    return rich.subtract(big)


@query(
    "f12_posexplode",
    oracle="""
    WITH cov AS (
      SELECT o_custkey, array_agg(o_orderkey ORDER BY o_orderkey) AS ids
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(u.pos - 1 AS INT) AS pos,
           u.id AS o_orderkey
    FROM (
      SELECT o_custkey,
             unnest(list_transform(range(1, len(ids) + 1),
                    i -> {'pos': i, 'id': ids[i]})) AS u
      FROM cov
    )
    """,
)
def f12_posexplode(spark, sf_dir):
    """Positional explode (LATERAL VIEW posexplode): each customer's
    sorted order ids with their 0-based array position — the
    position-carrying unnest F3's plain explode lacks. One aggregation +
    one generate, no joins."""
    cov = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.array_sort(F.collect_list("o_orderkey")).alias("ids"))
    )
    return cov.select(
        "o_custkey", F.posexplode("ids").alias("pos", "o_orderkey")
    )


@query(
    "a15_union_by_name",
    oracle="""
    SELECT id, name, kind, acctbal FROM (
      SELECT c_custkey AS id, c_name AS name, 'customer' AS kind,
             c_acctbal AS acctbal
      FROM customer
      UNION ALL BY NAME
      SELECT 'supplier' AS kind, s_suppkey + 1000000 AS id,
             s_name AS name, CAST(NULL AS DOUBLE) AS acctbal
      FROM supplier
    )
    """,
)
def a15_union_by_name(spark, sf_dir):
    """Schema-aligned union of heterogeneous sources (`unionByName` with
    allowMissingColumns — DuckDB's UNION ALL BY NAME): customers and
    suppliers into one entity frame, matching columns by NAME not
    position, absent columns null-filled. The ingestion-union shape every
    multi-source pipeline hits; zero shuffles (a union is concatenation)."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.lit("customer").alias("kind"),
        F.col("c_acctbal").alias("acctbal"),
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"),
        (F.col("s_suppkey") + 1000000).alias("id"),
        F.col("s_name").alias("name"),
    )
    return c.unionByName(s, allowMissingColumns=True).select(
        "id", "name", "kind", "acctbal"
    )


@query(
    "events_attribution",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id AS click_id, epoch_us(ts) AS click_us
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS purchase_us,
             value AS amount
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, purchase_id, click_id, purchase_us, click_us, amount
    FROM c JOIN p ON c.user_id = p.user_id
     AND click_us < purchase_us
     AND click_us >= purchase_us - 3600000000
    """,
)
def events_attribution(spark, sf_dir):
    """Attribution join: every purchase matched to the same user's clicks
    in the preceding hour — the batch twin of the stream-STREAM join
    (streaming/ops.py click_purchase_join_stream; parity pinned in
    tests/test_streaming.py). An equi-join on user_id with the time range
    as residual condition — hash join, never a nested loop; at 100 TB the
    per-user key bounds the join and the hour bound is what lets the
    streaming version drop state."""
    ev = _events(spark, sf_dir)
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts_us").alias("click_us"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts_us").alias("purchase_us"),
        F.col("value").alias("amount"),
    )
    return (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("click_us") < F.col("purchase_us"))
            & (F.col("click_us") >= F.col("purchase_us") - F.lit(3_600_000_000)),
        )
        .select("user_id", "purchase_id", "click_id", "purchase_us", "click_us", "amount")
    )


@query("merge_scale_probe")  # bench-only: synthetic target, no parquet input
def merge_scale_probe(spark, sf_dir):
    """MERGE/CDC at volume: a hash-synthesized target (500k rows at
    sf0.1) takes a mixed change feed (1% updates, 0.5% deletes, 0.2%
    inserts) through compaction + apply in one snapshot rewrite. The
    probe exists because the driver-table j10/j11 rows are dim-sized;
    this exercises the regime the anti-join broadcast decision matters
    in — the change set (~1.7% of keys) builds, the target streams.
    Deterministic (spark.range + md5), bench-only like the ANN/Zipf
    stress probes."""
    from pgdedupe_spark.operators.merge import apply_cdc, latest_change_per_key

    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    n = max(100_000, int(5_000_000 * sf))
    target = spark.range(n).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("payload")
    )
    upd = (
        spark.range(0, n, 100)
        .select(
            "id", F.lit("updated").alias("payload"),
            F.lit("U").alias("op"), F.lit(1).alias("seq"),
        )
    )
    upd2 = (
        spark.range(0, n, 200)  # half the updated keys change AGAIN (seq 2 wins)
        .select(
            "id", F.lit("updated-again").alias("payload"),
            F.lit("U").alias("op"), F.lit(2).alias("seq"),
        )
    )
    dels = spark.range(0, n, 211).select(
        "id", F.lit(None).cast("string").alias("payload"),
        F.lit("D").alias("op"), F.lit(1).alias("seq"),
    )
    ins = spark.range(n, n + n // 500).select(
        "id", F.md5(F.col("id").cast("string")).alias("payload"),
        F.lit("I").alias("op"), F.lit(1).alias("seq"),
    )
    feed = upd.unionByName(upd2).unionByName(dels).unionByName(ins)
    compacted = latest_change_per_key(feed, ["id"], "seq").drop("seq")
    return apply_cdc(target, compacted, ["id"])


@query("pairs_skew_probe")  # bench-only: synthetic blocks, conf-scoped
def pairs_skew_probe(spark, sf_dir):
    """Adversarial hot-block probe for J7 candidate pairs (VERDICT r8 #4;
    reference hazard run.py:293-319, SURVEY §4.1): one pathological block
    (a shared-surname token, 6k members at sf0.1 → 18M raw pairs) plus a
    2k-block tail, pushed through candidate_pairs THREE ways, self-checked
    in-band:

    * uncapped + AQE skew split — broadcast disabled (the 100 TB regime:
      entries don't broadcast) forces the SMJ on block_id; skew-join
      thresholds are scoped down to this data size so the hot partition
      splits (``SortMergeJoin(skew=true)``), and the probe records that
      the split actually engaged (``skew_split_engaged``). Measured
      finding (SCALE.md r9): AQE's detection is INPUT-size-based — a
      100k-row block is ~10 MB of shuffle input, far under the 256 MB
      default threshold, yet 5·10^9 output pairs; AQE alone does NOT
      save an uncapped quadratic block at defaults. max_block_size is
      the load-bearing guard; skew split only spreads what survives it.
    * capped (max_block_size=100) — the reference's guard drops the
      pathological block entirely; expected count = tail pairs only.
    * exact counts — both pair counts must equal the closed forms
      (H·(H−1)/2 + T·45 and T·45).

    Conf changes are saved/restored; the probe runs as a HEAVY_PROBE
    fresh subprocess in bench.py so nothing leaks into other queries."""
    from pgdedupe_spark.operators.pairs import candidate_pairs

    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    H = max(1_500, int(60_000 * sf))
    T = max(200, int(20_000 * sf))
    hot = spark.range(H).select(
        F.lit("blk_smith").alias("block_id"),
        F.col("id").alias("_unique_id"),
        F.array().cast("array<long>").alias("smaller_ids"),
    )
    tail = spark.range(T * 10).select(
        F.concat(F.lit("t"), (F.col("id") % T).cast("string")).alias("block_id"),
        (F.col("id") + H).alias("_unique_id"),
        F.array().cast("array<long>").alias("smaller_ids"),
    )
    cov = hot.unionByName(tail)
    expected_uncapped = H * (H - 1) // 2 + T * 45
    expected_capped = T * 45

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16384",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
    }
    saved = {}
    for k, v in conf.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        cnt = candidate_pairs(cov, max_block_size=None).agg(
            F.count(F.lit(1)).alias("n")
        )
        n_uncapped = cnt.collect()[0]["n"]
        plan = cnt._jdf.queryExecution().executedPlan().toString()
        skew_engaged = "skew=true" in plan or "AQEShuffleRead skewed" in plan
        n_capped = candidate_pairs(cov, max_block_size=100).count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.createDataFrame(
        [
            (
                H,
                n_uncapped,
                expected_uncapped,
                n_capped,
                expected_capped,
                n_uncapped == expected_uncapped and n_capped == expected_capped,
                skew_engaged,
            )
        ],
        "hot_block_rows long, uncapped_pairs long, expected_uncapped long, "
        "capped_pairs long, expected_capped long, counts_ok boolean, "
        "skew_split_engaged boolean",
    )


# ===========================================================================
# Round 5 (fourth batch): sequence packing / token-budget selection — the
# prefix-sum family of training-data ops (operators/packing.py) — and the
# TPC-H Q13 shape (outer join with an ON-clause filter + double aggregation)
# rounding out the OLAP join shapes.
# ===========================================================================


@query(
    "pack_sequences",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
                  AS BIGINT) AS n_tok
      FROM documents
    ), c AS (
      SELECT doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
      FROM tok WHERE n_tok > 0
    ), e AS (
      SELECT doc_id, n_tok, s,
             unnest(generate_series(s // 128, (s + n_tok - 1) // 128)) AS pack_id
      FROM c
    )
    SELECT doc_id, pack_id,
           GREATEST(s, pack_id * 128) - s AS doc_off,
           GREATEST(s, pack_id * 128) - pack_id * 128 AS pack_off,
           LEAST(s + n_tok, (pack_id + 1) * 128) - GREATEST(s, pack_id * 128)
             AS n_tok_in_pack
    FROM e
    """,
)
def pack_sequences(spark, sf_dir):
    """Concat-then-chunk sequence packing (GPT-style training-window prep):
    concatenate `documents` in doc_id order, slice the whitespace-token
    stream into 128-token packs, and emit the (doc, pack) overlap map with
    in-doc/in-pack offsets. The global token offsets come from the
    range-partitioned distributed prefix sum (operators/packing.py) — no
    single-partition window anywhere in the plan; the oracle recomputes
    the same map with a global window cumsum, so the driver row proves
    the scale path reproduces the global order exactly."""
    from pgdedupe_spark.operators.packing import pack_assignments
    from pgdedupe_spark.operators.text import token_counts

    docs = _t(spark, sf_dir, "documents")
    toks = token_counts(docs, "doc_id", "text").select(
        "doc_id", F.col("n_ws_tokens").alias("n_tok")
    )
    return pack_assignments(toks, "doc_id", "n_tok", ctx=128)


@query(
    "corpus_token_budget",
    oracle="""
    WITH tok AS (
      SELECT doc_id, n_chars,
             CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
                  AS BIGINT) AS n_tok
      FROM documents
    ), c AS (
      SELECT doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (ORDER BY n_chars DESC NULLS LAST, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM tok
    )
    SELECT doc_id, n_tok, cum_before,
           LEAST(n_tok, 10000 - cum_before) AS take_tokens,
           n_tok > 10000 - cum_before AS truncated
    FROM c
    WHERE cum_before < 10000
    """,
)
def corpus_token_budget(spark, sf_dir):
    """Token-budget corpus selection (quality-sampling style): rank
    documents by a priority order (longest-first here; any total order
    works), take documents until a 10k-token budget is filled, truncating
    the document that crosses the line. Same distributed prefix sum as
    pack_sequences, read against a threshold; at scale the
    `cum_before < budget` filter prunes everything past the boundary
    range-partition."""
    from pgdedupe_spark.operators.packing import token_budget_select
    from pgdedupe_spark.operators.text import token_counts

    docs = _t(spark, sf_dir, "documents")
    toks = token_counts(docs, "doc_id", "text").select(
        "doc_id", F.col("n_chars").alias("n_chars"), F.col("n_ws_tokens").alias("n_tok")
    )
    return token_budget_select(
        toks,
        "n_tok",
        budget=10_000,
        order_exprs=[F.col("n_chars").desc_nulls_last(), F.col("doc_id").asc_nulls_first()],
    ).select("doc_id", "n_tok", "cum_before", "take_tokens", "truncated")


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey AS ck, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) t
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join with a predicate in the ON clause (it filters the join, NOT the
    preserved side — customers with only urgent orders still appear with
    c_count=0), then two aggregation levels.

    Plan choice: aggregate orders down to per-customer counts BEFORE the
    outer join (count(o_orderkey) in the ON-filtered join ≡ the
    pre-aggregated count, 0-coalesced) — the join's build side is then
    customer-cardinality instead of orders-cardinality, so at 100 TB the
    fact table shuffles once for its own aggregation and never carries
    payload through the join (AQE broadcasts the counts frame). The
    priority predicate still reaches the orders scan (PushedFilters,
    pinned in tests/test_plans.py)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    counts = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != F.lit("1-URGENT"))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    per = cust.join(
        counts, F.col("c_custkey") == F.col("o_custkey"), "left_outer"
    ).select(F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("c_count"))
    return per.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query("pack_scale_probe")  # bench-only: synthetic corpus, no parquet input
def pack_scale_probe(spark, sf_dir):
    """Scale probe for the distributed prefix sum (operators/packing.py):
    2M synthetic documents at sf0.1 (hash-derived token counts, avg ≈128)
    through BOTH prefix-sum consumers — the concat-then-chunk pack map
    (ctx=2048) and a half-corpus token-budget selection ordered by a
    non-key column. At this size a global-window cumsum would sort 2M
    rows in ONE task (the WindowExec warning regime); the probe pins the
    wall-clock of the rangepartitioned path instead. Output is a 2-row
    invariant summary (total slice tokens == total tokens; budget take
    == budget), so the bench also re-checks correctness at scale."""
    from pgdedupe_spark.operators.packing import pack_assignments, token_budget_select

    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    n = max(200_000, int(20_000_000 * sf))
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(11)), F.lit(256)).alias("n_tok"),
    )
    packs = pack_assignments(docs, "doc_id", "n_tok", ctx=2048)
    budget = n * 64  # ~half the corpus tokens
    sel = token_budget_select(
        docs, "n_tok", budget,
        order_exprs=[F.col("n_tok").desc_nulls_last(), F.col("doc_id").asc()],
    )
    a = packs.agg(
        F.count(F.lit(1)).alias("rows"), F.sum("n_tok_in_pack").alias("tok")
    ).withColumn("part", F.lit("pack"))
    b = sel.agg(
        F.count(F.lit(1)).alias("rows"), F.sum("take_tokens").alias("tok")
    ).withColumn("part", F.lit("budget"))
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# Driver-window promotion (VERDICT r5 #3): five olap.py TPC-H shapes a real
# user hits daily (EXISTS semi join, two-role dimension, NOT-IN anti join,
# disjunctive-predicate join, decorrelated-threshold join) enter the
# driver's 100-query rotation, displacing five saturated trivial rows that
# have carried near-zero information since r1. The displaced rows stay
# registered — tests/test_oracle.py still DuckDB-checks everything in
# QUERIES — but PYTEST_ONLY below excludes them from the driver ordering
# (__spark_entry__._ordered_names()) so the 100-query invariant holds.
# ---------------------------------------------------------------------------

from pgdedupe_spark import olap as _olap  # noqa: E402

for _name in (
    "q4_order_priority",
    "q7_nation_flow",
    "q16_supplier_variety",
    "q19_disjunctive_revenue",
    "q22_idle_customers",
    # second promotion wave (VERDICT r6 #4): the five hardest remaining
    # olap.py plan patterns enter the rotation in r7/r8 — correlated
    # EXISTS+NOT-EXISTS self-joins, nested-IN with correlated agg,
    # fact-fact non-equi residual, the 7-join snowflake, and explicit
    # GROUPING SETS with a GROUPING() id.
    "q21_waiting_supplier",
    "q20_part_promotion",
    "q12_shipmode_priority",
    "q8_market_share",
    "q_grouping_sets",
    # third promotion wave (VERDICT r7 #6): the remaining classic TPC-H
    # aggregation/join shapes get driver rows in r8 — min-cost-supplier
    # correlated min, single-table selective agg, 6-way profit snowflake,
    # group-HAVING over a scalar subquery threshold, conditional-agg
    # ratio. Displaces five saturated trivial rows (a7/a8/j8/j9/
    # text_token_counts — green since r2-r3) into PYTEST_ONLY below.
    "q2_min_balance_supplier",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q11_heavy_parts",
    "q14_promo_share",
    # fourth promotion wave (r8, for r9 first rows): argmax-vs-derived-max
    # (view-free q15) and the NTILE/PERCENT_RANK/CUME_DIST/LAG ranking
    # window suite. Displaces j12_full_outer (full-outer reconciliation
    # is covered by j14_snapshot_diff) and q4_order_priority (EXISTS semi
    # join, subsumed by q21's EXISTS+NOT-EXISTS pair).
    "q15_top_supplier",
    "q_ranking_windows",
):
    QUERIES[_name] = _olap.QUERIES[_name]
    ORACLES[_name] = _olap.ORACLES[_name]

PYTEST_ONLY = frozenset(
    {
        "p5_empty_clone",
        "p6_topk",
        "a6_counts",
        "f6_cast_ratio",
        "a9_union_distinct",
        # demoted in r6 to make window room for stats_validate (VERDICT r5 #8)
        "p3_distinct",
        # demoted in r7 (VERDICT r6 #3/#4): six saturated trivial shapes —
        # green since r1-r3, near-zero marginal information — make window
        # room for events_attribution_outer + the five promoted olap
        # shapes. All keep full DuckDB oracle coverage via
        # tests/test_oracle.py every pytest run.
        "a12_setops",
        "a14_except",
        "a15_union_by_name",
        "f12_posexplode",
        "f5_concat_null",
        "p2_filter_projection",
        # born pytest-only in r7 (window full): Misra-Gries heavy-hitter
        # top-k with a full DuckDB oracle via tests/test_oracle.py
        "text_heavy_hitters",
        # born pytest-only in r7 (window full) with a FULL hash oracle:
        # BM25 retrieval (dedup_incremental_exact / hybrid_search_rrf,
        # born alongside it, were promoted into the r11 window in r10 —
        # VERDICT r9 #10)
        "text_bm25_topk",
        "j13_scd2_intervals",
        "sample_weighted",
        "text_script_profile",
        # born pytest-only in round 7's extension wave (window full), all
        # with FULL hash oracles via tests/test_oracle.py; graph_pagerank,
        # j14_snapshot_diff and events_rolling_anomaly were born here too
        # and are promoted into the r8 driver window (see __spark_entry__)
        "stats_robust_outliers",
        "events_trending",
        "text_url_profile",
        "pii_pseudonymize",
        "a16_rate_ci",
        "stats_equidepth",
        "d7_sorted_neighborhood",
        # demoted late-r7 to make r8 window room for graph_pagerank /
        # j14_snapshot_diff / events_rolling_anomaly (saturated scalar
        # shapes, green since r2-r3; full oracle coverage retained here)
        "a11_percentiles",
        "f9_string_funcs",
        "f10_datetime_funcs",
        # demoted in r8 (VERDICT r7 #6) to make window room for the five
        # promoted olap shapes q2/q6/q9/q11/q14: saturated trivial rows,
        # green since r2-r3, whose join/agg shapes are now strictly
        # subsumed by the TPC-H rotation (q21/q22 anti+semi joins,
        # q14/q_ratio conditional aggs). Full oracle coverage retained.
        "a7_mode_plurality",
        "a8_ratio_metrics",
        "j8_anti_join",
        "j9_semi_join",
        "text_token_counts",
        # demoted in r9 to make window room for er_completeness (VERDICT
        # r8 #7): a trivial second-level reagg of events_hourly_rollup
        # (which stays in the rotation), green r5-r8; oracle retained
        "events_daily_from_hourly",
        # demoted in r10 (VERDICT r9 #10): saturated trivial rows, green
        # since r2-r3 with near-zero marginal information, making window
        # room for the never-driver-checked composites text_quality_model /
        # hybrid_search_rrf / pipeline_corpus_curation /
        # dedup_incremental_exact. Oracles retained via tests/test_oracle.py.
        "text_fingerprint",
        "multimodal_binary_stats",
        # demoted in r10 (VERDICT r9 #4): the engine-hash (xxhash64)
        # simhash tier is rows-only BY CONSTRUCTION (signature space
        # isn't DuckDB-replicable); dedup_minhash_lsh now computes the
        # same rows as its twin (MinHash has only the md5 family). The
        # twins dedup_minhash_portable / dedup_simhash_portable carry
        # the algorithms under FULL hash oracles and stay in the
        # rotation — one per window, so the algorithm family is
        # hash-checked every round. These two keep planted-pair +
        # twin-equivalence pytest coverage (tests/test_dedup.py); they
        # are the only PYTEST_ONLY rows without DuckDB oracles
        # (PYTEST_ONLY_NO_ORACLE below).
        "dedup_minhash_lsh",
        "dedup_simhash",
        # demoted in r8 to make window room for the portable-hash dedup
        # twins (VERDICT r7 #4): trivial scalar shapes green since r1-r5
        "j3_singleton_coalesce",
        "f11_string_agg",
        # demoted in r8 to make r9 window room for the survivorship pair
        # (er_golden_record / er_blocking_metrics): the ROLLUP/CUBE
        # shapes are strictly subsumed by q_grouping_sets (explicit
        # GROUPING SETS + GROUPING() id, first driver row r8). Oracles
        # retained in pytest as always.
        "a10_rollup",
        "a13_cube",
        # demoted in r8 for ml_kmeans_exact (r9 window): fixed-bucket
        # histogram, green r5+r7, histogram coverage continues via
        # stats_equidepth in the rotation. Oracle retained in pytest.
        "events_histogram",
        # demoted in r8 for the fourth olap wave (q15/q_ranking_windows):
        "j12_full_outer",
        "q4_order_priority",
        # demoted in r8 for text_html_extract (r9 window): the INNER
        # attribution join is a strict subset of events_attribution_outer
        # (same hash-join, NULL-extension dropped). Oracle retained.
        "events_attribution",
        # demoted in r8 for ml_contrastive_negatives (r9 window): three
        # sampling rows rode the rotation (stratified / quota / weighted
        # mix) — stratified is the least informative of the family.
        # Oracle retained in pytest.
        "sample_stratified",
        # born pytest-only in r10 (window full), FULL hash oracle via
        # tests/test_oracle.py: DSIR per-doc log-weights (Xie et al.
        # 2023). Stays pytest-only when its siblings promote — the same
        # logratio model + DECIMAL weight pipeline rides the driver via
        # curation_dsir_sample and pipeline_llm_prep, which consume it
        "curation_dsir_weights",
        # demoted late-r10 to open r11-window slots for the five r10-born
        # composites (curation_dsir_sample / text_gopher_rules /
        # curation_c4_clean / pipeline_llm_prep / er_record_linkage):
        # saturated trivial rows, green since r2-r5 with near-zero
        # marginal information — language id and quality stats are strict
        # sub-computations of the promoted Gopher/LLM-prep composites,
        # pii_redact_ids and corpus_quota_sample are one-expression
        # projections/filters, f_array_ops is a scalar-function suite
        # (F1/F2/F3/F7) whose helpers every pipeline stage exercises. All
        # keep full DuckDB oracle coverage via tests/test_oracle.py.
        "text_language_id",
        "text_quality_stats",
        "pii_redact_ids",
        "corpus_quota_sample",
        "f_array_ops",
        # demoted late-r10: its two bigram signals are a strict subset of
        # the full Gopher A1.2 battery (text_gopher_repetition), which
        # takes its rotation slot. Oracle retained via tests/test_oracle.py.
        "text_repetition_signals",
        # born pytest-only late-r10 (window full), FULL hash oracle via
        # the shared unrolled-Lloyd's CTE prefix: SSL-prototypes data
        # pruning (Sorscher et al. 2022) — per-cluster hardness rank +
        # ceil-fraction keep over the bit-exact ml_kmeans_exact fit
        "ml_prototype_prune",
        # born pytest-only late-r10 (window full), FULL hash oracle: CCNet
        # head/middle/tail perplexity terciles (Wenzek et al. 2020) under
        # the DSIR DECIMAL-log device
        "text_ccnet_buckets",
        # born pytest-only late-r10 (window full), FULL hash oracle:
        # temperature-scaled mixture sampling (mT5 tau-mix) via
        # exact-integer largest-remainder apportionment
        "corpus_temperature_mix",
        # (ann_knn_join and text_gopher_full were born here late-r10 and
        # promoted into the r11 driver window in the same session,
        # displacing events_time_weighted / corpus_mix_weighted below;
        # corpus_leakage_safe_split was born here late-r10 and promoted
        # in r11 per VERDICT r10 #6, displacing text_html_extract below)
        # demoted in r11 for corpus_leakage_safe_split: a saturated
        # per-row extraction projection (green since its r9 debut) whose
        # regex/strip helpers every crawl-side test still exercises.
        # Oracle retained via tests/test_oracle.py.
        "text_html_extract",
        # demoted late-r10 to open r11-window slots for text_gopher_full
        # and ann_knn_join: saturated simple rows — a single
        # time-weighted window avg, and a per-row hash-rate filter whose
        # family stays driver-covered by the r11-window sampling rows
        # (curation_dsir_sample) while quota/weighted/temperature live
        # here with full oracles. Retained via tests/test_oracle.py.
        "events_time_weighted",
        "corpus_mix_weighted",
        # demoted in r12 (VERDICT r11 #1) to open window slots for the
        # three promoted r11-born full-hash composites
        # (text_language_id_learned / ann_pq_knn_join /
        # corpus_budget_epochs): saturated trivial rows, green since
        # r1-r6 with near-zero marginal information — events_pivot is a
        # fixed-column conditional-agg pivot, stats_validate a
        # constraint-count projection, text_tfidf a per-row TF-IDF
        # projection whose retrieval family stays driver-covered by
        # hybrid_search_rrf (and text_bm25_topk here). All keep full
        # DuckDB oracle coverage via tests/test_oracle.py.
        "events_pivot",
        "stats_validate",
        "text_tfidf",
        # demoted in r12 to open an r13-window slot for ann_pq_knn_serve
        # (the persisted-index compressed kNN join, VERDICT r11 #4): the
        # in-memory LSH top-k is bit-identical to ann_lsh_serve (same
        # pinned planes, pinned in tests/test_serve.py), which stays in
        # the rotation, so the algorithm keeps its every-other-round
        # hash check. Oracle retained via tests/test_oracle.py.
        "ann_lsh_topk",
        # demoted in r12 to open an r13-window slot for er_gazetteer_match
        # (gazetteer-mode linkage, VERDICT r11 #5): same subsumption as
        # ann_lsh_topk — bit-identical to ann_ivf_serve (shared pinned
        # centroids), which stays in the rotation. Oracle retained.
        "ann_ivf_topk",
        # born pytest-only in r12 (window full), FULL hash oracle: the
        # FUZZY gazetteer serve tier (one-way banded-MinHash matching
        # against a persisted portable-hash canonical index) — r13
        # promotion candidate
        "er_gazetteer_fuzzy",
    }
)

# The documented exceptions to "every PYTEST_ONLY row keeps a DuckDB
# oracle" (pinned in tests/test_entry_contract.py): the engine-hash
# SimHash tier, whose outputs aren't SQL-replicable by construction, and
# dedup_minhash_lsh, whose rows are its twin's. Each maps to
# its portable-hash twin — the SAME algorithm under a FULL hash oracle,
# which must stay driver-eligible so the family is hash-checked every
# round; the exception rows themselves keep planted-pair and
# twin-equivalence pytest coverage.
PYTEST_ONLY_NO_ORACLE = {
    "dedup_minhash_lsh": "dedup_minhash_portable",
    "dedup_simhash": "dedup_simhash_portable",
}


def _src_fingerprint(paths: list[str]) -> str:
    """Size+mtime fingerprint of the source parquet(s) behind a /tmp
    scaled copy (ADVICE r10: a marker keyed only on (sf, reps, tag) would
    compare a FRESH base against a STALE scaled copy after the driver
    regenerates testdata, and the probes' exact-×reps self-checks would
    fail spuriously). Files and directories both supported."""
    import os

    parts = []
    for p in sorted(paths):
        if os.path.isdir(p):
            size = mt = 0
            for root, _, files in os.walk(p):
                for f in files:
                    st = os.stat(os.path.join(root, f))
                    size += st.st_size
                    mt = max(mt, int(st.st_mtime))
            parts.append(f"{os.path.basename(p)}:{size}:{mt}")
        elif os.path.exists(p):
            st = os.stat(p)
            parts.append(f"{os.path.basename(p)}:{st.st_size}:{int(st.st_mtime)}")
        else:
            parts.append(f"{os.path.basename(p)}:missing")
    return ";".join(parts)


def _scaled_dir_is_fresh(done: str, fingerprint: str) -> bool:
    import os

    if not os.path.exists(done):
        return False
    with open(done) as fh:
        return fh.read() == fingerprint


def _scaled_tpch_dir(
    spark, sf_dir: str, reps: int = 10, salt_nation: bool = False, tag: str = "rel"
) -> str:
    """Materialize a referentially-intact ``reps``× copy of the TPC-H-ish
    tables (sf0.1 × 10 ≈ sf1.0) under /tmp, once per (sf, reps, tag) —
    the data tier behind the r10 heavy probes (VERDICT r9 #7). Every key
    column gets a per-replica offset of 10M·rep, so joins stay strictly
    within a replica and every group-invariant aggregate scales EXACTLY
    ×reps — which is what turns the probes' outputs into self-checking
    oracles at a scale the driver has no DuckDB twin for. With
    ``salt_nation`` the customer nation key is ALSO offset (25·rep) so
    blocking keys stay per-replica — the ER-pipeline variant — and only
    the customer table is written.

    Build cost is paid on first call; reruns see the ``_BUILT`` marker
    and reuse the parquet (the probes time build and query separately
    in-band, so the warm pass measures plans, not the writer). The
    marker carries a size+mtime fingerprint of the SOURCE tables, so a
    regenerated base testdata rebuilds the copy instead of silently
    failing the probes' exact-×reps self-checks (ADVICE r10)."""
    import os

    sf = sf_dir.rstrip("/").split("sf")[-1]
    out = f"/tmp/spark_graft_sf{sf}x{reps}_{tag}"
    done = os.path.join(out, "_BUILT")
    tables = (
        ["customer"]
        if salt_nation
        else ["customer", "supplier", "part", "orders", "lineitem", "nation", "region"]
    )
    fp = _src_fingerprint([os.path.join(sf_dir, f"{t}.parquet") for t in tables])
    if _scaled_dir_is_fresh(done, fp):
        return out

    def scale(t: str, keys: list[str], salt_col: str | None = None) -> None:
        df = _t(spark, sf_dir, t).crossJoin(
            spark.range(reps).select(F.col("id").alias("_rep"))
        )
        for k in keys:
            df = df.withColumn(k, F.col(k) + F.col("_rep") * F.lit(10_000_000))
        if salt_col is not None:
            df = df.withColumn(salt_col, F.col(salt_col) + F.col("_rep") * F.lit(25))
        df.drop("_rep").write.mode("overwrite").parquet(f"{out}/{t}.parquet")

    if salt_nation:
        scale("customer", ["c_custkey"], salt_col="c_nationkey")
    else:
        scale("customer", ["c_custkey"])
        scale("supplier", ["s_suppkey"])
        scale("part", ["p_partkey"])
        scale("orders", ["o_orderkey", "o_custkey"])
        scale("lineitem", ["l_orderkey", "l_partkey", "l_suppkey"])
        for t in ("nation", "region"):
            _t(spark, sf_dir, t).write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    with open(done, "w") as fh:
        fh.write(fp)
    return out


@query("tpch_sf1_probe")
def tpch_sf1_probe(spark, sf_dir):
    """Bench-only sf1.0 heavy tier for the relational core (VERDICT r9
    #7): q5 (6-table snowflake), q9 (profit snowflake) and q18 (top-k
    over a grouped fact-fact join) run against a 10×-scaled copy of
    ``sf_dir`` (sf0.1 → ~6M lineitem rows ≈ sf1.0) built by
    :func:`_scaled_tpch_dir`. The 0.1-SF correctness gate can't see
    shuffle sizing, broadcast-threshold flips, or AQE coalescing at this
    volume — this probe can, and it self-checks EXACTLY:

    * q5 revenue per nation and q9 profit per (nation, year) must equal
      10× their sf0.1 values (replica joins are key-disjoint, decimal
      sums are exact; double cast tolerance 1e-9 relative);
    * q18's top-100 must be the per-replica copies of the base top-10
      in order (ties impossible on continuous totalprice);
    * a join-strategy census of q5's AQE-final plan rides in-band
      (broadcast vs sort-merge counts), so a silent broadcast→SMJ flip
      at the 10× dim sizes is a VISIBLE diff in the bench artifact, not
      a surprise (customer at ~150k rows crosses the default 10 MB
      autoBroadcast threshold — exactly the behavior worth recording).
    """
    import time as _time

    reps = 10
    t0 = _time.perf_counter()
    scaled = _scaled_tpch_dir(spark, sf_dir, reps=reps, tag="rel")
    build_sec = round(_time.perf_counter() - t0, 3)

    secs: dict[str, float] = {}
    got: dict[str, list] = {}
    plans: dict[str, str] = {}
    for name in ("q5_regional_revenue", "q9_product_profit", "q18_large_orders"):
        df = QUERIES[name](spark, scaled)
        t0 = _time.perf_counter()
        got[name] = df.collect()
        secs[name] = round(_time.perf_counter() - t0, 3)
        plans[name] = df._jdf.queryExecution().executedPlan().toString()

    base5 = {r.n_name: r.revenue for r in QUERIES["q5_regional_revenue"](spark, sf_dir).collect()}
    scl5 = {r.n_name: r.revenue for r in got["q5_regional_revenue"]}
    q5_ok = set(base5) == set(scl5) and all(
        abs(scl5[k] - reps * base5[k]) <= 1e-9 * abs(reps * base5[k]) for k in base5
    )
    base9 = {
        (r.nation, r.o_year): r.sum_profit
        for r in QUERIES["q9_product_profit"](spark, sf_dir).collect()
    }
    scl9 = {(r.nation, r.o_year): r.sum_profit for r in got["q9_product_profit"]}
    q9_ok = set(base9) == set(scl9) and all(
        abs(scl9[k] - reps * base9[k]) <= 1e-9 * max(abs(reps * base9[k]), 1e-6)
        for k in base9
    )
    base18 = [r.o_totalprice for r in QUERIES["q18_large_orders"](spark, sf_dir).collect()]
    scl18 = [r.o_totalprice for r in got["q18_large_orders"]]
    q18_ok = len(scl18) == 100 and all(
        scl18[i] == base18[i // reps] for i in range(100)
    )

    q5_plan = plans["q5_regional_revenue"]
    return spark.createDataFrame(
        [
            (
                build_sec,
                secs["q5_regional_revenue"],
                secs["q9_product_profit"],
                secs["q18_large_orders"],
                bool(q5_ok),
                bool(q9_ok),
                bool(q18_ok),
                q5_plan.count("BroadcastHashJoin"),
                q5_plan.count("SortMergeJoin") + q5_plan.count("ShuffledHashJoin"),
            )
        ],
        "build_sec double, q5_sec double, q9_sec double, q18_sec double, "
        "q5_ok boolean, q9_ok boolean, q18_ok boolean, "
        "q5_broadcast_joins int, q5_shuffle_joins int",
    )


@query("pipeline_scale_probe")
def pipeline_scale_probe(spark, sf_dir):
    """Bench-only sf1.0 heavy tier for the ER flagship (VERDICT r9 #7):
    ``pipeline_entity_map`` — collapse → block → pair → feature → score →
    CC → relabel, the full 7-stage pipeline — against a 10×-scaled
    customer table (150k records at sf0.1×10). Nation keys are
    per-replica salted (:func:`_scaled_tpch_dir` ``salt_nation``), so the
    blocking-key distribution per replica matches the base corpus exactly
    and the pipeline decomposes into 10 independent copies — which makes
    the output row count an EXACT oracle (10× the base count, checked
    in-band) while the ENGINE still sees one 10× dataset: 10× blocks
    through one blocking chain, 10× candidate pairs through one scoring
    plan, one connected-components run over 10× the edges. What sf0.1
    can't show and this can: exchange sizing on the pair self-join and
    the CC iterations' shuffle behavior at millions of candidate pairs."""
    import time as _time

    reps = 10
    t0 = _time.perf_counter()
    scaled = _scaled_tpch_dir(spark, sf_dir, reps=reps, salt_nation=True, tag="er")
    build_sec = round(_time.perf_counter() - t0, 3)

    t0 = _time.perf_counter()
    base_rows = QUERIES["pipeline_entity_map"](spark, sf_dir).count()
    base_sec = round(_time.perf_counter() - t0, 3)

    t0 = _time.perf_counter()
    scaled_rows = QUERIES["pipeline_entity_map"](spark, scaled).count()
    scaled_sec = round(_time.perf_counter() - t0, 3)

    return spark.createDataFrame(
        [
            (
                build_sec,
                base_sec,
                scaled_sec,
                int(base_rows),
                int(scaled_rows),
                bool(scaled_rows == reps * base_rows),
                round(scaled_sec / base_sec, 2) if base_sec > 0 else None,
            )
        ],
        "build_sec double, base_sec double, scaled_sec double, "
        "base_rows long, scaled_rows long, rows_exact_10x boolean, "
        "scaleup_factor double",
    )


def _scaled_docs_dir(spark, sf_dir: str, reps: int = 10, tag: str = "docs") -> str:
    """Materialize a ``reps``× copy of the documents table under /tmp,
    once per (sf, reps, tag): doc_id gets a per-replica 10M offset, text/
    lang/source stay verbatim — so per-row operators scale EXACTLY ×reps
    and corpus-level statistics see one genuinely reps×-larger corpus.
    Same build-once marker + source-fingerprint discipline as
    :func:`_scaled_tpch_dir` (ADVICE r10: the probe's exact-count
    self-checks are the most sensitive consumer of a stale copy)."""
    import os

    sf = sf_dir.rstrip("/").split("sf")[-1]
    out = f"/tmp/spark_graft_sf{sf}x{reps}_{tag}"
    done = os.path.join(out, "_BUILT")
    fp = _src_fingerprint([os.path.join(sf_dir, "documents.parquet")])
    if _scaled_dir_is_fresh(done, fp):
        return out
    df = _t(spark, sf_dir, "documents").crossJoin(
        spark.range(reps).select(F.col("id").alias("_rep"))
    )
    df = df.withColumn("doc_id", F.col("doc_id") + F.col("_rep") * F.lit(10_000_000))
    df.drop("_rep").write.mode("overwrite").parquet(f"{out}/documents.parquet")
    with open(done, "w") as fh:
        fh.write(fp)
    return out


@query("curation_scale_probe")
def curation_scale_probe(spark, sf_dir):
    """Bench-only heavy tier for the LLM-curation family (late r10): the
    complete MassiveText filter (text_gopher_full — zero-shuffle per-row
    battery) and the CCNet perplexity terciles (text_ccnet_buckets —
    corpus-level LM + per-language windows) against a 10×-scaled
    documents table (~50k docs at sf0.1×10, one genuinely larger corpus,
    not ten partitions of the same one).

    Self-checks ride in-band, each exact by construction:
    * gopher_full is per-row, so BOTH the row count and the kept-doc
      count must scale exactly ×10 (text copies are verbatim);
    * ccnet's tercile SIZES per (lang, tier) must equal the closed-form
      NTILE split of 10n rows — floor(10n/3) + (1 if tier <= 10n mod 3)
      — computed from the BASE per-language totals (note 10× the base
      tier sizes is NOT the invariant when n mod 3 != 0; the first probe
      run caught exactly that), and 'empty' rows scale exactly ×10. The
      LM itself shifts (10× counts) and boundary membership may legally
      reshuffle among identical-text copies; the sizes cannot.
    What sf0.1 alone can't show: the LM aggregation's exchange sizing at
    a 10× vocabulary-stream volume and the per-language window at 10×
    partitions-per-key."""
    import time as _time

    reps = 10
    t0 = _time.perf_counter()
    scaled = _scaled_docs_dir(spark, sf_dir, reps=reps)
    build_sec = round(_time.perf_counter() - t0, 3)

    t0 = _time.perf_counter()
    gf_base = QUERIES["text_gopher_full"](spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n"), F.sum("keep").alias("k")
    ).collect()[0]
    base_gf_sec = round(_time.perf_counter() - t0, 3)
    t0 = _time.perf_counter()
    gf_scaled = QUERIES["text_gopher_full"](spark, scaled).agg(
        F.count(F.lit(1)).alias("n"), F.sum("keep").alias("k")
    ).collect()[0]
    scaled_gf_sec = round(_time.perf_counter() - t0, 3)

    def tier_counts(d):
        rows = (
            QUERIES["text_ccnet_buckets"](spark, d)
            .groupBy("lang", "tier")
            .count()
            .collect()
        )
        return {(r["lang"], r["tier"]): r["count"] for r in rows}

    t0 = _time.perf_counter()
    cc_base = tier_counts(sf_dir)
    base_cc_sec = round(_time.perf_counter() - t0, 3)
    t0 = _time.perf_counter()
    cc_scaled = tier_counts(scaled)
    scaled_cc_sec = round(_time.perf_counter() - t0, 3)

    langs = {lang for lang, _ in cc_base}
    expected: dict[tuple, int] = {}
    for lang in langs:
        n = sum(v for (lg, t), v in cc_base.items() if lg == lang and t != "empty")
        big_n = reps * n
        for i, tier in enumerate(("head", "middle", "tail"), start=1):
            size = big_n // 3 + (1 if i <= big_n % 3 else 0)
            if size:
                expected[(lang, tier)] = size
        emp = cc_base.get((lang, "empty"), 0)
        if emp:
            expected[(lang, "empty")] = reps * emp
    tiers_exact = cc_scaled == expected
    return spark.createDataFrame(
        [
            (
                build_sec,
                base_gf_sec,
                scaled_gf_sec,
                base_cc_sec,
                scaled_cc_sec,
                bool(
                    gf_scaled["n"] == reps * gf_base["n"]
                    and (gf_scaled["k"] or 0) == reps * (gf_base["k"] or 0)
                ),
                bool(tiers_exact),
                round(scaled_gf_sec / base_gf_sec, 2) if base_gf_sec > 0 else None,
                round(scaled_cc_sec / base_cc_sec, 2) if base_cc_sec > 0 else None,
            )
        ],
        "build_sec double, base_gopher_sec double, scaled_gopher_sec double, "
        "base_ccnet_sec double, scaled_ccnet_sec double, "
        "gopher_exact_10x boolean, ccnet_tiers_exact_10x boolean, "
        "gopher_scaleup_factor double, ccnet_scaleup_factor double",
    )


@query("dedup_scale_probe")
def dedup_scale_probe(spark, sf_dir):
    """Bench-only sf1.0 heavy tier for the near-dup dedup family
    (VERDICT r10 #8): MinHash-LSH signatures + banded buckets + the
    distinct candidate-pair join against a 10×-scaled documents table
    (same params as the headline rows: 5-gram shingles, 64 hashes, 16
    bands). What sf0.1 alone can't show: the signature projection and
    band-bucket exchange at 10× stream volume, and the distinct-pair
    shuffle at ~100× pair volume.

    Self-checks ride in-band, each EXACT by construction (text copies
    are verbatim, hashes are stateless functions of text — so replicas
    land in identical buckets):

    * bucket census: the scaled run has exactly the base's (band, key)
      bucket set, every bucket exactly ×10 its base size — checked by a
      full-outer join (zero mismatches);
    * distinct candidate pairs obey the closed form
      ``100·p_base + 45·n_sig_base`` (each base co-occurring pair
      contributes 10×10 replica combos; each signed doc contributes
      C(10,2) same-text cross-replica pairs). NOT a naive ×100 — the
      same-text term is the part a wrong scaling story would miss.

    The Jaccard-verify tier deliberately stays at base scale (headline
    rows cover it): verbatim-replica verification work is quadratic in
    reps — an artifact of the scaling method, not a real workload."""
    import time as _time

    from pgdedupe_spark.operators.dedup import (
        _lsh_candidates,
        _minhash_shingles_and_buckets,
        _persist,
        release_caches,
    )

    reps = 10
    t0 = _time.perf_counter()
    scaled = _scaled_docs_dir(spark, sf_dir, reps=reps)
    build_sec = round(_time.perf_counter() - t0, 3)

    def census(d):
        """(bucket-size frame, n_docs_with_signature, distinct pairs)."""
        # persist only the bucket frame (r12): the census reads it three
        # times (sizes, row count, pairs) and never re-reads the heavy
        # shingle arrays, so caching those would be wasted work per tier.
        _, buckets = _minhash_shingles_and_buckets(
            _t(spark, d, "documents"), "doc_id", "text",
            n=5, num_hashes=64, bands=16, persist=False,
        )
        buckets = _persist(buckets)
        sizes = (
            buckets.groupBy("_band", "_bkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)  # census reused by the join below
        )
        # exact, shuffle-free n_sig (r12): posexplode emits exactly `bands`
        # bucket rows per signed doc, so count/16 ≡ the old
        # distinct-on-_id count without exchanging the bucket frame.
        n_buckets_rows = buckets.count()
        assert n_buckets_rows % 16 == 0, n_buckets_rows
        n_sig = n_buckets_rows // 16
        pairs = _lsh_candidates(buckets).count()
        return sizes, n_sig, pairs

    t0 = _time.perf_counter()
    base_sizes, base_sig, base_pairs = census(sf_dir)
    release_caches()
    base_sec = round(_time.perf_counter() - t0, 3)
    t0 = _time.perf_counter()
    scaled_sizes, scaled_sig, scaled_pairs = census(scaled)
    release_caches()
    scaled_sec = round(_time.perf_counter() - t0, 3)

    mism = (
        base_sizes.withColumnRenamed("n", "nb")
        .join(scaled_sizes.withColumnRenamed("n", "ns"), ["_band", "_bkey"], "full_outer")
        .filter(
            F.col("nb").isNull()
            | F.col("ns").isNull()
            | (F.col("ns") != F.col("nb") * reps)
        )
        .count()
    )
    expect_pairs = reps * reps * base_pairs + (reps * (reps - 1) // 2) * base_sig
    return spark.createDataFrame(
        [
            (
                build_sec,
                base_sec,
                scaled_sec,
                int(base_pairs),
                int(scaled_pairs),
                bool(mism == 0 and scaled_sig == reps * base_sig),
                bool(scaled_pairs == expect_pairs),
                round(scaled_sec / base_sec, 2) if base_sec > 0 else None,
            )
        ],
        "build_sec double, base_sec double, scaled_sec double, "
        "base_pairs bigint, scaled_pairs bigint, "
        "buckets_exact_10x boolean, pairs_closed_form_exact boolean, "
        "scaleup_factor double",
    )


@query("llm_prep_scale_probe")
def llm_prep_scale_probe(spark, sf_dir):
    """Bench-only end-to-end LLM-prep composition probe (VERDICT r11
    #8): llm_prep (Gopher gate → canonical dedup → DSIR selection) →
    leakage_safe_split → token_budget_epochs → write_training_shards —
    the full modern pretraining recipe chained with stage-boundary
    checkpoints (the CLI handoff shape), run against both the base and
    the 10×-scaled (~sf1.0) documents table. Every stage is individually
    probed elsewhere; THIS measures the composition's shuffle +
    checkpoint interactions at 10× (gate/dedup over ~500k docs feeding
    the banded near-dup split and the prefix-sum pack of the selected
    slice).

    In-band exact self-checks, each closed-form by construction:
    * selection invariance — replica texts are verbatim and the
      canonical pick collapses them to ONE survivor per normalized text
      (longest-wins, max-id tie-break), so the selected COUNT at 10× is
      exactly the base count;
    * split partition — the three splits partition the selected set;
    * budget conservation — Σ tokens_alloc == budget whenever any group
      is uncapped, == Σ cap when all capped (the water-fill law), and
      epochs never exceed the repeat cap;
    * pack exactness — every written pack except the last holds exactly
      ctx tokens and slice lengths sum to the packed corpus'
      token count."""
    import time as _time

    from pgdedupe_spark.operators.clustering import _free_local_checkpoint
    from pgdedupe_spark.operators.curation import (
        leakage_safe_split,
        llm_prep,
        release_materialized,
        token_budget_epochs,
    )
    from pgdedupe_spark.operators.packing import write_training_shards

    reps = 10
    t0 = _time.perf_counter()
    scaled = _scaled_docs_dir(spark, sf_dir, reps=reps)
    build_sec = round(_time.perf_counter() - t0, 3)

    def run(d: str, tag: str):
        docs = _t(spark, d, "documents")
        t0 = _time.perf_counter()
        sel = llm_prep(
            docs, "doc_id", "text", target=F.col("lang") == "en",
            k=10_000, chars_col="n_chars", materialize=True,
        )
        picked = docs.join(sel.select("doc_id"), "doc_id").localCheckpoint(
            eager=True
        )
        release_materialized(sel)
        n_sel = picked.count()

        split = leakage_safe_split(
            picked, "doc_id", "text",
            {"train": 0.8, "val": 0.1, "test": 0.1},
        )
        by_split = {
            r["split"]: r["n"]
            for r in split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        train = picked.join(
            split.filter(F.col("split") == "train").select("doc_id"), "doc_id"
        ).localCheckpoint(eager=True)
        _free_local_checkpoint(picked)

        budget = 600_000
        alloc = token_budget_epochs(
            train, "source", "n_chars", budget=budget, max_epochs=4, tau=2.0
        ).collect()  # G rows — the bounded sidecar
        alloc_sum = sum(int(r.tokens_alloc) for r in alloc)
        cap_sum = sum(4 * int(r.n_tokens) for r in alloc)
        # water-fill conservation: any uncapped group ⇒ the full budget
        # allocates; all capped ⇒ the shortfall equals total capacity
        budget_ok = bool(alloc) and alloc_sum == min(budget, cap_sum) and all(
            float(r.epochs) <= 4.0 + 1e-12 for r in alloc
        )

        ctx = 2048
        shards = write_training_shards(
            train, "doc_id", "n_chars",
            f"/tmp/spark_graft_llmprep_shards_{tag}", ctx=ctx, packs_per_shard=8,
        )
        pk = shards.groupBy("pack_id").agg(F.sum("n_tok_in_pack").alias("t"))
        stats = pk.agg(
            F.max("pack_id").alias("last"),
            F.sum(F.when(F.col("t") != ctx, 1).otherwise(0)).alias("bad"),
            F.max(F.when(F.col("t") != ctx, F.col("pack_id"))).alias("bad_id"),
            F.sum("t").alias("tok_total"),
        ).collect()[0]
        train_tok = train.agg(F.sum("n_chars")).collect()[0][0] or 0
        packs_ok = (
            int(stats["bad"] or 0) <= 1
            and (stats["bad_id"] is None or stats["bad_id"] == stats["last"])
            and int(stats["tok_total"] or 0) == int(train_tok)
        )
        sec = round(_time.perf_counter() - t0, 3)
        _free_local_checkpoint(train)
        return {
            "sec": sec,
            "n_sel": int(n_sel),
            "split_total": int(sum(by_split.values())),
            "budget_ok": bool(budget_ok),
            "packs_ok": bool(packs_ok),
        }

    base = run(sf_dir, "base")
    big = run(scaled, "x10")
    return spark.createDataFrame(
        [
            (
                build_sec,
                base["sec"],
                big["sec"],
                base["n_sel"],
                big["n_sel"],
                bool(big["n_sel"] == base["n_sel"]),
                bool(
                    base["split_total"] == base["n_sel"]
                    and big["split_total"] == big["n_sel"]
                ),
                bool(base["budget_ok"] and big["budget_ok"]),
                bool(base["packs_ok"] and big["packs_ok"]),
                round(big["sec"] / base["sec"], 2) if base["sec"] > 0 else None,
            )
        ],
        "build_sec double, base_sec double, scaled_sec double, "
        "base_selected long, scaled_selected long, "
        "selection_scale_invariant boolean, splits_partition_exact boolean, "
        "budget_conserved boolean, packs_exact boolean, scaleup_factor double",
    )


@query("multimodal_scale_probe")
def multimodal_scale_probe(spark, sf_dir):
    """Bench-only perceptual near-dup tier at 10× (VERDICT r11 #9 —
    the multimodal scale story): image_near_dup_pairs' pigeonhole band
    join over a synthesized image-bytes corpus with PLANTED exact
    duplicates — 50k distinct payloads (singleton classes) at base, the
    SAME payloads at class size 10 at 10× (500k rows) — decode faked
    (the container has no image libs; the banded join, the thing being
    scaled, is real and identical under any decoder).

    In-band exact self-checks, closed-form by construction:
    * signature census — every class's signature count scales exactly
      ×10 (payloads are verbatim copies ⇒ identical dhashes);
    * pair count — scaled pairs == Σ C(10·c_i, 2) + 100·P_cross, where
      {c_i} is the BASE census (all 1s ⇒ Σ C(10,2) = 45·n_classes) and
      P_cross (cross-class pairs within hamming ≤ 3) is measured
      exactly at base as base_pairs − Σ C(c_i, 2) — the
      dedup_scale_probe closed-form device applied to perceptual
      signatures.
    What sf0.1 can't show: the (chunk, value) bucket join's exchange at
    2M bucket rows with 10-deep identical-signature classes (quadratic
    in-class candidate fan-out, ~2.25M verified pairs)."""
    return _multimodal_probe_impl(spark, n_classes=50_000)


def _multimodal_probe_impl(spark, n_classes: int):
    """multimodal_scale_probe's body with the corpus size injectable —
    tests/test_multimodal.py runs the same self-checks at n_classes=500."""
    import time as _time

    from pgdedupe_spark.operators.multimodal import image_dhash, image_near_dup_pairs

    def synth(copies: int, tag: str):
        n = n_classes * copies
        return (
            spark.range(n)
            .select(
                F.col("id").alias("media_id"),
                F.lit("image").alias("modality"),
                (F.col("id") % n_classes).alias("_key"),
            )
            .select(
                "media_id",
                "modality",
                # RAW md5 bytes (full 0-255 range): the fake dhash grids
                # column means of the byte stream, and hex-TEXT payloads
                # (16-char alphabet) collapse to a handful of signatures
                # — the first probe run measured 10.9M "pairs" from 50k
                # supposedly-distinct payloads. unhex makes the 72
                # column means effectively random per key.
                F.unhex(
                    F.concat(
                        *[
                            F.md5(
                                F.concat(
                                    F.col("_key").cast("string"), F.lit(f"-{i}")
                                )
                            )
                            for i in range(5)
                        ]
                    )
                ).alias("payload"),
            )
        )

    def census(media):
        rows = (
            image_dhash(media, mode="fake")
            .groupBy("dhash")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        return {int(r.dhash): int(r.c) for r in rows}

    t0 = _time.perf_counter()
    base_media = synth(1, "base")
    base_census = census(base_media)
    base_pairs = image_near_dup_pairs(base_media, max_hamming=3, mode="fake").count()
    base_sec = round(_time.perf_counter() - t0, 3)

    within_base = sum(c * (c - 1) // 2 for c in base_census.values())
    p_cross = base_pairs - within_base
    expected_scaled = (
        sum((10 * c) * (10 * c - 1) // 2 for c in base_census.values())
        + 100 * p_cross
    )

    t0 = _time.perf_counter()
    big_media = synth(10, "x10")
    big_census = census(big_media)
    big_pairs = image_near_dup_pairs(big_media, max_hamming=3, mode="fake").count()
    scaled_sec = round(_time.perf_counter() - t0, 3)

    census_exact = big_census == {h: 10 * c for h, c in base_census.items()}
    return spark.createDataFrame(
        [
            (
                base_sec,
                scaled_sec,
                int(base_pairs),
                int(big_pairs),
                int(p_cross),
                bool(census_exact),
                bool(big_pairs == expected_scaled),
                round(scaled_sec / base_sec, 2) if base_sec > 0 else None,
            )
        ],
        "base_sec double, scaled_sec double, base_pairs long, scaled_pairs long, "
        "cross_class_pairs long, census_exact_10x boolean, "
        "pairs_closed_form_exact boolean, scaleup_factor double",
    )


@query("cc_scale_probe")
def cc_scale_probe(spark, sf_dir):
    """Bench-only scale probe for the pipeline's single multi-round
    iterative operator (VERDICT r5 #5): weak connected components over a
    ~10M-edge synthetic graph (sf0.1) built as long chains — the
    worst-case high-diameter regime where a naive min-label propagation
    needs O(d) rounds and the pointer-doubling term must cut it to
    O(log d). chain length 512 → naive needs 511 rounds; the probe runs
    the real operator, self-checks every label against the chain's known
    min id, and reports the measured round count in-band so the bench
    artifact records both wall time AND the convergence behavior at a
    scale where the small-graph pytest pin could lie."""
    from pgdedupe_spark.operators.clustering import connected_components

    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    chain_len = 512
    n_chains = max(400, int(200_000 * sf))  # sf0.1 → 20k chains, 10.24M vertices
    n = n_chains * chain_len
    edges = (
        spark.range(n)
        .filter((F.col("id") % chain_len) != chain_len - 1)
        .select(F.col("id").alias("id1"), (F.col("id") + 1).alias("id2"))
    )
    labels, rounds = connected_components(edges, return_rounds=True)
    chain_min = F.col("id") - (F.col("id") % chain_len)
    return labels.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.count_distinct("component").alias("n_components"),
        F.sum((F.col("component") != chain_min).cast("long")).alias("mislabeled"),
        F.lit(rounds).cast("long").alias("rounds"),
    )


@query("pagerank_scale_probe")
def pagerank_scale_probe(spark, sf_dir):
    """Bench-only scale probe for the second iterative operator (VERDICT
    r7 #5, pattern: cc_scale_probe): exact-integer PageRank over a ~10M-
    edge synthetic graph (sf0.1) that combines the two adversarial
    regimes — BIPARTITE (every destination is a dangling sink, so the
    uniform-redistribution correction moves ~half the mass every round)
    and POWER-LAW in-degree (dst = half + floor(u²·half) concentrates
    edges on a few hub sinks — the skewed groupBy(dst) a web link graph
    produces). Self-checks ride in-band in the returned row:

    * mass conservation — total rank after 3 rounds must sit within the
      documented truncation bound (loss ≤ rounds·(E + 2V) integer units
      of the 10^12 scale; measured ~12.7M ≤ 36M at sf0.1),
    * top-20 stability — a SECOND full run must reproduce the top-20
      (vertex, rank) set exactly (integer arithmetic is order-free;
      any nondeterminism in the join/agg pipeline would flip low bits),
    * hub placement — the argmax vertex must be an upper-half sink
      (the planted power-law concentration actually shows in the ranks),
    * rounds — fixed 3 (hard cap, no tol), reported for the artifact."""
    from pgdedupe_spark.operators.graph import pagerank

    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    n_edges = max(500_000, int(100_000_000 * sf))  # sf0.1 → 10M edges
    n_verts = n_edges // 10
    half = n_verts // 2
    u = (
        F.pmod(F.xxhash64("id"), F.lit(1_000_000)).cast("double")
        / F.lit(1_000_000.0)
    )
    edges = spark.range(n_edges).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(half)).alias("src"),
        (F.lit(half) + (u * u * F.lit(float(half))).cast("long")).alias("dst"),
    )
    scale = 10**12
    r1 = pagerank(edges, iterations=3, scale=scale)
    r2 = pagerank(edges, iterations=3, scale=scale)
    top1 = r1.orderBy(F.desc("r"), "v").limit(20)
    top2 = r2.orderBy(F.desc("r"), "v").limit(20)
    stable = top1.join(top2, ["v", "r"]).agg(
        F.count(F.lit(1)).alias("top20_stable")
    )
    hub = top1.orderBy(F.desc("r"), "v").limit(1).select(
        (F.col("v") >= half).alias("hub_is_upper_sink")
    )
    summary = r1.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum("r").alias("total_mass"),
    ).withColumn(
        "mass_floor", F.lit(scale - 3 * (n_edges + 2 * n_verts)).cast("long")
    ).withColumn(
        "mass_ok",
        (F.col("total_mass") >= F.col("mass_floor"))
        & (F.col("total_mass") <= F.lit(scale)),
    ).withColumn("rounds", F.lit(3).cast("long"))
    return summary.crossJoin(stable).crossJoin(hub)


@query("ann_pq_stress")  # bench-only: synthetic corpus, no parquet input
def ann_pq_stress(spark, sf_dir):
    """IVFADC stress probe (VERDICT r5 #6): the full persisted-PQ serving
    composition — codebook train, coarse assign, encode, cell=-partitioned
    codes write, then ADC top-k through the persisted index — on a
    hash-synthesized corpus 20× the driver's embeddings table (100k
    vectors at sf0.1, 64-dim, planted near-duplicates every 10th vector).
    At this size the codes-only-scan claim is measured in a regime where
    it matters: 64 coarse cells hold ~1.5k codes each and the 8-probe scan
    reads ~12% of the corpus as 16-byte codes, not 256-byte raw vectors.
    Planted-pair recall for this exact configuration is pinned in
    tests/test_recall.py::test_pq_stress_planted_recall."""
    from pgdedupe_spark.corpus import hash_embeddings
    from pgdedupe_spark.operators.similarity import pq_topk_from_index, write_pq_index

    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    n_vecs = max(5_000, int(1_000_000 * sf))
    emb = hash_embeddings(spark, n_vecs=n_vecs, dim=64)
    path = _serve_index_path(sf_dir, "pq_stress")
    write_pq_index(
        emb, "vec_id", "embedding", path, dim=64, m=16, ksub=32, n_centroids=64
    )
    return pq_topk_from_index(
        spark, path, emb, "vec_id", "embedding", k=5, n_probe=8, refine=8,
        query_filter=f"vec_id % {max(1, n_vecs // 50)} = 1 AND vec_id > 0",
    )


@query(
    "stats_validate",
    oracle="""
    WITH v AS (
      SELECT 'not_null' AS rule, 'o_custkey' AS col,
             CAST(coalesce(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS violations
      FROM orders
      UNION ALL
      SELECT 'unique', 'o_orderkey',
             CAST(coalesce(SUM(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END), 0)
                  - COUNT(DISTINCT o_orderkey) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'in_range', 'o_totalprice',
             CAST(coalesce(SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 100000 THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'in_set', 'o_orderstatus',
             CAST(coalesce(SUM(CASE WHEN o_orderstatus IS NOT NULL
                                     AND o_orderstatus NOT IN ('O', 'F') THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'matches', 'o_orderpriority',
             CAST(coalesce(SUM(CASE WHEN o_orderpriority IS NOT NULL
                                     AND NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'foreign_key', 'o_custkey',
             CAST((SELECT count(*) FROM orders o
                   WHERE o.o_custkey IS NOT NULL
                     AND NOT EXISTS (SELECT 1 FROM customer c
                                     WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    )
    SELECT rule, col AS "column", violations, violations = 0 AS passed FROM v
    """,
)
def stats_validate(spark, sf_dir):
    """The declarative data-quality gate (operators/quality.py) under the
    hard signal (VERDICT r5 #8): six rule kinds over `orders` — key
    non-null, key unique, price range, closed status domain, priority
    format, and customer referential integrity. The rule set is chosen so
    two rules REALLY fail on this data (in_range: prices above 100k;
    in_set: status 'P' excluded), proving the gate counts violations
    rather than rubber-stamping. One aggregation pass for the five
    row-local rules + one broadcast anti-join for the FK — the exact plan
    a 100 TB pre-tokenization contract check needs."""
    from pgdedupe_spark.operators.quality import validate_table

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return validate_table(
        orders,
        [
            {"rule": "not_null", "col": "o_custkey"},
            {"rule": "unique", "col": "o_orderkey"},
            {"rule": "in_range", "col": "o_totalprice", "min": 0, "max": 100000},
            {"rule": "in_set", "col": "o_orderstatus", "values": ["O", "F"]},
            {"rule": "matches", "col": "o_orderpriority", "pattern": "^[1-5]-"},
            {"rule": "foreign_key", "col": "o_custkey", "ref": customer, "ref_col": "c_custkey"},
        ],
    )


@query(
    "events_attribution_outer",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id AS click_id, epoch_us(ts) AS click_us
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS purchase_us,
             value AS amount
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, purchase_id, click_id, purchase_us, click_us, amount
    FROM p LEFT JOIN c ON c.user_id = p.user_id
     AND click_us < purchase_us
     AND click_us >= purchase_us - 3600000000
    """,
)
def events_attribution_outer(spark, sf_dir):
    """LEFT OUTER attribution: every purchase, with NULL click columns
    when no click preceded it within the hour — the batch twin of the
    stream-stream outer join (streaming/ops.py
    purchase_attribution_outer_stream; parity pinned in
    tests/test_streaming.py, where the stream's end-of-stream watermark
    caveat is also documented). Same hash-join shape as
    `events_attribution` with NULL-extension; the unmatched-purchase
    rows are exactly the "conversion without marketing touch" set a
    funnel analysis needs. Promoted into the r7 driver window (VERDICT
    r6 #3) — first driver row hash-matched in CORRECTNESS_r07; full
    DuckDB coverage via tests/test_oracle.py."""
    ev = _events(spark, sf_dir)
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts_us").alias("click_us"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts_us").alias("purchase_us"),
        F.col("value").alias("amount"),
    )
    return (
        p.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("click_us") < F.col("purchase_us"))
            & (F.col("click_us") >= F.col("purchase_us") - F.lit(3_600_000_000)),
            "left",
        )
        .select("user_id", "purchase_id", "click_id", "purchase_us", "click_us", "amount")
    )


@query(
    "text_heavy_hitters",
    oracle="""
    WITH tok AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
      FROM documents
    ), c AS (
      SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
    )
    SELECT token, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS rank
    FROM c
    QUALIFY rank <= 20
    """,
)
def text_heavy_hitters(spark, sf_dir):
    """Top-20 corpus tokens through the Misra–Gries mergeable-summary
    layer (operators/sketches.py heavy_hitters, new r7) with the exact
    second pass on — per-partition capacity-bounded summaries propose
    candidates, a broadcast semi join counts only those, so the
    rare-token long tail never crosses the shuffle. The oracle is the
    plain SQL top-k with the same deterministic tie-break (count desc,
    token asc): with exact=True the operator owes EXACT equality
    whenever the k-th count clears the summed decrement bound (pinned
    adversarially on a Zipfian vocabulary in tests/test_sketches.py).
    Registered PYTEST_ONLY from birth — the driver's 100-query window is
    full; full DuckDB coverage rides tests/test_oracle.py."""
    from pgdedupe_spark.operators.sketches import heavy_hitters

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("token")
    )
    return heavy_hitters(toks, "token", k=20, capacity=1024).withColumnRenamed(
        "count", "cnt"
    )


@query("bpe_encode_probe")  # bench-only: trains a vocab + tokenizes the corpus
def bpe_encode_probe(spark, sf_dir):
    """Bench probe for the BPE tokenizer family (operators/bpe.py, new
    r7): train 200 merges on the documents word-frequency table (one
    shuffle + bounded collect) then tokenize the full corpus through the
    scan-local encode and reduce to corpus totals — wall time measures
    the two passes a real tokenization sweep pays. Correctness is pinned
    in tests/test_bpe.py against an independent reference; the bench row
    exists so encode throughput is a tracked number, not a guess."""
    from pgdedupe_spark.operators.bpe import bpe_encode, train_bpe

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe(docs, "text", n_merges=200, max_words=20_000)
    enc = bpe_encode(docs, "doc_id", "text", merges)
    return enc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.lit(len(merges)).cast("long").alias("n_merges"),
    )


@query("unigram_encode_probe")  # bench-only: trains a vocab + tokenizes
def unigram_encode_probe(spark, sf_dir):
    """Bench probe for the unigram-LM (SentencePiece-style) tokenizer
    (operators/unigram.py, new r11 — VERDICT r10 #7): learn a
    400-piece vocabulary on the documents word-frequency table (one
    shuffle + bounded collect + driver EM/prune loop) then tokenize the
    full corpus through the scan-local Viterbi encode and reduce to
    corpus totals — the two passes a real tokenization sweep pays.
    Correctness is pinned in tests/test_unigram.py against an
    independent brute-force segmenter; the encode plan is pinned
    Exchange-free there too."""
    from pgdedupe_spark.operators.unigram import train_unigram, unigram_encode

    docs = _t(spark, sf_dir, "documents")
    model = train_unigram(docs, "text", vocab_size=400, max_words=20_000)
    enc = unigram_encode(docs, "doc_id", "text", model)
    return enc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.lit(len(model)).cast("long").alias("vocab_size"),
    )


@query(
    "dedup_incremental_exact",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
      FROM documents
    ), batch AS (
      SELECT doc_id + 1000000 AS doc_id,
             regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
      FROM documents WHERE source = 'src0'
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id,
             regexp_replace(trim(lower(text || ' novel suffix')), '\\s+', ' ', 'g') AS norm
      FROM documents WHERE source = 'src1'
    ), m AS (
      SELECT norm, min(doc_id) AS corpus_id FROM corpus GROUP BY norm
    )
    SELECT b.doc_id, m.corpus_id IS NOT NULL AS is_dup, m.corpus_id
    FROM batch b LEFT JOIN m ON b.norm = m.norm
    """,
)
def dedup_incremental_exact(spark, sf_dir):
    """Bloom-screened incremental EXACT dedup (dedup.incremental_exact_flags
    + sketches.bloom_build, new r7): a new batch — every src0 doc
    verbatim (guaranteed duplicates) plus every src1 doc with a novel
    suffix (guaranteed new) — is flagged against the standing documents
    corpus. The mergeable corpus-key Bloom filter screens the batch
    scan-locally so only maybe-duplicate rows enter the exact confirm
    join; no false negatives + exact confirmation ⇒ the result equals
    the oracle's plain LEFT JOIN bit-for-bit, which is why this row gets
    a FULL hash oracle (unlike the approximate dedup family). Promoted
    into the r11 driver window in r10 (VERDICT r9 #10) after riding
    tests/test_oracle.py since birth."""
    from pgdedupe_spark.operators.dedup import incremental_exact_flags

    docs = _t(spark, sf_dir, "documents")
    batch = (
        docs.filter(F.col("source") == "src0")
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        .unionByName(
            docs.filter(F.col("source") == "src1").select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" novel suffix")).alias("text"),
            )
        )
    )
    return incremental_exact_flags(docs, batch, "doc_id", "text")


@query(
    "text_bm25_topk",
    oracle="""
    WITH d AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ), dl AS (
      SELECT doc_id, len(t) AS dl, t FROM d
    ), stats AS (
      SELECT COUNT(*) AS n, SUM(dl) AS sumdl FROM dl
    ), tf AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf
      FROM (SELECT doc_id, dl, unnest(t) AS term FROM dl)
      WHERE term IN ('join', 'window', 'merge')
      GROUP BY doc_id, dl, term
    ), dft AS (
      SELECT term, COUNT(*) AS dfd FROM tf GROUP BY term
    ), contrib AS (
      SELECT doc_id,
             CAST(
               ln(1.0 + (CAST(n AS DOUBLE) - CAST(dfd AS DOUBLE) + 0.5)
                        / (CAST(dfd AS DOUBLE) + 0.5))
               * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
                  / (CAST(tf AS DOUBLE)
                     + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE)
                                           * CAST(n AS DOUBLE)
                                           / CAST(sumdl AS DOUBLE))))
             AS DECIMAL(18,8)) AS c
      FROM tf JOIN dft USING (term) CROSS JOIN stats
    ), s AS (
      SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS score, COUNT(*) AS n_hits
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, score, n_hits, rank FROM (
      SELECT *, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
                  AS rank
      FROM s
    ) WHERE rank <= 10
    """,
)
def text_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-10 for a fixed 3-term query over `documents`
    (operators/retrieval.bm25_topk, new r7) — the sparse half of the
    RAG retrieval pair. The per-term explode filters to the query's
    terms BEFORE the shuffle (the exchange carries corpus HITS, not
    corpus tokens); N/avgdl and the per-term document frequencies are
    broadcast. Per-(doc,term) contributions round through DECIMAL(18,8)
    in both engines so the summed score hash-matches the oracle (the
    d4_pair_scores libm-boundary device). Registered PYTEST_ONLY from
    birth — window full; full DuckDB coverage via tests/test_oracle.py."""
    from pgdedupe_spark.operators.retrieval import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        ["join", "window", "merge"],
        k=10,
    )


@query(
    "hybrid_search_rrf",
    oracle="""
    WITH d AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ), dl AS (
      SELECT doc_id, len(t) AS dl, t FROM d
    ), stats AS (
      SELECT COUNT(*) AS n, SUM(dl) AS sumdl FROM dl
    ), tf AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf
      FROM (SELECT doc_id, dl, unnest(t) AS term FROM dl)
      WHERE term IN ('join', 'window', 'merge')
      GROUP BY doc_id, dl, term
    ), dft AS (
      SELECT term, COUNT(*) AS dfd FROM tf GROUP BY term
    ), contrib AS (
      SELECT doc_id,
             CAST(
               ln(1.0 + (CAST(n AS DOUBLE) - CAST(dfd AS DOUBLE) + 0.5)
                        / (CAST(dfd AS DOUBLE) + 0.5))
               * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
                  / (CAST(tf AS DOUBLE)
                     + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE)
                                           * CAST(n AS DOUBLE)
                                           / CAST(sumdl AS DOUBLE))))
             AS DECIMAL(18,8)) AS c
      FROM tf JOIN dft USING (term) CROSS JOIN stats
    ), bm25 AS (
      SELECT doc_id, rank FROM (
        SELECT doc_id,
               CAST(row_number() OVER (
                 ORDER BY CAST(SUM(c) AS DOUBLE) DESC, doc_id) AS INT) AS rank
        FROM contrib GROUP BY doc_id
      ) WHERE rank <= 20
    ), q AS (
      SELECT list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id = 0
    ), c2 AS (
      SELECT vec_id AS doc_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS cv
      FROM embeddings
    ), dense AS (
      SELECT doc_id, rank FROM (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS INT)
                 AS rank
        FROM (
          SELECT doc_id,
                 list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(cv, cv))) AS sim
          FROM q, c2 WHERE doc_id <> 0
        )
      ) WHERE rank <= 20
    ), u AS (
      SELECT doc_id, CAST(1.0 / (60 + CAST(rank AS DOUBLE)) AS DECIMAL(18,12))
               AS rr
      FROM bm25
      UNION ALL
      SELECT doc_id, CAST(1.0 / (60 + CAST(rank AS DOUBLE)) AS DECIMAL(18,12))
               AS rr
      FROM dense
    ), fused AS (
      SELECT doc_id, CAST(SUM(rr) AS DOUBLE) AS rrf_score,
             COUNT(*) AS n_sources
      FROM u GROUP BY doc_id
    )
    SELECT doc_id, rrf_score, n_sources, rank FROM (
      SELECT *, CAST(row_number() OVER (
                  ORDER BY rrf_score DESC, n_sources DESC, doc_id) AS INT)
                  AS rank
      FROM fused
    ) WHERE rank <= 10
    """,
)
def hybrid_search_rrf(spark, sf_dir):
    """Hybrid first-stage retrieval (operators/retrieval.rrf_fuse, new
    r7): BM25 top-20 over `documents` fused with exact-cosine top-20
    dense neighbors of the vec_id=0 embedding (doc_id aligns with
    vec_id in the driver tables) by reciprocal-rank fusion, 1/(60+rank)
    addends through DECIMAL(18,12). Every stage has a deterministic
    id tie-break, so the fused top-10 hash-matches the oracle exactly.
    The fusion's cost is O(list lengths) — corpus scale lives entirely
    in the two upstream rankers (BM25's hit-bounded exchange, ANN's
    bucketed indexes). Promoted into the r11 driver window in r10
    (VERDICT r9 #10) after riding tests/test_oracle.py since birth."""
    from pgdedupe_spark.operators.retrieval import bm25_topk, rrf_fuse
    from pgdedupe_spark.operators.similarity import cosine_topk

    docs = _t(spark, sf_dir, "documents")
    sparse = bm25_topk(docs, "doc_id", "text", ["join", "window", "merge"], k=20)
    dense = cosine_topk(
        _t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        k=20,
        query_filter="vec_id = 0",
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse(
        [sparse.select("doc_id", "rank"), dense], "doc_id", topk=10
    )


@query(
    "j13_scd2_intervals",
    oracle="""
    SELECT event_id, user_id, event_type, value, props,
           epoch_us(ts) AS valid_from,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts)) AS valid_to,
           (lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts)) IS NULL)
             AS is_current
    FROM events
    """,
)
def j13_scd2_intervals(spark, sf_dir):
    """SCD Type-2 dimension build (operators/merge.scd2_from_changes,
    new r7): the events feed as per-user change history — each change
    opens a half-open validity interval [valid_from, valid_to) closed by
    the key's next change; the open-ended row is flagged is_current.
    This is the history-keeping complement of the SCD1 merge_upsert /
    apply_cdc family, and the dimension shape temporal.asof-style
    point-in-time joins probe. One window per dimension key (a single
    hash exchange; partition bound = per-key churn). (user_id, ts) is
    unique in the feed, satisfying the op's change-per-row contract.
    Registered PYTEST_ONLY from birth — window full; full DuckDB
    coverage via tests/test_oracle.py."""
    from pgdedupe_spark.operators.merge import scd2_from_changes

    ev = _events(spark, sf_dir)
    return scd2_from_changes(ev, ["user_id"], "ts_us")


@query(
    "sample_weighted",
    oracle="""
    WITH s AS (
      SELECT doc_id, source, n_chars,
             CAST(
               ln(CAST(CAST(concat('0x',
                      substr(md5('es0:' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS UBIGINT) + 1 AS DOUBLE) / 4294967297.0)
               / CAST(n_chars AS DOUBLE)
             AS DECIMAL(38,18)) AS es_key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars, sample_rank FROM (
      SELECT doc_id, source, n_chars,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY es_key DESC, doc_id) AS INT)
               AS sample_rank
      FROM s
    ) WHERE sample_rank <= 20
    """,
)
def sample_weighted(spark, sf_dir):
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis A-ES; curation.weighted_sample, new r7): top-20 docs per
    source with inclusion odds proportional to n_chars — the
    length-weighted corpus draw a mixture recipe actually wants, vs the
    uniform quota_sample. u comes from the same engine-portable
    md5-u32 uniform as weighted_mix/corpus_split and the ln(u)/w key
    rounds through DECIMAL(38,18), so the draw hash-matches the DuckDB
    oracle exactly. Registered PYTEST_ONLY from birth — window full;
    full DuckDB coverage via tests/test_oracle.py."""
    from pgdedupe_spark.operators.curation import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(
        docs, "doc_id", "n_chars", k=20, group_col="source"
    ).select("doc_id", "source", "n_chars", "sample_rank")


@query(
    "text_script_profile",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             coalesce(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')), 0) AS n_latin,
             coalesce(length(text) - length(regexp_replace(text, '[Ѐ-ӿ]', '', 'g')), 0) AS n_cyrillic,
             coalesce(length(text) - length(regexp_replace(text, '[Ͱ-Ͽ]', '', 'g')), 0) AS n_greek,
             coalesce(length(text) - length(regexp_replace(text, '[؀-ۿ]', '', 'g')), 0) AS n_arabic,
             coalesce(length(text) - length(regexp_replace(text, '[一-鿿぀-ヿ가-힯]', '', 'g')), 0) AS n_cjk,
             coalesce(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')), 0) AS n_digit
      FROM documents
    )
    SELECT doc_id, n_latin, n_cyrillic, n_greek, n_arabic, n_cjk, n_digit,
           CASE
             WHEN n_latin + n_cyrillic + n_greek + n_arabic + n_cjk + n_digit = 0
               THEN 'none'
             WHEN n_latin >= GREATEST(n_cyrillic, n_greek, n_arabic, n_cjk, n_digit)
               THEN 'latin'
             WHEN n_cyrillic >= GREATEST(n_greek, n_arabic, n_cjk, n_digit)
               THEN 'cyrillic'
             WHEN n_greek >= GREATEST(n_arabic, n_cjk, n_digit) THEN 'greek'
             WHEN n_arabic >= GREATEST(n_cjk, n_digit) THEN 'arabic'
             WHEN n_cjk >= n_digit THEN 'cjk'
             ELSE 'digit'
           END AS dominant_script
    FROM c
    """,
)
def text_script_profile(spark, sf_dir):
    """Per-document writing-script profile (text.script_profile, new r7):
    character counts per script family + the dominant script — the
    cheapest "wrong language / mojibake" reject, upstream of the n-gram
    language_id. Pure codegen length-difference counting, one
    projection, no shuffle; the dominant pick is a greatest-of-structs
    whose tie order the oracle mirrors as a cascading CASE. Multilingual
    behavior is pinned on fixture text in tests/test_extensions.py (the
    driver corpus is ASCII). Registered PYTEST_ONLY from birth — window
    full; full DuckDB coverage via tests/test_oracle.py."""
    from pgdedupe_spark.operators.text import script_profile

    return script_profile(_t(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "pipeline_corpus_curation",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text, source, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text, source, n_chars
      FROM documents WHERE source = 'src0'
    ), t AS (
      SELECT doc_id, text, source, n_chars,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
               AS n_tokens,
             CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT)
               AS n_punct
      FROM corpus
    ), good AS (
      SELECT doc_id, text, source, n_chars FROM t
      WHERE n_tokens >= 10 AND n_punct * 2 < n_tokens
        AND CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
            / greatest(n_tokens, 1) < 12
    ), uniq AS (
      SELECT doc_id, source, n_chars FROM (
        SELECT doc_id, source, n_chars,
               min(doc_id) OVER (
                 PARTITION BY regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')
               ) AS canon
        FROM good
      ) WHERE doc_id = canon
    ), s AS (
      SELECT doc_id, source, n_chars,
             CAST(
               ln(CAST(CAST(concat('0x',
                      substr(md5('es0:' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS UBIGINT) + 1 AS DOUBLE) / 4294967297.0)
               / CAST(n_chars AS DOUBLE)
             AS DECIMAL(38,18)) AS es_key
      FROM uniq WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars, sample_rank FROM (
      SELECT doc_id, source, n_chars,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY es_key DESC, doc_id) AS INT)
               AS sample_rank
      FROM s
    ) WHERE sample_rank <= 10
    """,
)
def pipeline_corpus_curation(spark, sf_dir):
    """Composed corpus-curation pipeline, end-to-end under one hash
    oracle (the curation sibling of pipeline_entity_map): Gopher-style
    quality gate (text.text_stats quality_ok) → exact-dedup canonical
    keep (min id per normalized text; the self-union plants real
    duplicates) → length-weighted A-ES draw of 10 docs per source
    (curation.weighted_sample). Every stage is a previously-verified
    operator; this row pins that they COMPOSE — column contracts,
    dedup-before-sampling ordering, and determinism all the way through.
    Promoted into the r11 driver window in r10 (VERDICT r9 #10) after
    riding tests/test_oracle.py since birth."""
    from pyspark.sql import Window as W

    from pgdedupe_spark.operators.curation import weighted_sample
    from pgdedupe_spark.operators.dedup import normalize_text
    from pgdedupe_spark.operators.text import text_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source", "n_chars")
    corpus = docs.unionByName(
        docs.filter(F.col("source") == "src0").withColumn(
            "doc_id", F.col("doc_id") + 1000000
        )
    )
    stats = text_stats(corpus, "doc_id", "text").select("doc_id", "quality_ok")
    good = corpus.join(stats, "doc_id").filter(F.col("quality_ok"))
    uniq = (
        good.withColumn(
            "_canon",
            F.min("doc_id").over(W.partitionBy(normalize_text(F.col("text")))),
        )
        .filter(F.col("doc_id") == F.col("_canon"))
        .select("doc_id", "source", "n_chars")
    )
    return weighted_sample(uniq, "doc_id", "n_chars", k=10, group_col="source").select(
        "doc_id", "source", "n_chars", "sample_rank"
    )


@query(
    "j14_snapshot_diff",
    oracle="""
    WITH snap_old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
    ), snap_new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             o_totalprice
               + CASE WHEN o_orderkey % 2 = 0 THEN 1.0 ELSE 0.0 END
               AS o_totalprice
      FROM orders WHERE o_orderkey % 5 <> 0
    ), j AS (
      SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
             o.o_orderkey IS NOT NULL AS in_old,
             n.o_orderkey IS NOT NULL AS in_new,
             list_filter([
               CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                    THEN 'o_orderstatus' END,
               CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                    THEN 'o_totalprice' END
             ], x -> x IS NOT NULL) AS diffs,
             n.o_orderstatus AS new_o_orderstatus,
             n.o_totalprice AS new_o_totalprice
      FROM snap_old o FULL OUTER JOIN snap_new n
        ON o.o_orderkey = n.o_orderkey
    )
    SELECT o_orderkey,
           CASE WHEN NOT in_old THEN 'added'
                WHEN NOT in_new THEN 'removed'
                ELSE 'changed' END AS change_type,
           CASE WHEN in_old AND in_new
                THEN array_to_string(list_sort(diffs), ',')
                ELSE '' END AS changed_cols,
           new_o_orderstatus, new_o_totalprice
    FROM j
    WHERE NOT (in_old AND in_new AND len(diffs) = 0)
    """,
)
def j14_snapshot_diff(spark, sf_dir):
    """Snapshot reconciliation (merge.snapshot_diff, new r7): diff two
    versions of `orders` — the inverse of the MERGE/CDC family, it
    RECOVERS a change set (added/removed/changed + per-column
    changed_cols) from two snapshots instead of applying one. The two
    versions are derived deterministically from the same table (rows
    %7/%5 dropped to plant adds+removes; status/price perturbed on
    %3/%2 to plant per-column changes incl. both-columns rows) so both
    engines see identical inputs. One full-outer equi-join on the key,
    IS DISTINCT FROM semantics per column. changed_cols is stringified
    (sorted, comma-joined) at this query boundary only — the driver's
    canonicalizer cannot hash array columns (CORRECTNESS_r01 incident);
    merge.snapshot_diff keeps returning array<string> for API users.
    Promoted to the r8 driver window (commit 3019265)."""
    from pgdedupe_spark.operators.merge import snapshot_diff

    orders = _t(spark, sf_dir, "orders")
    snap_old = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snap_new = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 2 == 0, F.lit(1.0)).otherwise(F.lit(0.0))
        ).alias("o_totalprice"),
    )
    return snapshot_diff(snap_old, snap_new, ["o_orderkey"]).select(
        "o_orderkey",
        "change_type",
        F.array_join(F.array_sort("changed_cols"), ",").alias("changed_cols"),
        "new_o_orderstatus",
        "new_o_totalprice",
    )


@query(
    "graph_pagerank",
    oracle="""
    WITH e AS (
      SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), verts AS (
      SELECT src AS v FROM e UNION SELECT dst FROM e
    ), nn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM verts
    ), deg AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src
    ), r0 AS (
      SELECT v, CAST(1000000000000 AS BIGINT) // (SELECT n FROM nn) AS r
      FROM verts
    ), c1 AS (
      SELECT e.dst AS v, SUM(r.r // d.deg) AS c
      FROM e JOIN r0 r ON e.src = r.v JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ), d1 AS (
      SELECT coalesce(SUM(r.r), 0) AS m
      FROM r0 r LEFT JOIN deg d ON r.v = d.src WHERE d.src IS NULL
    ), r1 AS (
      SELECT v.v,
             (CAST(15 AS BIGINT) * CAST(1000000000000 AS BIGINT))
               // (CAST(100 AS BIGINT) * (SELECT n FROM nn))
             + (CAST(85 AS BIGINT)
                * (coalesce(c.c, 0) + (SELECT m FROM d1) // (SELECT n FROM nn)))
               // CAST(100 AS BIGINT) AS r
      FROM verts v LEFT JOIN c1 c ON v.v = c.v
    ), c2 AS (
      SELECT e.dst AS v, SUM(r.r // d.deg) AS c
      FROM e JOIN r1 r ON e.src = r.v JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ), d2 AS (
      SELECT coalesce(SUM(r.r), 0) AS m
      FROM r1 r LEFT JOIN deg d ON r.v = d.src WHERE d.src IS NULL
    ), r2 AS (
      SELECT v.v,
             (CAST(15 AS BIGINT) * CAST(1000000000000 AS BIGINT))
               // (CAST(100 AS BIGINT) * (SELECT n FROM nn))
             + (CAST(85 AS BIGINT)
                * (coalesce(c.c, 0) + (SELECT m FROM d2) // (SELECT n FROM nn)))
               // CAST(100 AS BIGINT) AS r
      FROM verts v LEFT JOIN c2 c ON v.v = c.v
    ), c3 AS (
      SELECT e.dst AS v, SUM(r.r // d.deg) AS c
      FROM e JOIN r2 r ON e.src = r.v JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ), d3 AS (
      SELECT coalesce(SUM(r.r), 0) AS m
      FROM r2 r LEFT JOIN deg d ON r.v = d.src WHERE d.src IS NULL
    ), r3 AS (
      SELECT v.v,
             (CAST(15 AS BIGINT) * CAST(1000000000000 AS BIGINT))
               // (CAST(100 AS BIGINT) * (SELECT n FROM nn))
             + (CAST(85 AS BIGINT)
                * (coalesce(c.c, 0) + (SELECT m FROM d3) // (SELECT n FROM nn)))
               // CAST(100 AS BIGINT) AS r
      FROM verts v LEFT JOIN c3 c ON v.v = c.v
    )
    SELECT v AS vertex_id, CAST(r AS BIGINT) AS rank_scaled FROM r3
    """,
)
def graph_pagerank(spark, sf_dir):
    """Link-graph authority scoring (graph.pagerank, new r7): 3 damped
    PageRank iterations over the customer→supplier trade graph (orders ⋈
    lineitem, distinct edges; suppliers offset into their own id space).
    Exact-integer contract: ranks are BIGINT micro-units (scale 10^12)
    and every update is truncating `div` + BIGINT sums, so the run
    hash-matches this unrolled 3-iteration oracle bit-for-bit — a
    floating-point PageRank could not (partial-agg order flips low
    bits). Suppliers are all dangling (no out-edges), so the
    uniform-redistribution correction is exercised on every row, and the
    bipartite shape makes ranks genuinely non-uniform (customer fan-out
    varies). Promoted to the r8 driver window (commit 3019265); full
    DuckDB coverage via tests/test_oracle.py."""
    from pgdedupe_spark.operators.graph import pagerank

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
        .distinct()
    )
    return pagerank(edges, iterations=3).select(
        F.col("v").alias("vertex_id"), F.col("r").alias("rank_scaled")
    )


@query(
    "stats_robust_outliers",
    oracle="""
    WITH med AS (
      SELECT source, quantile_cont(n_chars, 0.5) AS group_median
      FROM documents GROUP BY source
    ), dev AS (
      SELECT d.doc_id, d.source, d.n_chars, m.group_median,
             d.n_chars - m.group_median AS sd,
             abs(d.n_chars - m.group_median) AS ad
      FROM documents d JOIN med m USING (source)
    ), mad AS (
      SELECT source, quantile_cont(ad, 0.5) AS group_mad
      FROM dev GROUP BY source
    )
    SELECT doc_id, source, n_chars, group_median, group_mad,
           CASE WHEN group_mad = 0 THEN NULL
                ELSE sd / (1.4826 * group_mad) END AS robust_z,
           ad > 2.5 * 1.4826 * group_mad AS is_outlier
    FROM dev JOIN mad USING (source)
    """,
)
def stats_robust_outliers(spark, sf_dir):
    """Robust per-source length-outlier flags (stats.robust_outlier_flags,
    new r7): median/MAD gating of documents.n_chars per source — the
    resistant replacement for mean±kσ quality filters. robust_z is
    SIGNED (ADVICE r7) so the tail direction survives; exact
    interpolating percentiles keep every statistic a representable
    double, so the whole row (median, MAD, z, flag) hash-matches the
    DuckDB oracle. k=2.5 so real rows flag on the driver corpus.
    PYTEST_ONLY (window full); full DuckDB coverage via
    tests/test_oracle.py."""
    from pgdedupe_spark.operators.stats import robust_outlier_flags

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return robust_outlier_flags(docs, "n_chars", ["source"], k=2.5)


@query(
    "events_trending",
    oracle="""
    WITH expanded AS (
      SELECT date_trunc('hour', e.ts) - i.i * INTERVAL 1 HOUR AS win_start,
             e.event_type
      FROM events e CROSS JOIN (SELECT unnest(range(2)) AS i) i
    ), counts AS (
      SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS n_events
      FROM expanded GROUP BY win_start, event_type
    )
    SELECT win_start, event_type, n_events, rk FROM (
      SELECT win_start, event_type, n_events,
             CAST(row_number() OVER (
               PARTITION BY win_start
               ORDER BY n_events DESC, event_type) AS INT) AS rk
      FROM counts
    ) WHERE rk <= 3
    """,
)
def events_trending(spark, sf_dir):
    """Trending types per sliding window (streaming.sliding_rollup_stream
    batch twin + trending_topk, new r7): 2-hour windows sliding hourly,
    top-3 event types per window by count. Spark's native sliding
    F.window expands each event into width/slide windows; the oracle
    mirrors the expansion as an explicit 2-row cross join on
    epoch-aligned hour truncation — pinning that the two agree on
    window assignment exactly. Streaming parity for the window counts
    is pinned in tests/test_streaming.py. Registered PYTEST_ONLY from
    birth — window full; full DuckDB coverage via tests/test_oracle.py."""
    from pgdedupe_spark.streaming.ops import trending_topk

    ev = _t(spark, sf_dir, "events")
    counts = (
        ev.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("win_start"), "event_type", "n_events")
    )
    return trending_topk(counts, k=3)


from pgdedupe_spark.operators.text import url_domain_regex as _url_domain_regex  # noqa: E402

_DOM_RE = _url_domain_regex()


@query(
    "text_url_profile",
    oracle=f"""
    WITH urls AS (
      SELECT doc_id,
        CASE CAST(doc_id % 6 AS INT)
          WHEN 0 THEN 'https://www.example' || CAST(doc_id % 3 AS VARCHAR)
                      || '.com/p/' || CAST(doc_id AS VARCHAR)
          WHEN 1 THEN 'https://blog.sample.co.uk/a/' || CAST(doc_id AS VARCHAR)
          WHEN 2 THEN 'http://cdn.assets.example0.com:8080/x'
          WHEN 3 THEN 'https://user@files.archive.org.uk:444/d/'
                      || CAST(doc_id AS VARCHAR)
          WHEN 4 THEN 'ftp://mirror.data.ne.jp/pub'
          ELSE 'not a url ' || CAST(doc_id AS VARCHAR)
        END AS url
      FROM documents
    ), parsed AS (
      SELECT doc_id,
        nullif(regexp_extract(lower(url), '^([a-z][a-z0-9+.-]*)://', 1), '')
          AS scheme,
        regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) AS auth
      FROM urls
    ), hostp AS (
      SELECT doc_id, scheme,
        nullif(regexp_extract(auth, '^(?:[^@]*@)?([^:]*)', 1), '') AS host,
        CAST(nullif(regexp_extract(auth, ':([0-9]+)$', 1), '') AS INT) AS port
      FROM parsed
    )
    SELECT
      coalesce(nullif(regexp_extract(host, '{_DOM_RE}', 1), ''), '(invalid)')
        AS domain,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
      CAST(sum(CASE WHEN port IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_with_port,
      CAST(count(DISTINCT scheme) AS BIGINT) AS n_schemes
    FROM hostp
    GROUP BY 1
    """,
)
def text_url_profile(spark, sf_dir):
    """Per-registered-domain corpus profile (text.url_parse +
    domain_profile, new r7): URLs synthesized deterministically from
    doc_id cover the parse matrix — plain hosts, a multi-part public
    suffix (co.uk/org.uk/ne.jp), an explicit port, userinfo, a non-http
    scheme, and malformed strings (NULL-domain reject group). The
    oracle mirrors the exact extraction regexes (Java and RE2 agree on
    these anchored leftmost-first patterns — that agreement is what
    this row pins) over lower(url) — scheme/host are case-insensitive
    per RFC 3986 (ADVICE r7) — then the same keyed rollup. PYTEST_ONLY
    (window full); full DuckDB coverage via tests/test_oracle.py."""
    from pgdedupe_spark.operators.text import domain_profile

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = (F.col("doc_id") % 6).cast("int")
    did = F.col("doc_id").cast("string")
    url = (
        F.when(m == 0, F.concat(F.lit("https://www.example"),
                                (F.col("doc_id") % 3).cast("string"),
                                F.lit(".com/p/"), did))
        .when(m == 1, F.concat(F.lit("https://blog.sample.co.uk/a/"), did))
        .when(m == 2, F.lit("http://cdn.assets.example0.com:8080/x"))
        .when(m == 3, F.concat(F.lit("https://user@files.archive.org.uk:444/d/"), did))
        .when(m == 4, F.lit("ftp://mirror.data.ne.jp/pub"))
        .otherwise(F.concat(F.lit("not a url "), did))
    )
    prof = domain_profile(docs.withColumn("url", url), "url")
    return prof.withColumn(
        "domain", F.coalesce(F.col("domain"), F.lit("(invalid)"))
    )


@query(
    "pii_pseudonymize",
    oracle="""
    WITH tok AS (
      SELECT event_id,
             CASE WHEN user_id IS NULL THEN NULL
                  ELSE sha256('k0:' || CAST(user_id AS VARCHAR)) END AS user_id,
             event_type
      FROM events
    )
    SELECT user_id AS user_token,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM tok GROUP BY user_id
    """,
)
def pii_pseudonymize(spark, sf_dir):
    """Keyed pseudonymization (curation.pseudonymize, new r7): tokenize
    events.user_id under a secret, then aggregate per token — proving
    the property the operator exists for: tokens keep joinability and
    group-by semantics (the per-token rollup equals the per-user one,
    relabeled). Spark sha2 and DuckDB sha256 agree on lowercase hex of
    identical byte input. Registered PYTEST_ONLY from birth — window
    full; full DuckDB coverage via tests/test_oracle.py."""
    from pgdedupe_spark.operators.curation import pseudonymize

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    tok = pseudonymize(ev, ["user_id"], secret="k0")
    return tok.groupBy(F.col("user_id").alias("user_token")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("event_type").alias("n_types"),
    )


@query(
    "a16_rate_ci",
    oracle="""
    WITH agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM events GROUP BY event_type
    ), s AS (
      SELECT event_type, n, k,
             CAST(n AS DOUBLE) AS nd,
             CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS rate
      FROM agg
    ), t AS (
      SELECT event_type, n, k, rate,
             1.0 + 3.8414588206941254 / nd AS den,
             rate + 3.8414588206941254 / (2.0 * nd) AS ctr,
             1.959963984540054 * sqrt(
               rate * (1.0 - rate) / nd
               + 3.8414588206941254 / (4.0 * nd * nd)
             ) AS mrg
      FROM s
    )
    SELECT event_type, n, k, rate,
           greatest((ctr - mrg) / den, 0.0) AS ci_lo,
           least((ctr + mrg) / den, 1.0) AS ci_hi
    FROM t
    """,
)
def a16_rate_ci(spark, sf_dir):
    """Per-type success rate with Wilson 95% interval
    (stats.rate_wilson_ci, new r7): share of events with value > 50 per
    event_type. The interval arithmetic runs in ONE fixed IEEE
    operation order mirrored textually in the oracle, so the doubles
    hash-match bit-for-bit (z² is pre-folded to the same literal both
    sides). Registered PYTEST_ONLY from birth — window full; full
    DuckDB coverage via tests/test_oracle.py."""
    from pgdedupe_spark.operators.stats import rate_wilson_ci

    ev = _t(spark, sf_dir, "events")
    return rate_wilson_ci(ev, F.col("value") > 50, ["event_type"])


@query(
    "stats_equidepth",
    oracle="""
    WITH b AS (
      SELECT source, quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS bnds
      FROM documents GROUP BY source
    )
    SELECT d.source,
           CAST(len(list_filter(b.bnds, x -> d.n_chars > x)) AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(d.n_chars) AS lo,
           max(d.n_chars) AS hi
    FROM documents d JOIN b ON d.source = b.source
    GROUP BY 1, 2
    """,
)
def stats_equidepth(spark, sf_dir):
    """Per-source equi-depth length histogram (stats.equi_depth_histogram,
    new r7): 4 quantile buckets of documents.n_chars per source — the
    sort-free formulation (percentile boundaries + broadcast row-local
    assignment) whose boundary interpolation DuckDB's quantile_cont
    reproduces exactly. Registered PYTEST_ONLY from birth — window
    full; full DuckDB coverage via tests/test_oracle.py."""
    from pgdedupe_spark.operators.stats import equi_depth_histogram

    docs = _t(spark, sf_dir, "documents")
    return equi_depth_histogram(docs.select("source", "n_chars"), "n_chars", 4, ["source"])


@query(
    "events_rolling_anomaly",
    oracle="""
    WITH w AS (
      SELECT event_id, event_type, value,
             CAST(count(*) OVER f AS BIGINT) AS n,
             quantile_cont(value, 0.5) OVER f AS med,
             quantile_cont(value, 0.25) OVER f AS p25,
             quantile_cont(value, 0.75) OVER f AS p75
      FROM events
      WINDOW f AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    ), s AS (
      SELECT event_id, event_type, value,
             CASE WHEN n >= 24 THEN med END AS roll_med,
             CASE WHEN n >= 24 THEN p75 - p25 END AS roll_iqr
      FROM w
    )
    SELECT event_id, event_type, value, roll_med, roll_iqr,
           CASE WHEN roll_iqr IS NOT NULL AND roll_iqr <> 0
                THEN (value - roll_med) / (0.7413 * roll_iqr) END AS robust_z,
           coalesce(CASE WHEN roll_iqr IS NOT NULL AND roll_iqr <> 0
                THEN abs((value - roll_med) / (0.7413 * roll_iqr)) > 4.0
                END, FALSE) AS is_anomaly
    FROM s
    """,
)
def events_rolling_anomaly(spark, sf_dir):
    """Trailing-window robust anomaly gate (temporal.rolling_robust_z,
    new r7): per event_type, each value vs the median/IQR of the 24
    preceding events (strictly before — the anomaly can't drag its own
    baseline), deterministic (ts, event_id) total order. All three
    percentiles and the count share one window spec → single
    partition+sort pass; interpolation and the z arithmetic mirror the
    oracle textually. Promoted to the r8 driver window (commit
    3019265); full DuckDB coverage via tests/test_oracle.py."""
    from pgdedupe_spark.operators.temporal import rolling_robust_z

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    return rolling_robust_z(
        ev, ["event_type"], ["ts", "event_id"], "value", window_rows=24, k=4.0
    ).drop("ts")


@query(
    "d7_sorted_neighborhood",
    oracle="""
    WITH r AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY substr(lower(text), 1, 12), doc_id)
               AS rk
      FROM documents
    )
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(b.rk - a.rk AS INT) AS rank_gap
    FROM r a JOIN r b ON b.rk > a.rk AND b.rk - a.rk <= 4
    """,
)
def d7_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood blocking (blocking.sorted_neighborhood_pairs,
    new r7): candidates = each document paired with its 4 successors in
    (lowercased 12-char text prefix, doc_id) order — the classic SNM
    complement to predicate blocking, catching near-dups whose tokens
    don't match any predicate exactly. Spark ranks come from the
    range-partitioned serial-id path (no single-partition sort) and the
    neighbor join is a cell-banded EQUI-join; the oracle is the naive
    row_number self-join the composition must equal exactly.
    Registered PYTEST_ONLY from birth — window full; full DuckDB
    coverage via tests/test_oracle.py."""
    from pgdedupe_spark.operators.blocking import sorted_neighborhood_pairs

    docs = _t(spark, sf_dir, "documents").withColumn(
        "_key", F.substring(F.lower(F.col("text")), 1, 12)
    )
    return sorted_neighborhood_pairs(docs, "doc_id", ["_key"], window=4)


# ===========================================================================
# r9 (VERDICT r8 #7): the reference validation notebook's last unported
# analytic — per-identity completeness (cells 26-31). The ANALYTIC is the
# operator under oracle (survivorship.completeness_histogram: plurality-
# cluster share per true identity, exact-integer bucketing); the driver row
# feeds it a deterministic SQL-expressible assignment over orders (identity
# = o_custkey; ~1/7 of records split into a second cluster, ~1/23 excluded
# as NULL — the notebook's "split identity" and "ignored records" regimes
# both populated). The REAL-pipeline completeness floor (assignments from
# run_pipeline on the datagen population, not SQL-expressible) is the
# quality-gate extension in tests/test_pipeline.py.
# ===========================================================================


@query(
    "er_completeness",
    oracle="""
    WITH entries AS (
      SELECT o_custkey AS uuid,
             CASE WHEN o_orderkey % 23 = 0 THEN NULL
                  WHEN o_orderkey % 7 = 0 THEN o_custkey * 10 + 1
                  ELSE o_custkey * 10 END AS dedupe_id
      FROM orders
    ), per AS (
      SELECT uuid, dedupe_id, CAST(count(*) AS BIGINT) AS _n
      FROM entries GROUP BY uuid, dedupe_id
    ), ident AS (
      SELECT uuid, max(_n) AS _mx, sum(_n) AS _tot FROM per GROUP BY uuid
    ), bucketed AS (
      SELECT CAST(least(9, (_mx * 10) // _tot) AS INT) AS bucket FROM ident
    ), hist AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_identities
      FROM bucketed GROUP BY bucket
    )
    SELECT bucket,
           CAST(bucket AS DOUBLE) / 10.0 AS bucket_lo,
           n_identities,
           CAST(n_identities AS DOUBLE)
             / CAST((SELECT sum(n_identities) FROM hist) AS DOUBLE)
             AS frac_identities
    FROM hist
    """,
)
def er_completeness(spark, sf_dir):
    """Per-identity completeness histogram (reference notebook cells
    26-31): pct_complete = plurality-cluster share of each identity's
    records; NULL cluster = filter-excluded records (their own group,
    as in the notebook's GROUP BY). Exact-integer bucketing
    (min(9, max·10 div total)) makes the histogram hash-oracle
    checkable; the assignment here is the deterministic orders-based
    fixture, the fitted-pipeline floor lives in tests/test_pipeline.py."""
    from pgdedupe_spark.operators.survivorship import completeness_histogram

    entries = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("uuid"),
        F.when(F.col("o_orderkey") % 23 == 0, F.lit(None).cast("long"))
        .when(F.col("o_orderkey") % 7 == 0, F.col("o_custkey") * 10 + 1)
        .otherwise(F.col("o_custkey") * 10)
        .alias("dedupe_id"),
    )
    return completeness_histogram(entries, "uuid", "dedupe_id", bins=10)


# ===========================================================================
# r9: model-based quality filtering — the GPT-3/CCNet-style learned quality
# classifier as a first-class curation stage (text.fit_quality_classifier /
# quality_model_scores). The driver row uses PINNED weights (the
# d4_pair_scores convention — engine-reproducible arithmetic; the FITTED
# path is pinned in tests/test_extensions.py), features are exact-integer
# ratios (single correctly-rounded divisions — no log/exp until the
# sigmoid), and the score passes the DECIMAL(18,6) boundary BEFORE the
# threshold compare so the filter decision hashes identically. Born
# PYTEST_ONLY (window full); full DuckDB coverage via tests/test_oracle.py.
# ===========================================================================


@query(
    "text_quality_model",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tok,
             CAST(len(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct,
             CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
             CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper
      FROM documents
    ), f AS (
      SELECT doc_id,
             CAST(n_tok AS DOUBLE) / CAST(n_tok + 100 AS DOUBLE) AS f_len,
             CAST(len(list_filter(toks, t2 -> t2 IN ({_SW_EN}))) AS DOUBLE)
               / CAST(n_tok + 1 AS DOUBLE) AS f_sw,
             CAST(n_punct AS DOUBLE) / CAST(n_chars + 1 AS DOUBLE) AS f_punct,
             (CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0) AS DOUBLE)
               / CAST(greatest(n_tok, 1) AS DOUBLE)) / 12.0 AS f_atl,
             CAST(n_digit AS DOUBLE) / CAST(n_chars + 1 AS DOUBLE) AS f_digit,
             CAST(n_upper AS DOUBLE) / CAST(n_chars + 1 AS DOUBLE) AS f_upper
      FROM t
    ), s AS (
      SELECT doc_id,
             1.0 / (1.0 + exp(-((0.0 + 3.0*f_len + 10.0*f_sw + -4.0*f_punct
                                 + -1.5*f_atl + -3.0*f_digit + -2.0*f_upper)
                                + -0.8))) AS raw
      FROM f
    )
    SELECT doc_id, CAST(CAST(raw AS DECIMAL(18,6)) AS DOUBLE) AS quality_score
    FROM s
    WHERE CAST(CAST(raw AS DECIMAL(18,6)) AS DOUBLE) >= 0.5
    """,
)
def text_quality_model(spark, sf_dir):
    """Learned quality filter over `documents` with pinned LR weights:
    sigmoid over the fixed exact-ratio feature layout
    (text.QUALITY_FEATURES), kept at quality_score >= 0.5 — the
    model-based sibling of the rule-based text_quality_stats gate.
    Scoring is one codegen projection per row (no joins, no Python);
    the FITTED deployment (fit_quality_classifier on labeled good/bad
    corpora) is pinned in tests/test_extensions.py."""
    import numpy as np

    from pgdedupe_spark.operators.text import quality_model_scores

    class _Pinned:
        weights = np.array([3.0, 10.0, -4.0, -1.5, -3.0, -2.0])
        bias = -0.8

    return quality_model_scores(
        _t(spark, sf_dir, "documents"), "doc_id", "text", _Pinned(), threshold=0.5
    )


# ===========================================================================
# r11: LEARNED language id (VERDICT r10 #9) — the fastText-LID shape
# (hashed char-bigram bag × per-language linear scorer) upgrading the
# stopword-argmax heuristic text_language_id. The weight table is PINNED
# integers (quantized multinomial NB fitted by scripts/gen_lid_pinned.py
# on a hand-written multilingual seed corpus), so every score is a BIGINT
# sum — order-free, engine-exact — and the argmax hashes bit-for-bit.
# Scoring is one zero-shuffle codegen projection (plan pinned in
# tests/test_langid.py). The FITTED deployment (fit_language_id on a
# labeled corpus, planted-fixture separation) is pinned there too.
# ===========================================================================


def _lid_oracle() -> str:
    from pgdedupe_spark.operators.lid_pinned import BUCKETS, NGRAM, WEIGHTS

    langs = sorted(WEIGHTS)
    scores = ",\n             ".join(
        "CAST(coalesce(list_sum(list_transform(bk, x -> ("
        + "[" + ",".join(str(v) for v in WEIGHTS[lang]) + "]"
        + f")[CAST(x + 1 AS INT)])), 0) AS BIGINT) AS score_{lang}"
        for lang in langs
    )
    case = []
    for i, lang in enumerate(langs):
        rest = [f"score_{o}" for o in langs[i + 1 :]]
        if len(rest) > 1:
            case.append(f"WHEN score_{lang} >= greatest({', '.join(rest)}) THEN '{lang}'")
        elif rest:
            case.append(f"WHEN score_{lang} >= {rest[0]} THEN '{lang}'")
        else:
            case.append(f"ELSE '{lang}'")
    return f"""
    WITH g AS (
      SELECT doc_id,
             list_transform(range(1, len(lower(coalesce(text, '')))),
                            i -> substr(lower(coalesce(text, '')), i::int, {NGRAM}))
               AS grams
      FROM documents
    ), b AS (
      SELECT doc_id,
             list_transform(grams,
                            gr -> CAST('0x' || substr(md5(gr), 1, 8) AS BIGINT)
                                  % {BUCKETS}) AS bk
      FROM g
    ), s AS (
      SELECT doc_id,
             {scores}
      FROM b
    )
    SELECT doc_id,
           CASE {' '.join(case)} END AS pred_lang,
           {', '.join('score_' + lang for lang in langs)}
    FROM s
    """


@query("text_language_id_learned", oracle=_lid_oracle())
def text_language_id_learned(spark, sf_dir):
    """Learned language id over `documents` with the pinned integer
    weight table (operators/lid_pinned.py): per-language BIGINT scores
    from the hashed char-bigram bag + ascending-tie-break argmax. One
    codegen projection — no joins, no shuffle, no floats. The synthetic
    corpus text is English-ish regardless of its lang tag, so the VALUE
    here is the exact arithmetic contract; semantic separation is pinned
    on the planted multilingual fixture in tests/test_langid.py."""
    from pgdedupe_spark.operators.langid import language_id_scores
    from pgdedupe_spark.operators.lid_pinned import BUCKETS, NGRAM, WEIGHTS

    return language_id_scores(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        WEIGHTS,
        n=NGRAM,
        buckets=BUCKETS,
        portable=True,
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
# 2023): hashed-n-gram importance weights toward a target distribution,
# then Gumbel-top-k resampling. The data-SELECTION stage that follows
# dedup/quality filtering in an LLM pretraining pipeline (the quality
# family filters bad docs; DSIR shifts the kept mass toward a target
# domain). Target = the English slice; raw = the whole corpus — the
# paper's setup with the corpus itself as the raw model.
# ---------------------------------------------------------------------------

# shared CTE chain: word {1,2}-gram bag → portable md5 bucket counts →
# per-bucket smoothed log importance ratios (DECIMAL-quantized before the
# per-doc sum so the aggregate is exact decimal arithmetic) → per-doc
# log-weights. c casts through DECIMAL(9,0) because a bare
# BIGINT×DECIMAL(28,12) product needs precision 49 and Spark resolves the
# overflow by truncating scale to 6 (measured 1e-6 drift, r10).
_DSIR = """
    tok AS (
      SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ),
    feats AS (
      SELECT doc_id, lang,
             unnest(list_concat(w,
               CASE WHEN len(w) >= 2
                    THEN list_transform(generate_series(1, len(w)-1),
                         i -> w[i] || ' ' || w[i+1])
                    ELSE []::VARCHAR[] END)) AS ng
      FROM tok
    ),
    fc AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5(ng), 1, 15) AS BIGINT) % 4096 AS bucket,
             count(*) AS c
      FROM feats GROUP BY 1, 2, 3
    ),
    rb AS (SELECT bucket, sum(c) AS cr FROM fc GROUP BY 1),
    tb AS (SELECT bucket, sum(c) AS ct FROM fc WHERE lang = 'en' GROUP BY 1),
    dim AS (
      SELECT coalesce(rb.bucket, tb.bucket) AS bucket,
             coalesce(cr, 0) AS cr, coalesce(ct, 0) AS ct
      FROM rb FULL OUTER JOIN tb ON rb.bucket = tb.bucket
    ),
    tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM dim),
    model AS (
      SELECT bucket,
             CAST(ROUND(ln((ct + 1.0) / (tt + 4096.0))
                        - ln((cr + 1.0) / (tr + 4096.0)), 12)
                  AS DECIMAL(28,12)) AS logratio
      FROM dim, tot
    ),
    perdoc AS (
      SELECT doc_id, sum(CAST(c AS DECIMAL(9,0)) * logratio) AS lw,
             CAST(sum(c) AS BIGINT) AS nf
      FROM fc JOIN model USING (bucket) GROUP BY 1
    ),
    wts AS (
      SELECT d.doc_id,
             coalesce(CAST(lw AS DOUBLE), 0.0) AS log_weight,
             coalesce(nf, 0) AS n_feats
      FROM documents d LEFT JOIN perdoc USING (doc_id)
    )
"""


@query(
    "curation_dsir_weights",
    oracle=f"""
    WITH {_DSIR}
    SELECT doc_id, log_weight, n_feats FROM wts
    """,
)
def curation_dsir_weights(spark, sf_dir):
    """DSIR importance log-weights for every document: how much more
    likely the doc's hashed word-{{1,2}}-gram bag is under the target
    (lang='en') distribution than under the raw corpus distribution
    (curation.dsir_weights, new r10). The B-row logratio model
    broadcast-joins the (doc, bucket) counts; the per-doc sum is exact
    DECIMAL so partial-agg order can't flip the hash. Registered
    PYTEST_ONLY from birth — window full; full DuckDB coverage via
    tests/test_oracle.py."""
    from pgdedupe_spark.operators.curation import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    # materialize=True (r12): checkpoint the (id, bucket, c) feature frame
    # so the raw-model fit and the scoring join share ONE corpus explode
    # instead of two — bit-identical weights (this row's oracle pins it).
    return dsir_weights(
        docs, "doc_id", "text", docs.filter(F.col("lang") == "en"),
        materialize=True,
    )


@query(
    "curation_dsir_sample",
    oracle=f"""
    WITH {_DSIR},
    keyed AS (
      SELECT doc_id, log_weight,
             CAST(ROUND(log_weight + -ln(-ln(
               CAST(CAST(concat('0x', substr(md5('dsir0:' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS UBIGINT) + 1 AS DOUBLE) / 4294967297.0)), 12)
                  AS DECIMAL(38,12)) AS gk
      FROM wts
    )
    SELECT doc_id, log_weight, sample_rank FROM (
      SELECT doc_id, log_weight,
             CAST(row_number() OVER (ORDER BY gk DESC, doc_id) AS INT) AS sample_rank
      FROM keyed
    ) WHERE sample_rank <= 100
    """,
)
def curation_dsir_sample(spark, sf_dir):
    """DSIR selection: 100 documents drawn without replacement with
    probability ∝ exp(log_weight) via deterministic Gumbel-top-k
    (curation.dsir_sample, new r10) — log-space keys (DSIR weights span
    hundreds of nats; the A-ES ln(u)/w key would need exp(log_weight)),
    the same seeded md5 hash-uniform as weighted_sample, DECIMAL-rounded
    ordering. Plans as TakeOrderedAndProject — no corpus-wide
    single-partition window. Born pytest-only (window full); promoted
    into the r11 driver window later in r10."""
    from pgdedupe_spark.operators.curation import dsir_sample

    docs = _t(spark, sf_dir, "documents")
    # materialize=True (r12): one corpus explode for fit + scoring (see
    # curation_dsir_weights); bit-identical sample, oracle-pinned.
    return dsir_sample(
        docs, "doc_id", "text", docs.filter(F.col("lang") == "en"), k=100,
        materialize=True,
    )


_GOPHER_RULES_SQL = r"""
    WITH base AS (
      SELECT doc_id, coalesce(text, '') AS t FROM documents
    ), w AS (
      SELECT doc_id, t,
             list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS words,
             string_split_regex(t, '\n') AS lines
      FROM base
    ), m AS (
      SELECT doc_id, t, words, lines,
             len(words) AS n_words,
             greatest(len(words), 1) AS nw1,
             coalesce(list_sum(list_transform(words, x -> len(x))), 0) AS sum_wl,
             greatest(len(lines), 1) AS n_lines
      FROM w
    ), r AS (
      SELECT doc_id,
             CAST(n_words AS BIGINT) AS n_words,
             CAST(sum_wl AS DOUBLE) / CAST(nw1 AS DOUBLE) AS mean_word_len,
             CAST((len(t) - len(replace(t, '#', '')))
                  + (len(string_split_regex(t, '\.\.\.')) - 1)
                  + (len(t) - len(replace(t, '…', ''))) AS DOUBLE)
               / CAST(nw1 AS DOUBLE) AS symbol_ratio,
             CAST(len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[•\-\*]')))
                  AS DOUBLE) / CAST(n_lines AS DOUBLE) AS frac_bullet_lines,
             CAST(len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\.\.\.|…)$')))
                  AS DOUBLE) / CAST(n_lines AS DOUBLE) AS frac_ellipsis_lines,
             CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
                  AS DOUBLE) / CAST(nw1 AS DOUBLE) AS frac_alpha_words,
             CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
                  wd -> list_contains(list_transform(words, x -> lower(x)), wd)))
                  AS BIGINT) AS n_required_hits
      FROM m
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, frac_bullet_lines,
           frac_ellipsis_lines, frac_alpha_words, n_required_hits,
           CAST(n_words >= 50 AND n_words <= 100000
                AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                AND symbol_ratio <= 0.1
                AND frac_bullet_lines < 0.9
                AND frac_ellipsis_lines <= 0.3
                AND frac_alpha_words >= 0.8
                AND n_required_hits >= 2 AS INT) AS keep
    FROM r
    """


@query("text_gopher_rules", oracle=_GOPHER_RULES_SQL)
def text_gopher_rules(spark, sf_dir):
    """Gopher rule-based quality gate (Rae et al. 2021 §A1.1;
    text.gopher_quality, new r10): the seven heuristic signals — word
    count, mean word length, symbol ratio, bullet/ellipsis line
    fractions, alphabetic-word fraction, required-stop-word hits — and
    the conjunctive keep verdict, per document. Pure per-row codegen
    expressions (no joins, no aggregation, no Python); ratios divide
    exact per-row integers so there is no agg-order hazard. The
    rule-based sibling of text_quality_model's learned gate. Born
    pytest-only (window full); promoted into the r11 driver window later
    in r10."""
    from pgdedupe_spark.operators.text import gopher_quality

    return gopher_quality(_t(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "curation_c4_clean",
    oracle=r"""
    WITH srclines AS (
      SELECT source, doc_id,
             text || CASE WHEN doc_id % 3 = 1 THEN '' ELSE '.' END AS line
      FROM documents
    ), pages AS (
      SELECT source AS page_id,
             array_to_string(array_agg(line ORDER BY doc_id), chr(10)) AS t
      FROM srclines GROUP BY source
    ), l AS (
      SELECT page_id, t, string_split_regex(t, '\n') AS lines FROM pages
    ), k AS (
      SELECT page_id, t, lines,
             list_filter(lines, l2 -> regexp_matches(rtrim(l2), '[.!?"]$')
               AND len(list_filter(string_split_regex(l2, '\s+'), x -> x <> '')) >= 5) AS kept
      FROM l
    )
    SELECT page_id,
           coalesce(array_to_string(kept, chr(10)), '') AS text_clean,
           CAST(len(lines) AS BIGINT) AS n_lines_total,
           CAST(len(kept) AS BIGINT) AS n_lines_kept,
           CAST((NOT (contains(lower(t), 'lorem ipsum') OR contains(lower(t), '{')))
                AND len(kept) >= 3 AS INT) AS keep_doc
    FROM k
    """,
)
def curation_c4_clean(spark, sf_dir):
    """C4 line-level cleaning (Raffel et al. 2020 §2.2; curation.c4_clean,
    new r10): keep lines that end in terminal punctuation and carry ≥5
    words, drop pages mentioning "lorem ipsum" / braces or with <3
    surviving lines. The documents table is single-line, so the query
    synthesizes crawl-shaped PAGES first — one line per document grouped
    by source (deterministic doc_id order), every third line left
    unterminated so the line filter provably bites — then cleans them.
    The synthesis is one ordered array_agg per source; the cleaning
    itself is pure per-row array expressions (no joins, no Python).
    Born pytest-only (window full); promoted into the r11 driver window
    later in r10."""
    from pgdedupe_spark.operators.curation import c4_clean

    docs = _t(spark, sf_dir, "documents")
    lines = docs.select(
        "source",
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 1, F.lit("")).otherwise(F.lit(".")),
        ).alias("line"),
    )
    pages = lines.groupBy("source").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text")
    )
    return c4_clean(pages.withColumnRenamed("source", "page_id"), "page_id", "text")


_GOPHER_PAGES_SQL = r"""pages0 AS (
      SELECT source AS page_id, array_agg(text ORDER BY doc_id) AS arr
      FROM documents GROUP BY source
    ), pagesp AS (
      SELECT page_id,
             list_transform(generate_series(1, (len(arr)+2)//3),
               k -> array_to_string(arr[(k-1)*3+1:(k-1)*3+3], chr(10))) AS paras
      FROM pages0
    ), pg AS (
      SELECT page_id,
             array_to_string(list_concat(paras, paras[1:1]),
                             chr(10)||chr(10)) AS t
      FROM pagesp
    )"""

_GOPHER_DOCS_SQL = r"""pg AS (
      SELECT doc_id AS page_id, coalesce(text, '') AS t FROM documents
    )"""


def _gopher_repetition_oracle(pg_sql: str) -> str:
    """The full A1.2 repetition-battery twin over any ``pg(page_id, t)``
    CTE chain — conventional unnest+GROUP BY; shared by the page-level
    row (text_gopher_repetition) and the per-document composite
    (text_gopher_full)."""
    return (
        "\n    WITH "
        + pg_sql
        + r""",
    ln AS (
      SELECT page_id, trim(l) AS line
      FROM (SELECT page_id, unnest(string_split_regex(t, '\n')) AS l FROM pg)
      WHERE trim(l) <> ''
    ),
    lc AS (SELECT page_id, line, count(*) AS c FROM ln GROUP BY page_id, line),
    lstat AS (
      SELECT page_id,
        CAST(sum(c) AS BIGINT) AS n_lines,
        CAST(coalesce(sum(CASE WHEN c>=2 THEN c END), 0) AS BIGINT) AS dup_line_n,
        CAST(sum(c*len(line)) AS BIGINT) AS line_chars,
        CAST(coalesce(sum(CASE WHEN c>=2 THEN c*len(line) END), 0) AS BIGINT)
          AS dup_line_char_n
      FROM lc GROUP BY page_id
    ),
    pr AS (
      SELECT page_id, trim(p) AS para
      FROM (SELECT page_id, unnest(string_split_regex(t, '\n{2,}')) AS p FROM pg)
      WHERE trim(p) <> ''
    ),
    pc AS (SELECT page_id, para, count(*) AS c FROM pr GROUP BY page_id, para),
    pstat AS (
      SELECT page_id,
        CAST(sum(c) AS BIGINT) AS n_paras,
        CAST(coalesce(sum(CASE WHEN c>=2 THEN c END), 0) AS BIGINT) AS dup_para_n,
        CAST(sum(c*len(para)) AS BIGINT) AS para_chars,
        CAST(coalesce(sum(CASE WHEN c>=2 THEN c*len(para) END), 0) AS BIGINT)
          AS dup_para_char_n
      FROM pc GROUP BY page_id
    ),
    tok AS (SELECT page_id, regexp_extract_all(lower(t), '[a-z0-9]+') AS w FROM pg),
    tstat AS (
      SELECT page_id, CAST(len(w) AS BIGINT) AS n_tokens,
        CAST(coalesce(list_sum(list_transform(w, x -> len(x))), 0) AS BIGINT)
          AS token_chars
      FROM tok
    ),
    g2 AS (
      SELECT page_id, array_to_string(w[i:i+1], ' ') AS g
      FROM (SELECT page_id, w, unnest(generate_series(1, len(w)-1)) AS i
            FROM tok WHERE len(w) >= 2)
    ),
    top2 AS (
      SELECT page_id,
        CAST(max(c * (len(g) - 1)) FILTER (WHERE c = mc) AS BIGINT) AS top2_char_n
      FROM (SELECT page_id, g, c, max(c) OVER (PARTITION BY page_id) AS mc
            FROM (SELECT page_id, g, count(*) AS c FROM g2 GROUP BY page_id, g))
      GROUP BY page_id
    ),
    g3 AS (
      SELECT page_id, array_to_string(w[i:i+2], ' ') AS g
      FROM (SELECT page_id, w, unnest(generate_series(1, len(w)-2)) AS i
            FROM tok WHERE len(w) >= 3)
    ),
    top3 AS (
      SELECT page_id,
        CAST(max(c * (len(g) - 2)) FILTER (WHERE c = mc) AS BIGINT) AS top3_char_n
      FROM (SELECT page_id, g, c, max(c) OVER (PARTITION BY page_id) AS mc
            FROM (SELECT page_id, g, count(*) AS c FROM g3 GROUP BY page_id, g))
      GROUP BY page_id
    ),
    g4 AS (
      SELECT page_id, array_to_string(w[i:i+3], ' ') AS g
      FROM (SELECT page_id, w, unnest(generate_series(1, len(w)-3)) AS i
            FROM tok WHERE len(w) >= 4)
    ),
    top4 AS (
      SELECT page_id,
        CAST(max(c * (len(g) - 3)) FILTER (WHERE c = mc) AS BIGINT) AS top4_char_n
      FROM (SELECT page_id, g, c, max(c) OVER (PARTITION BY page_id) AS mc
            FROM (SELECT page_id, g, count(*) AS c FROM g4 GROUP BY page_id, g))
      GROUP BY page_id
    ),
    g5p AS (
      SELECT page_id, array_to_string(w[i:i+4], ' ') AS g, i
      FROM (SELECT page_id, w, unnest(generate_series(1, len(w)-4)) AS i
            FROM tok WHERE len(w) >= 5)
    ),
    d5cov AS (
      SELECT DISTINCT page_id, j
      FROM (SELECT page_id, unnest(generate_series(i, i+4)) AS j
            FROM g5p
            WHERE (page_id, g) IN (SELECT (page_id, g)
                                   FROM g5p GROUP BY page_id, g HAVING count(*) >= 2))
    ),
    d5 AS (
      SELECT c.page_id, CAST(sum(len(t.w[c.j])) AS BIGINT) AS dup5_char_n
      FROM d5cov c JOIN tok t USING (page_id) GROUP BY c.page_id
    ),
    g10p AS (
      SELECT page_id, array_to_string(w[i:i+9], ' ') AS g, i
      FROM (SELECT page_id, w, unnest(generate_series(1, len(w)-9)) AS i
            FROM tok WHERE len(w) >= 10)
    ),
    d10cov AS (
      SELECT DISTINCT page_id, j
      FROM (SELECT page_id, unnest(generate_series(i, i+9)) AS j
            FROM g10p
            WHERE (page_id, g) IN (SELECT (page_id, g)
                                   FROM g10p GROUP BY page_id, g HAVING count(*) >= 2))
    ),
    d10 AS (
      SELECT c.page_id, CAST(sum(len(t.w[c.j])) AS BIGINT) AS dup10_char_n
      FROM d10cov c JOIN tok t USING (page_id) GROUP BY c.page_id
    ),
    base AS (
      SELECT p.page_id,
        coalesce(l.n_lines, 0) AS n_lines,
        coalesce(l.dup_line_n, 0) AS dup_line_n,
        coalesce(l.line_chars, 0) AS line_chars,
        coalesce(l.dup_line_char_n, 0) AS dup_line_char_n,
        coalesce(q.n_paras, 0) AS n_paras,
        coalesce(q.dup_para_n, 0) AS dup_para_n,
        coalesce(q.para_chars, 0) AS para_chars,
        coalesce(q.dup_para_char_n, 0) AS dup_para_char_n,
        coalesce(s.n_tokens, 0) AS n_tokens,
        coalesce(s.token_chars, 0) AS token_chars,
        coalesce(t2.top2_char_n, 0) AS top2_char_n,
        coalesce(t3.top3_char_n, 0) AS top3_char_n,
        coalesce(t4.top4_char_n, 0) AS top4_char_n,
        coalesce(d5.dup5_char_n, 0) AS dup5_char_n,
        coalesce(d10.dup10_char_n, 0) AS dup10_char_n
      FROM pg p
      LEFT JOIN lstat l USING (page_id)
      LEFT JOIN pstat q USING (page_id)
      LEFT JOIN tstat s USING (page_id)
      LEFT JOIN top2 t2 USING (page_id)
      LEFT JOIN top3 t3 USING (page_id)
      LEFT JOIN top4 t4 USING (page_id)
      LEFT JOIN d5 USING (page_id)
      LEFT JOIN d10 USING (page_id)
    )
    SELECT *,
      CAST(keep_dup_line * keep_dup_para * keep_dup_line_char
           * keep_dup_para_char * keep_top2 * keep_top3 * keep_top4
           * keep_dup5 * keep_dup10 AS INT) AS repetition_keep
    FROM (
      SELECT *,
        CAST(dup_line_n * 10 <= n_lines * 3 AS INT) AS keep_dup_line,
        CAST(dup_para_n * 10 <= n_paras * 3 AS INT) AS keep_dup_para,
        CAST(dup_line_char_n * 5 <= line_chars AS INT) AS keep_dup_line_char,
        CAST(dup_para_char_n * 5 <= para_chars AS INT) AS keep_dup_para_char,
        CAST(top2_char_n * 100 <= token_chars * 20 AS INT) AS keep_top2,
        CAST(top3_char_n * 100 <= token_chars * 18 AS INT) AS keep_top3,
        CAST(top4_char_n * 100 <= token_chars * 16 AS INT) AS keep_top4,
        CAST(dup5_char_n * 100 <= token_chars * 15 AS INT) AS keep_dup5,
        CAST(dup10_char_n * 100 <= token_chars * 10 AS INT) AS keep_dup10
      FROM base
    )
    """
    )


@query(
    "text_gopher_full",
    oracle=f"""
    WITH qual AS ({_GOPHER_RULES_SQL}),
    rep AS ({_gopher_repetition_oracle(_GOPHER_DOCS_SQL)})
    SELECT q.doc_id, q.n_words, CAST(q.keep AS INT) AS quality_keep,
           r.token_chars, r.top2_char_n, r.dup5_char_n,
           CAST(r.repetition_keep AS INT) AS repetition_keep,
           CAST(q.keep * r.repetition_keep AS INT) AS keep
    FROM qual q JOIN rep r ON r.page_id = q.doc_id
    """,
)
def text_gopher_full(spark, sf_dir):
    """The COMPLETE MassiveText document filter (Rae et al. 2021 table
    A1): the §A1.1 heuristic-signal gate (text_gopher_rules) AND the
    §A1.2 repetition battery (text_gopher_repetition) conjoined per
    document — keep = quality_keep × repetition_keep, with the salient
    numerators alongside for auditability. Both halves are zero-shuffle
    per-row projections, so the composite is one scan + one doc-keyed
    join the optimizer collapses to a single stage pipeline. Born
    pytest-only (window full); promoted into the r11 driver window later
    in r10. Each half is also independently oracle-checked."""
    from pgdedupe_spark.operators.curation import gopher_repetition
    from pgdedupe_spark.operators.text import gopher_quality

    docs = _t(spark, sf_dir, "documents")
    q = gopher_quality(docs, "doc_id", "text").select(
        "doc_id", "n_words", F.col("keep").alias("quality_keep")
    )
    r = gopher_repetition(
        docs, "doc_id", "text", top_ns=(2, 3, 4), dup_ns=(5, 10)
    ).select("doc_id", "token_chars", "top2_char_n", "dup5_char_n", "repetition_keep")
    return q.join(r, "doc_id").withColumn(
        "keep", (F.col("quality_keep") * F.col("repetition_keep")).cast("int")
    )


@query(
    "text_gopher_repetition",
    oracle=_gopher_repetition_oracle(_GOPHER_PAGES_SQL),
)
def text_gopher_repetition(spark, sf_dir):
    """The full Gopher repetition battery (Rae et al. 2021 table A1 —
    curation.gopher_repetition, new late-r10): duplicate line/paragraph
    fractions and char fractions, top n-gram char fraction (n=2,3,4) and
    duplicated-n-gram UNION char coverage (n=5,10 here; 5..10 is the op
    default), with per-rule integer keep flags. Runs over crawl-shaped
    pages synthesized from the documents table (3-line paragraphs per
    source, first paragraph repeated at the end so every rule provably
    bites). The Spark side is ONE zero-shuffle projection — sorted-array
    folds and higher-order functions, nothing leaves the row; the oracle
    is a conventional unnest+GROUP BY twin, so the two engines derive the
    same integers by structurally different plans. Subsumes
    text_repetition_signals (now pytest-gated only) and takes its
    rotation slot."""
    from pgdedupe_spark.operators.curation import gopher_repetition

    docs = _t(spark, sf_dir, "documents")
    pages0 = docs.groupBy("source").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
            lambda s: s["text"],
        ).alias("arr")
    )
    paras = F.transform(
        F.sequence(F.lit(1), ((F.size(F.col("arr")) + F.lit(2)) / 3).cast("int")),
        lambda k: F.array_join(F.slice(F.col("arr"), (k - 1) * 3 + 1, 3), "\n"),
    )
    pg = pages0.select(
        F.col("source").alias("page_id"),
        F.array_join(F.concat(paras, F.slice(paras, 1, 1)), "\n\n").alias("text"),
    )
    return gopher_repetition(pg, "page_id", "text", top_ns=(2, 3, 4), dup_ns=(5, 10))


@query(
    "corpus_temperature_mix",
    oracle=r"""
    WITH cnt AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_rows FROM documents
      GROUP BY source
    ),
    w AS (
      SELECT source, n_rows,
             CAST(floor(pow(CAST(n_rows AS DOUBLE), 0.5) * 1000000.0 + 0.5)
                  AS BIGINT) AS w_scaled
      FROM cnt
    ),
    tot AS (SELECT CAST(sum(w_scaled) AS BIGINT) AS wsum FROM w),
    based AS (
      SELECT source, n_rows, w_scaled,
             (120 * w_scaled) // wsum AS base,
             (120 * w_scaled) % wsum AS rem
      FROM w, tot
    ),
    lo AS (SELECT 120 - sum(base) AS leftover FROM based),
    q AS (
      SELECT source, n_rows, w_scaled,
             CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                               <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
      FROM based, lo
    ),
    r AS (
      SELECT source, doc_id,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY md5('temp' || CAST(doc_id AS VARCHAR)), doc_id)
               AS BIGINT) AS sample_rank
      FROM documents
    )
    SELECT r.source, r.doc_id, r.sample_rank, q.quota
    FROM r JOIN q USING (source)
    WHERE r.sample_rank <= q.quota
    """,
)
def corpus_temperature_mix(spark, sf_dir):
    """Temperature-scaled mixture sampling (curation.temperature_sample,
    new late-r10; mT5/Llama recipe, tau=2): 120 documents apportioned
    across sources ∝ sqrt(group size) by exact-integer largest-remainder
    quotas, members drawn in the portable md5 order. Every value integer
    or exact — the one double op (pow per GROUP) quantizes through the
    ANN floor(x·1e6+0.5) device before any arithmetic. Born pytest-only
    (window full); full DuckDB coverage via tests/test_oracle.py."""
    from pgdedupe_spark.operators.curation import temperature_sample

    return temperature_sample(
        _t(spark, sf_dir, "documents"), "source", "doc_id", k=120, tau=2.0
    )


@query(
    "corpus_budget_epochs",
    oracle=r"""
    WITH cnt AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_tokens,
             CAST(floor(pow(CAST(n_tokens AS DOUBLE), 0.125) * 1000000.0 + 0.5)
                  AS BIGINT) AS w_scaled,
             CAST(n_tokens * 4 AS BIGINT) AS cap
      FROM cnt
    ),
    tot AS (SELECT CAST(sum(w_scaled) AS BIGINT) AS wtot FROM w),
    d AS (
      SELECT source, n_tokens, w_scaled, cap, wtot,
             CAST(cap AS DOUBLE) / CAST(w_scaled AS DOUBLE) AS r,
             sum(cap) OVER ord AS cumcap,
             sum(w_scaled) OVER ord AS cumw
      FROM w, tot
      WINDOW ord AS (ORDER BY CAST(cap AS DOUBLE) / CAST(w_scaled AS DOUBLE),
                     source ROWS UNBOUNDED PRECEDING)
    ),
    c AS (
      SELECT *,
             min(CASE WHEN CAST(cap AS HUGEINT) * (wtot - cumw)
                       <= CAST(550000 - cumcap AS HUGEINT) * w_scaled
                  THEN 1 ELSE 0 END)
               OVER (ORDER BY r, source ROWS UNBOUNDED PRECEDING) = 1 AS capped
      FROM d
    ),
    agg AS (
      SELECT coalesce(sum(CASE WHEN capped THEN cap END), 0) AS capsum,
             coalesce(sum(CASE WHEN NOT capped THEN w_scaled END), 0) AS wunc
      FROM c
    ),
    base AS (
      SELECT c.*, (550000 - capsum) AS rbud, wunc,
             CASE WHEN capped OR wunc = 0 THEN 0
                  ELSE (CAST(w_scaled AS HUGEINT) * (550000 - capsum)) // wunc
             END AS base_,
             CASE WHEN capped OR wunc = 0 THEN NULL
                  ELSE (CAST(w_scaled AS HUGEINT) * (550000 - capsum)) % wunc
             END AS rem_
      FROM c, agg
    ),
    lo AS (
      SELECT max(rbud) - sum(base_) AS leftover,
             sum(CASE WHEN NOT capped THEN 1 ELSE 0 END) AS nunc
      FROM base
    ),
    fin AS (
      SELECT base.*, leftover, nunc,
             row_number() OVER (ORDER BY rem_ DESC NULLS LAST, source) AS rk
      FROM base, lo
    )
    SELECT source, n_tokens, w_scaled, CAST(capped AS INT) AS capped,
           CAST(CASE WHEN capped OR nunc = 0 THEN cap
                     ELSE base_ + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                END AS BIGINT) AS tokens_alloc,
           CAST(CASE WHEN capped OR nunc = 0 THEN cap
                     ELSE base_ + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                END AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS epochs
    FROM fin
    """,
)
def corpus_budget_epochs(spark, sf_dir):
    """Token-budget epoch allocation under the 4-epoch repeat cap
    (curation.token_budget_epochs, new r11 — the data-constrained-
    scaling mix, Muennighoff et al. 2023, composed with the mT5 tau-mix):
    a 550k-char training budget splits across sources ∝ n^(1/8), each
    source capped at 4 passes over its own chars, capped groups' excess
    water-filling to the uncapped ones in closed form (sorted fill-ratio
    prefix + exact largest-remainder apportionment — every comparison an
    integer cross-multiplication, the one pow per GROUP quantized through
    floor(x·1e6+0.5)). Constants chosen so BOTH regimes appear at every
    SF (small sources cap, large ones don't). Born r11 with a full
    DuckDB oracle; promoted into the r12 driver window (VERDICT r11
    #1)."""
    from pgdedupe_spark.operators.curation import token_budget_epochs

    out = token_budget_epochs(
        _t(spark, sf_dir, "documents"), "source", "n_chars",
        budget=550_000, max_epochs=4, tau=8.0,
    )
    # boundary cast (repo convention: no raw DECIMAL at the driver
    # boundary) — the operator's w_scaled rides DECIMAL(38,0) since r12;
    # at tau=8 every value is far below the BIGINT ceiling
    return out.withColumn("w_scaled", F.col("w_scaled").cast("long"))


@query(
    "text_ccnet_buckets",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ),
    lm AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY term),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v
            FROM lm),
    lms AS (
      SELECT term,
             CAST(ROUND(ln(CAST(c + 1 AS DOUBLE) / CAST(t + v AS DOUBLE)), 12)
                  AS DECIMAL(28,12)) AS lp
      FROM lm, tot
    ),
    pd AS (
      SELECT tk.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             sum(s.lp) AS sum_lp
      FROM tok tk JOIN lms s USING (term)
      GROUP BY tk.doc_id
    ),
    scored AS (
      SELECT d.doc_id, d.lang,
             coalesce(p.n_tokens, 0) AS n_tokens,
             CAST(p.sum_lp AS DOUBLE) / p.n_tokens AS mean_lp
      FROM documents d LEFT JOIN pd p USING (doc_id)
    ),
    has AS (
      SELECT *, ntile(3) OVER (PARTITION BY lang
                               ORDER BY mean_lp DESC, doc_id) AS bucket
      FROM scored WHERE n_tokens > 0
    )
    SELECT doc_id, lang, n_tokens, mean_lp, CAST(bucket AS INT) AS bucket,
           CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS tier
    FROM has
    UNION ALL
    SELECT doc_id, lang, n_tokens, CAST(NULL AS DOUBLE) AS mean_lp,
           0 AS bucket, 'empty' AS tier
    FROM scored WHERE n_tokens = 0
    """,
)
def text_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    §4.3; text.ccnet_buckets, new late-r10): per-language terciles of the
    corpus-unigram-LM mean log-probability — the data-selection stage
    CCNet runs after dedup (train on head, sample middle, drop tail).
    Hash-exact via the DSIR device: per-TERM logprob rounds to
    DECIMAL(28,12) on the vocabulary dimension, the per-doc sum is exact
    decimal, and the mean is one IEEE division — so the tercile order is
    bit-identical in both engines. NTILE(3) per language with doc_id
    tie-break; zero-token docs emit bucket 0 / 'empty'. Born pytest-only
    (window full); full DuckDB coverage via tests/test_oracle.py."""
    from pgdedupe_spark.operators.text import ccnet_buckets

    # materialize=True (r12 optimization round): checkpoint the
    # vocabulary-row LM fit so the scoring stage reads stored rows instead
    # of re-deriving the corpus explode per consumer — 4 corpus scans → 2,
    # bit-identical buckets (pinned in tests/test_quality.py and by this
    # row's own DuckDB oracle).
    return ccnet_buckets(
        _t(spark, sf_dir, "documents"), "doc_id", "text", lang_col="lang",
        materialize=True,
    )


@query(
    "pipeline_llm_prep",
    oracle=r"""
WITH corpus AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE source = 'src0'
), gsig AS (
  SELECT doc_id,
         len(words) AS n_words,
         CAST(coalesce(list_sum(list_transform(words, x -> len(x))), 0) AS DOUBLE)
           / CAST(greatest(len(words), 1) AS DOUBLE) AS mean_word_len,
         CAST((len(t) - len(replace(t, '#', '')))
              + (len(string_split_regex(t, '\.\.\.')) - 1)
              + (len(t) - len(replace(t, '…', ''))) AS DOUBLE)
           / CAST(greatest(len(words), 1) AS DOUBLE) AS symbol_ratio,
         CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
              AS DOUBLE) / CAST(greatest(len(words), 1) AS DOUBLE) AS frac_alpha_words
  FROM (
    SELECT doc_id, coalesce(text, '') AS t,
           list_filter(string_split_regex(coalesce(text, ''), '\s+'), x -> x <> '') AS words
    FROM corpus
  )
), gate AS (
  SELECT doc_id FROM gsig
  WHERE n_words BETWEEN 50 AND 100000
    AND mean_word_len BETWEEN 3.0 AND 10.0
    AND symbol_ratio <= 0.1 AND frac_alpha_words >= 0.8
), gated AS (
  SELECT c.* FROM corpus c JOIN gate USING (doc_id)
), keepers AS (
  SELECT max_by(doc_id, n_chars * 1000000000 + doc_id) AS doc_id
  FROM (
    SELECT regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm, doc_id, n_chars
    FROM gated
  ) GROUP BY norm
), surv AS (
  SELECT g2.* FROM gated g2 JOIN keepers USING (doc_id)
), tok AS (
  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM surv
), feats AS (
  SELECT doc_id, lang,
         unnest(list_concat(w,
           CASE WHEN len(w) >= 2
                THEN list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1])
                ELSE []::VARCHAR[] END)) AS ng
  FROM tok
), fc AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5(ng), 1, 15) AS BIGINT) % 4096 AS bucket,
         count(*) AS c
  FROM feats GROUP BY 1, 2, 3
), rb AS (SELECT bucket, sum(c) AS cr FROM fc GROUP BY 1),
tb AS (SELECT bucket, sum(c) AS ct FROM fc WHERE lang = 'en' GROUP BY 1),
dim AS (
  SELECT coalesce(rb.bucket, tb.bucket) AS bucket,
         coalesce(cr, 0) AS cr, coalesce(ct, 0) AS ct
  FROM rb FULL OUTER JOIN tb ON rb.bucket = tb.bucket
), tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM dim),
model AS (
  SELECT bucket,
         CAST(ROUND(ln((ct + 1.0) / (tt + 4096.0)) - ln((cr + 1.0) / (tr + 4096.0)), 12)
              AS DECIMAL(28,12)) AS logratio
  FROM dim, tot
), perdoc AS (
  SELECT doc_id, sum(CAST(c AS DECIMAL(9,0)) * logratio) AS lw FROM fc JOIN model USING (bucket) GROUP BY 1
), wts AS (
  SELECT s.doc_id, coalesce(CAST(lw AS DOUBLE), 0.0) AS log_weight
  FROM surv s LEFT JOIN perdoc USING (doc_id)
), keyed AS (
  SELECT doc_id, log_weight,
         CAST(ROUND(log_weight + -ln(-ln(
           CAST(CAST(concat('0x', substr(md5('dsir0:' || CAST(doc_id AS VARCHAR)), 1, 8))
                AS UBIGINT) + 1 AS DOUBLE) / 4294967297.0)), 12)
              AS DECIMAL(38,12)) AS gk
  FROM wts
)
SELECT doc_id, log_weight, sample_rank FROM (
  SELECT doc_id, log_weight,
         CAST(row_number() OVER (ORDER BY gk DESC, doc_id) AS INT) AS sample_rank
  FROM keyed
) WHERE sample_rank <= 50
""",
)
def pipeline_llm_prep(spark, sf_dir):
    """End-to-end LLM training-data prep composite, one oracle-checked
    query (new r10): crawl corpus (documents ∪ re-crawled src0 shard, the
    dedup_canonical_pick scenario) → Gopher heuristic gate → canonical
    exact-dedup keep (longest text wins, doc_id tie-break) → DSIR
    importance selection of the 50 most target-like (lang='en')
    survivors. The modern pretraining recipe — rule filter, dedup,
    learned-distribution selection — composed from gopher_quality,
    normalize_text + max_by, and dsir_sample, each independently
    oracle-checked; this row pins the COMPOSITION. The Gopher
    required-stop-words rule is waived at the gate: the synthetic corpus
    has zero English function words by construction, so rule 7 would
    empty every SF (its full contract is pinned in text_gopher_rules +
    tests/test_quality.py). Plan note: kept as ONE declarative query for
    oracle checkability, the survivor subtree (corpus → gate join →
    keepers join) is re-derived by each downstream consumer (PLANS.md
    shows 16 scans of the 500-row table); a production run materializes
    `surv` between stages — exactly the stage-boundary parquet handoff
    the CLI pipeline does — making each stage's cost the single-pass
    cost measured on its standalone row. Born pytest-only (window full);
    promoted into the r11 driver window later in r10."""
    from pgdedupe_spark.operators.curation import llm_prep

    docs = _t(spark, sf_dir, "documents")
    recrawl = docs.filter(F.col("source") == "src0").withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    # materialize=True (r12 optimization round): the declarative one-query
    # form re-derived the corpus→gate→keepers survivor subtree per
    # downstream consumer (16 scans in the r11 PLANS.md); the stage-boundary
    # checkpoint is the production CLI shape and is bit-identical (pinned in
    # tests/test_curation.py and by this row's DuckDB oracle).
    return llm_prep(
        docs.unionByName(recrawl), "doc_id", "text",
        target=F.col("lang") == "en", k=50, chars_col="n_chars",
        materialize=True,
    )


@query(
    "er_record_linkage",
    oracle="""
    WITH right_side AS (
      SELECT doc_id + 1000000 AS id_r,
             upper(substr(text, 1, 1)) || substr(text, 2) AS text_r,
             lang, source, n_chars
      FROM documents WHERE source IN ('src0', 'src1')
    ), left_side AS (
      SELECT doc_id AS id_l, text AS text_l, lang, source, n_chars FROM documents
    ), cand AS (
      SELECT id_l, id_r,
             1.0 - CAST(levenshtein(substr(text_l, 1, 60), substr(text_r, 1, 60)) AS DOUBLE)
                 / CAST(greatest(len(substr(text_l, 1, 60)), len(substr(text_r, 1, 60)), 1) AS DOUBLE)
               AS score
      FROM left_side JOIN right_side USING (lang, source, n_chars)
    ), ranked AS (
      SELECT id_l, id_r, score,
             row_number() OVER (PARTITION BY id_l ORDER BY score DESC, id_r) AS rank_l,
             row_number() OVER (PARTITION BY id_r ORDER BY score DESC, id_l) AS rank_r
      FROM cand WHERE score >= 0.8
    )
    SELECT id_l, id_r, score FROM ranked WHERE rank_l = 1 AND rank_r = 1
    """,
)
def er_record_linkage(spark, sf_dir):
    """Two-dataset record linkage (the dedupe library's RecordLink mode;
    linkage.best_match_links, new r10): link the documents table to a
    perturbed re-crawl of its src0/src1 slice (first character
    upper-cased — Levenshtein distance exactly 1) by blocking on
    (lang, source, n_chars), scoring with a JVM Levenshtein prefix
    similarity, and assigning one-to-one via symmetric best match. All
    50 perturbed records link back to their originals at sf0.01 despite
    same-block decoys; the oracle replays blocking, scoring, and both
    rank windows verbatim. Born pytest-only (window full); promoted into
    the r11 driver window later in r10."""
    from pgdedupe_spark.operators.linkage import best_match_links

    docs = _t(spark, sf_dir, "documents")
    left = docs.select(
        F.col("doc_id").alias("id_l"), F.col("text").alias("text_l"),
        "lang", "source", "n_chars",
    )
    right = docs.filter(F.col("source").isin("src0", "src1")).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("id_r"),
        F.concat(
            F.upper(F.substring(F.col("text"), 1, 1)),
            F.expr("substring(text, 2)"),
        ).alias("text_r"),
        "lang", "source", "n_chars",
    )
    a = F.substring(F.col("text_l"), 1, 60)
    b = F.substring(F.col("text_r"), 1, 60)
    score = F.lit(1.0) - F.levenshtein(a, b).cast("double") / F.greatest(
        F.length(a), F.length(b), F.lit(1)
    ).cast("double")
    cand = left.join(right, ["lang", "source", "n_chars"]).select(
        "id_l", "id_r", score.alias("score")
    )
    return best_match_links(cand, threshold=0.8)


@query(
    "er_gazetteer_match",
    oracle="""
    WITH canon AS (
      SELECT doc_id, text, lang, source, n_chars FROM documents
    ), batch AS (
      SELECT doc_id + 1000000 AS new_id,
             upper(substr(text, 1, 1)) || substr(text, 2) AS text_b,
             lang, source, n_chars
      FROM documents WHERE source IN ('src0', 'src1')
    ), cand AS (
      SELECT new_id, doc_id AS gaz_id,
             1.0 - CAST(levenshtein(substr(text_b, 1, 60), substr(text, 1, 60)) AS DOUBLE)
                 / CAST(greatest(len(substr(text_b, 1, 60)), len(substr(text, 1, 60)), 1) AS DOUBLE)
               AS score
      FROM batch JOIN canon USING (lang, source, n_chars)
    ), ranked AS (
      SELECT new_id, gaz_id, score,
             row_number() OVER (PARTITION BY new_id ORDER BY score DESC, gaz_id)
               AS rnk
      FROM cand WHERE score >= 0.8
    )
    SELECT new_id, gaz_id, score, CAST(rnk AS INT) AS rank
    FROM ranked WHERE rnk = 1
    """,
)
def er_gazetteer_match(spark, sf_dir):
    """Gazetteer-mode linkage (linkage.gazetteer_match, new r12 —
    VERDICT r11 #5, the dedupe library's third mode): the documents
    table is persisted ONCE as the canonical entity set (bucket=
    partitioned by the blocking keys' hash), then a perturbed re-crawl
    of its src0/src1 slice matches ONE-WAY against it — each new record
    takes its best canonical candidate by the Levenshtein prefix
    similarity within (lang, source, n_chars) blocks, probed buckets
    pushing as a static PartitionFilter on the records scan. One-way is
    the gazetteer contract (canonical entities may win many new
    records); the oracle replays blocking, scoring, and the single
    per-record rank window verbatim."""
    from pgdedupe_spark.operators.linkage import gazetteer_match, write_gazetteer

    docs = _t(spark, sf_dir, "documents")
    path = _serve_index_path(sf_dir, "gaz")
    write_gazetteer(
        docs, "doc_id", ["lang", "source", "n_chars"], ["text"], path
    )
    batch = docs.filter(F.col("source").isin("src0", "src1")).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("new_id"),
        F.concat(
            F.upper(F.substring(F.col("text"), 1, 1)),
            F.expr("substring(text, 2)"),
        ).alias("text"),
        "lang", "source", "n_chars",
    )
    a = F.substring(F.col("text"), 1, 60)
    b = F.substring(F.col("gaz_text"), 1, 60)
    score = F.lit(1.0) - F.levenshtein(a, b).cast("double") / F.greatest(
        F.length(a), F.length(b), F.lit(1)
    ).cast("double")
    return gazetteer_match(spark, path, batch, "new_id", score, threshold=0.8)


def _portable_minhash_ctes(pfx: str, src_cte: str) -> str:
    """The dedup_minhash_portable CTE chain (shingles → 60-bit md5 base
    hash → 64 Carter-Wegman minhashes → 16 banded md5 bucket keys),
    parameterized by source so two-table rows (er_gazetteer_fuzzy) don't
    hand-copy the constant arrays. ``src_cte`` must expose (rid, text);
    emits ``{pfx}shf`` (rid, ss) and ``{pfx}bnd`` (rid, band, bkey)."""
    from pgdedupe_spark.operators.dedup import _CW_A, _CW_B

    a = "[" + ",".join(str(v) for v in _CW_A) + "]"
    b = "[" + ",".join(str(v) for v in _CW_B) + "]"
    mh4 = ",".join(f"CAST(mh[4*b.b+{r}] AS VARCHAR)" for r in range(1, 5))
    return f"""
    {pfx}sh AS (
      SELECT rid,
             list_distinct(list_transform(range(1, greatest(len(text)-3, 2)),
                           i -> substr(text, i::int, 5))) AS ss
      FROM {src_cte}
    ), {pfx}shf AS (
      SELECT rid, ss FROM {pfx}sh WHERE len(ss) > 0
    ), {pfx}hsd AS (
      SELECT rid, ss,
             list_transform(ss, s ->
               CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647)
               AS hs
      FROM {pfx}shf
    ), {pfx}sig AS (
      SELECT rid, ss,
             list_transform(range(0, 64), k ->
               list_min(list_transform(hs, h ->
                 ({a}[k+1] * h + {b}[k+1]) % 2147483647))) AS mh
      FROM {pfx}hsd
    ), {pfx}bnd AS (
      SELECT rid, b.b AS band,
             CAST(concat('0x', substr(md5(concat_ws('|', CAST(b.b AS VARCHAR),
                  {mh4})), 1, 15)) AS BIGINT) AS bkey
      FROM {pfx}sig, (SELECT unnest(range(0, 16)) AS b) b
    )"""


@query(
    "er_gazetteer_fuzzy",
    oracle=f"""
    WITH canonsrc AS (
      SELECT doc_id AS rid, text FROM documents
    ), batchsrc AS (
      SELECT doc_id + 1000000 AS rid, text || ' qz' AS text
      FROM documents WHERE source IN ('src0', 'src1')
    ),{_portable_minhash_ctes("c", "canonsrc")},{_portable_minhash_ctes("b", "batchsrc")},
    cand AS (
      SELECT DISTINCT bb.rid AS new_id, cb.rid AS gaz_id
      FROM bbnd bb JOIN cbnd cb ON bb.band = cb.band AND bb.bkey = cb.bkey
    ), ver AS (
      SELECT new_id, gaz_id,
             len(list_intersect(s1.ss, s2.ss))::DOUBLE /
               (len(s1.ss) + len(s2.ss) - len(list_intersect(s1.ss, s2.ss)))
               AS jaccard
      FROM cand
      JOIN bshf s1 ON s1.rid = cand.new_id
      JOIN cshf s2 ON s2.rid = cand.gaz_id
    ), rk AS (
      SELECT new_id, gaz_id, jaccard,
             row_number() OVER (PARTITION BY new_id
                                ORDER BY jaccard DESC, gaz_id) AS rnk
      FROM ver WHERE jaccard >= 0.6
    )
    SELECT new_id, gaz_id, jaccard, CAST(rnk AS INT) AS rank
    FROM rk WHERE rnk = 1
    """,
)
def er_gazetteer_fuzzy(spark, sf_dir):
    """FUZZY gazetteer matching (linkage.gazetteer_fuzzy_match, new r12
    — the no-clean-block-key serve tier): the documents table persists
    ONCE as a portable-hash MinHash index (write_minhash_index, the
    dedup family's layout), then a perturbed re-crawl of its src0/src1
    slice (' qz' appended — near-dup, NOT exact) matches one-way by
    exact 5-gram Jaccard among banded-MinHash candidates. Every hash is
    the md5-derived portable family, so the DuckDB twin replays
    shingles, signatures, band keys, candidates, verify, and the
    per-record rank bit-for-bit (the dedup_minhash_portable device,
    applied two-table). Registered pytest-only at birth (window full) —
    r13 promotion candidate with full DuckDB coverage via
    tests/test_oracle.py."""
    from pgdedupe_spark.operators.dedup import write_minhash_index
    from pgdedupe_spark.operators.linkage import gazetteer_fuzzy_match

    docs = _t(spark, sf_dir, "documents")
    path = _serve_index_path(sf_dir, "fgaz")
    write_minhash_index(
        docs, "doc_id", "text", path, n=5, num_hashes=64, bands=16
    )
    batch = docs.filter(F.col("source").isin("src0", "src1")).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("new_id"),
        F.concat(F.col("text"), F.lit(" qz")).alias("text"),
    )
    return gazetteer_fuzzy_match(spark, path, batch, "new_id", threshold=0.6)


# ---------------------------------------------------------------------------
# r13: streaming-tier bench probe (VERDICT r12 #9 — streaming/ops.py was the
# only operator tier with no timed bench row, so the optimization rounds
# could not see its cost).
# ---------------------------------------------------------------------------


@query("streaming_dedup_probe")
def streaming_dedup_probe(spark, sf_dir):
    """Bench-only probe timing the streaming tier end to end, with the
    tier's own correctness contract (stream ≡ batch) riding in-band:

    1. REAL availableNow file-source stream — the watermarked hourly
       rollup over the events parquet driven through a memory sink in
       complete mode, self-checked for exact multiset equality against
       the batch twin on the same rows (``rollup_only_stream`` /
       ``rollup_only_batch`` must be 0).
    2. STATEFUL foreachBatch incremental dedup — the documents corpus
       arrives as 4 deterministic epochs (``pmod(doc_id, 4)``) against a
       fresh per-invocation state store (Bloom-delta + key + flags
       layers, streaming/ops.incremental_dedup_stream); self-check =
       the flags layer equals the batch first-wins reference ("dup iff
       an earlier-arriving doc shares the normalized text", arrival
       order (epoch, doc_id)) for every doc (``dedup_mismatches`` 0).

    State is a fresh ``tempfile.mkdtemp`` removed before returning —
    every invocation computes from the parquet inputs alone (no
    cross-run reuse; the memory-sink table is dropped too)."""
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import Window as _W  # noqa: F401 (parity with siblings)

    from pgdedupe_spark.operators.dedup import normalize_text
    from pgdedupe_spark.streaming.ops import (
        hourly_rollup_stream,
        incremental_dedup_stream,
        read_events_stream,
        run_to_memory_table,
    )

    # -- 1. real stream: watermarked hourly rollup, stream/batch parity --
    tbl = f"probe_rollup_{uuid.uuid4().hex[:8]}"
    got = run_to_memory_table(
        hourly_rollup_stream(read_events_stream(spark, sf_dir)),
        tbl,
        output_mode="complete",
    )
    from pgdedupe_spark.streaming.ops import event_time_col

    ev = _t(spark, sf_dir, "events")
    ev_t = ev.withColumn(
        "event_time", event_time_col(ev.schema["ts"].dataType.simpleString())
    )
    want = ev_t.groupBy(
        F.date_trunc("hour", "event_time").alias("hour_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )
    cols = ["hour_start", "event_type", "n_events", "sum_value"]
    only_stream = got.select(cols).exceptAll(want.select(cols)).count()
    only_batch = want.select(cols).exceptAll(got.select(cols)).count()
    rollup_rows = got.count()
    spark.catalog.dropTempView(tbl)

    # -- 2. stateful foreachBatch incremental dedup over 4 epochs --
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    store = tempfile.mkdtemp(prefix="streaming_dedup_probe_")
    try:
        fn = incremental_dedup_stream(None, store, "doc_id", "text", 1 << 20, 5)
        for e in range(4):
            fn(docs.filter(F.pmod("doc_id", F.lit(4)) == e), e)
        flags = spark.read.parquet(f"{store}/flags")
        arr = docs.select(
            "doc_id",
            F.pmod("doc_id", F.lit(4)).alias("_e"),
            normalize_text(F.col("text")).alias("_norm"),
        )
        intro = arr.groupBy("_norm").agg(
            F.min(F.struct("_e", "doc_id")).alias("_intro")
        )
        ref = arr.join(intro, "_norm").select(
            "doc_id",
            (F.struct("_e", "doc_id") != F.col("_intro")).alias("_dup_ref"),
            F.when(
                F.struct("_e", "doc_id") != F.col("_intro"),
                F.col("_intro.doc_id"),
            ).alias("_cid_ref"),
        )
        joined = flags.join(ref, "doc_id")
        dedup_mismatches = joined.filter(
            (F.col("is_dup") != F.col("_dup_ref"))
            | ~F.col("corpus_id").eqNullSafe(F.col("_cid_ref"))
        ).count()
        n_docs = flags.count()
        n_dups = flags.filter("is_dup").count()
    finally:
        shutil.rmtree(store, ignore_errors=True)

    return spark.createDataFrame(
        [
            (
                int(rollup_rows),
                int(only_stream),
                int(only_batch),
                int(n_docs),
                int(n_dups),
                int(dedup_mismatches),
                4,
            )
        ],
        "rollup_rows long, rollup_only_stream long, rollup_only_batch long, "
        "n_docs long, n_dups long, dedup_mismatches long, epochs int",
    )
