"""Link-graph analysis: PageRank over an edge table.

Corpus curation at web scale ranks documents by the link graph (domain
authority / harmonic-centrality-style signals feed quality filters and
crawl prioritization) — this module is the iterative sibling of
`clustering.connected_components` for that job: where CC answers "which
pages are the same site", PageRank answers "which sites matter".

Exact-arithmetic contract: ranks are BIGINT micro-units (``scale`` =
total mass, default 10^12) and every update is integer ``div``/sum —
truncating integer division and BIGINT addition are order-independent
and bit-identical across engines, so a fixed-iteration run hash-matches
an unrolled ANSI-SQL oracle exactly (floating-point PageRank cannot:
partial-aggregation order would flip low bits). Truncation bleeds < 1
unit per division, so total mass decays by at most (E + 2V) units per
round — monotone, bounded, and pinned in tests.

Plan shape (the 100 TB argument): each round is
  * one equi-join of ranks onto the out-degree table (vertex-keyed),
  * one equi-join of per-source shares onto edges + a sum keyed by dst,
  * one left join of contributions back onto the vertex set —
all hash exchanges on vertex id, the same key every round, so a
cluster reuses co-partitioning across the whole run; nothing is ever
broadcast except the two driver-side scalars (vertex count, dangling
mass — both bounded single-row collects). Out-degrees and the vertex
set are computed once and persisted. Lineage is truncated with
``localCheckpoint`` every ``checkpoint_every`` rounds (the CC rule —
`clustering.py`), keeping O(1) plan depth however many rounds run.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# logical-plan nodes whose recompute is free of I/O and shuffles: a frame
# built ONLY from these re-derives per round for less than a columnar
# cache build + scan costs (see the persist gate in :func:`pagerank`)
_CHEAP_PLAN_NODES = frozenset(
    {"Project", "Filter", "Range", "LocalRelation", "SubqueryAlias",
     "Union", "OneRowRelation"}
)


def _cheap_lineage(df: DataFrame) -> bool:
    """True when every node of ``df``'s optimized logical plan is a pure
    in-plan synthesis (Range/LocalRelation + narrow ops) — recomputing it
    does no I/O and crosses no exchange. Used only to pick a caching
    strategy; a wrong answer costs speed, never correctness."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:  # noqa: BLE001 — unknown plan: treat as expensive
        return False
    nodes = re.findall(r"^[\s:+\-*(0-9)]*([A-Za-z]+)", plan, flags=re.M)
    return bool(nodes) and all(n in _CHEAP_PLAN_NODES for n in nodes)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping_pct: int = 85,
    iterations: int = 3,
    scale: int = 10**12,
    tol: int | None = None,
    checkpoint_every: int = 5,
    dangling_inline: bool = True,
) -> DataFrame:
    """PageRank over ``edges`` (one row per directed edge; keep
    multi-edges if multiplicity should weight the walk, `.distinct()`
    first if not). Returns ``(v, r)``: vertex id and its rank in
    integer ``scale`` units (divide by ``scale`` for the probability).

    ``damping_pct`` is the damping factor in percent (85 ⇒ 0.85) so the
    update stays in exact integer space. Dangling mass (vertices with
    no out-edges) is redistributed uniformly, the standard correction.
    With ``tol`` set, iteration stops early once the L1 rank delta (in
    scale units) drops to ``tol`` or below; ``iterations`` stays the
    hard cap either way.

    ``dangling_inline`` (default, VERDICT r8 #6) folds the dangling-mass
    aggregate into the step job as a broadcast 1-row cross join, so a
    tol-less round runs as ONE Spark job (the checkpoint materialization)
    instead of two — identical integer arithmetic, same oracle, half the
    per-round driver round-trips (pinned in tests/test_graph.py).
    ``False`` keeps the original collected-scalar path."""
    from pgdedupe_spark.operators.clustering import _free_local_checkpoint

    # r12: hash-partition the persisted EDGE frame on `src` once — every
    # round's contribution join streams `e` on src, and without the cached
    # partitioning the edge frame (the biggest thing in the loop) was
    # re-exchanged every round. deg then derives from the partitioned cache
    # with no exchange of its own, and `shares` (built by joining ranks onto
    # deg on src) arrives at the e-join already src-partitioned, so the
    # edge join runs exchange-free. verts comes out of distinct() already
    # hash-partitioned on v, which the final contribution join reuses.
    # Partition counts follow spark.sql.shuffle.partitions (scale-adaptive).
    #
    # r13 (VERDICT r12 #5): the persist is GATED on lineage cost. For a
    # purely synthetic edge frame (Range + narrow ops — the
    # pagerank_scale_probe regime) re-deriving the edges per round is
    # nearly free and the vertex-sized join side broadcasts under AQE, so
    # the columnar cache build + per-round cache scans are pure overhead
    # (builder A/B measured the r12 persist flat-to-worse at probe scale,
    # 18.6 → 22.0 s). Any frame with real lineage — a file scan, a join,
    # an exchange — keeps the r12 treatment (the sf0.1 2.8× win).
    raw = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = raw if _cheap_lineage(raw) else raw.repartition("src").persist()
    verts = (
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .distinct()
        .persist()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg")).persist()
    n = verts.count()
    if n == 0:
        verts.unpersist()
        deg.unpersist()
        e.unpersist()
        return verts.withColumn("r", F.lit(0).cast("long"))
    base = ((100 - damping_pct) * scale) // (100 * n)

    # CC's iterative rule (clustering.py): eager localCheckpoint per round
    # truncates lineage to O(1) plan depth, and the superseded round's
    # blocks are released immediately — nothing cached leaks to the caller.
    ranks = verts.withColumn("r", F.lit(scale // n).cast("long")).localCheckpoint(
        eager=True
    )
    prev_ckpt = ranks
    for _ in range(iterations):
        # Join strategy stays with the planner + AQE (broadcast when
        # small) — a forced SHUFFLE_HASH hint would preempt the broadcast
        # path.
        shares = ranks.join(
            deg, ranks["v"] == deg["src"], "inner"
        ).select(F.col("src"), F.expr("r div _deg").alias("_share"))
        contribs = e.join(shares, "src").groupBy("dst").agg(
            F.sum("_share").alias("_c")
        )
        dangling_agg = (
            ranks.join(deg, ranks["v"] == deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0)).alias("_dm"))
        )
        if dangling_inline:
            # this round's dangling mass rides INTO the step job as a
            # broadcast 1-row cross join — per_v = _dm div n inside the
            # plan, no driver scalar, one job per round (VERDICT r8 #6)
            stepped = (
                verts.join(contribs, verts["v"] == contribs["dst"], "left")
                .crossJoin(F.broadcast(dangling_agg))
                .select(
                    "v",
                    (
                        F.lit(base)
                        + F.expr(
                            f"({damping_pct} * (coalesce(_c, 0L) + (_dm div {n}))) div 100"
                        )
                    ).cast("long").alias("r"),
                )
                .localCheckpoint(eager=True)
            )
        else:
            # original path: bounded driver scalar (one row out per round)
            dangling = dangling_agg.collect()[0]["_dm"]
            per_v = dangling // n
            stepped = (
                verts.join(contribs, verts["v"] == contribs["dst"], "left")
                .select(
                    "v",
                    (
                        F.lit(base)
                        + F.expr(
                            f"({damping_pct} * (coalesce(_c, 0L) + {per_v})) div 100"
                        )
                    ).cast("long").alias("r"),
                )
                .localCheckpoint(eager=True)
            )
        if tol is not None:
            # bounded driver scalar #2: L1 delta between two checkpointed
            # vertex-sized frames (one row out)
            delta = (
                ranks.withColumnRenamed("r", "_r0")
                .join(stepped, "v")
                .agg(F.sum(F.abs(F.col("r") - F.col("_r0"))).alias("d"))
                .collect()[0]["d"]
            )
        else:
            delta = None
        _free_local_checkpoint(prev_ckpt)
        prev_ckpt = stepped
        ranks = stepped
        if delta is not None and delta <= tol:
            break
    verts.unpersist()
    deg.unpersist()
    e.unpersist()
    return ranks
