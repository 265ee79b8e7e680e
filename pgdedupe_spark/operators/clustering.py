"""Graph clustering: connected components + per-component hierarchical
agglomerative clustering (SURVEY.md §2.7 D9, §2.8 G1).

* :func:`connected_components` replaces the reference's recursive-DFS pandas
  CC (``pgdedupe/exact_matches.py:9-40``), which crashes past Python's
  recursion limit on long chains (SURVEY §3.3). We use iterative min-label
  propagation over DataFrames — "large/small-star"-style hash joins until
  fixpoint, O(log d) rounds for diameter d; each round is one shuffle on the
  vertex id. Component label = min vertex id, observationally equivalent to
  the reference's relabel-to-min (``exact_matches.py:78``).

* :func:`cluster_components` replaces ``dedupe.matchBlocks``' fastcluster
  HAC (``pgdedupe/run.py:362-379``): candidate-pair graph → components →
  per-component average-linkage HAC cut at (1 - threshold), run inside
  ``applyInPandas`` (components are small by construction — blocking bounds
  them), pure numpy (no scipy in this environment). Per-record
  ``cluster_score`` follows dedupe's confidence definition: 1 minus the
  record's average cophenetic distance to the rest of its cluster.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# edge ceiling of connected_components' driver-side union-find fast path
CC_SMALL_GRAPH_MAX_EDGES = 500_000


def _free_local_checkpoint(df: DataFrame) -> bool:
    """Release the storage blocks behind a localCheckpoint'ed frame NOW.

    ``DataFrame.unpersist()`` is CacheManager-level and does NOT touch
    checkpoint blocks (verified empirically — the block survives), so this
    reaches the LogicalRDD's underlying RDD. A frame derived from a
    checkpoint (e.g. ``ckpt.drop(col)``) analyzes to Project/Filter nodes
    OVER the LogicalRDD, so this walks single-child wrappers down to it —
    passing only the exact checkpointed frame used to silently no-op on
    such derivations (found in review r6). Returns True iff an RDD was
    actually unpersisted, so tests can assert the release happened rather
    than trust the comment. Best-effort on failure: the GC-driven
    ContextCleaner eventually frees the blocks anyway; this just makes
    iterative algorithms hold O(1) checkpoints instead of O(rounds)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        for _ in range(16):
            if plan.getClass().getName().endswith("LogicalRDD"):
                plan.rdd().unpersist(False)
                return True
            children = plan.children()
            if children.size() != 1:
                return False
            plan = children.apply(0)
        return False
    except Exception:
        return False


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    return_rounds: bool = False,
    small_graph_max_edges: int | None = None,
) -> DataFrame:
    """Weak connected components of an undirected edge list (id1, id2).

    Returns (id, component) with component = min id reachable. Vertices only
    appear if they occur in an edge (singletons are handled by callers via
    outer-join + coalesce, as the reference does with its right join J3).

    With ``return_rounds=True`` returns ``(labels, rounds)`` where rounds
    counts propagation iterations until fixpoint — the observable that pins
    the pointer-doubling guarantee (O(log d) rounds for diameter d, NOT
    O(d); asserted in tests/test_properties.py and measured at 10M-edge
    scale by the ``cc_scale_probe`` bench query).

    Small-graph fast path (r12): composite pipelines routinely feed CC a
    few hundred post-blocking edges, where the distributed loop's cost is
    pure per-round fixed overhead (2 jobs + a checkpoint × O(log d)
    rounds — measured ~8 s for a 133-edge graph). The symmetric edge
    frame must be fully materialized for the loop anyway, so the gate is
    free: persist ``sym``, count the cache, and when it holds at most
    2×``small_graph_max_edges`` rows (default ``CC_SMALL_GRAPH_MAX_EDGES``
    edges, 0 disables) collect it — BOUNDED by
    the gate itself, the same bounded-collect discipline as the
    k-means/centroid sidecars — and label by min-id union-find,
    bit-identical to the fixpoint labels. Oversized graphs pay one cached
    count (~0.1 s); ``return_rounds=True`` (the probe observable) always
    runs the distributed loop.
    """
    if small_graph_max_edges is None:
        small_graph_max_edges = CC_SMALL_GRAPH_MAX_EDGES
    sym = (
        edges.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        .union(edges.select(F.col("id2").alias("src"), F.col("id1").alias("dst")))
        .distinct()
        # r12: hash-partition the persisted edge frame on the join key ONCE.
        # Every round joins sym on `dst`; without this the EDGE-sized frame
        # is re-exchanged every round (the single largest shuffle in the
        # loop — ~2|E| rows vs the |V|-sized label frames). The cached
        # partitioning satisfies the join's required distribution, so each
        # round exchanges only the label frame. Partition count follows
        # spark.sql.shuffle.partitions (scale-adaptive, not a local tune).
        .repartition("dst")
    )
    # Persist BEFORE the first action so the materializing pass fills the
    # sym cache (r12: persisting after the label init meant the edge
    # union+distinct+repartition pipeline ran twice — once uncached for the
    # init, once again on round 1 to populate the cache).
    sym.persist(StorageLevel.MEMORY_AND_DISK)
    if not return_rounds and small_graph_max_edges > 0:
        # the count materializes the cache the loop needs anyway
        if sym.count() <= 2 * small_graph_max_edges:
            # Arrow transfer, not .collect() (r12): at the gate ceiling the
            # Row-object collect and the pickled createDataFrame dominated
            # the fast path (~4 s at 1M sym rows vs ~0.9 s columnar). Both
            # directions of each edge ride along; the second union is a
            # no-op, so the labels are unchanged.
            tbl = sym.toArrow()  # bounded: the gate above caps this
            sym.unpersist()
            srcs = tbl.column(0).to_pylist()
            dsts = tbl.column(1).to_pylist()
            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for a, b in zip(srcs, dsts):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by min id: the root IS the component label
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            spark = edges.sparkSession
            from pyspark.sql.types import StructField, StructType

            id_type = edges.schema["id1"].dataType
            schema = StructType(
                [StructField("id", id_type, True), StructField("component", id_type, True)]
            )
            ids = list(parent)
            comps = [find(v) for v in ids]
            if any(v is None for v in ids):
                return spark.createDataFrame(list(zip(ids, comps)), schema)
            import pandas as pd

            pdf = pd.DataFrame({"id": ids, "component": comps})
            return spark.createDataFrame(pdf, schema=schema)
    # localCheckpoint (not persist): truncates the logical plan each round —
    # the iterative lineage otherwise grows superlinearly and OOMs the
    # driver's plan renderer long before the data is big. On a cluster with
    # unreliable executors, swap for checkpoint() with a checkpoint dir.
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("component"))
        .select(F.col("src").alias("id"), "component")
        .withColumn("component", F.least("id", "component"))
    ).localCheckpoint(eager=True)
    # the frame returned by localCheckpoint analyzes straight to LogicalRDD;
    # keep THAT reference for the release call — `labels` is rebound to a
    # .drop() projection over it from round 2 onward, and freeing via the
    # projection relies on the wrapper-walk above.
    prev_ckpt = labels

    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # propagate: each vertex takes min(own label, neighbours' labels,
        # label-of-label, label-of-that). The map-application terms are
        # pointer doubling — label chains shrink ~3× every round (the map
        # applies twice), so convergence takes O(log d) rounds instead of
        # O(d) on high-diameter (chain-like) graphs; two extra small joins
        # on the vertex-sized label frame per round buy it.
        # Join strategy is left to the planner + AQE: small label frames
        # broadcast (the entity-map regime), big ones shuffle — an
        # explicit SHUFFLE_HASH hint here would PREEMPT the automatic
        # broadcast and regress the small case.
        neigh = (
            sym.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("component").alias("n_comp"))
        )
        grand = labels.select(
            F.col("id").alias("component"), F.col("component").alias("g_comp")
        )
        g2 = labels.select(F.col("id").alias("_c1"), F.col("component").alias("g2_comp"))
        # carry the old label through the propagation join so convergence is
        # read off the checkpointed frame directly — no extra action per
        # round. The label map applies TWICE per round (g_comp on the old
        # label, g2_comp on the once-shortened label): label chains shrink
        # ~3× per round instead of 2×, cutting round count ~30% (measured
        # 10→7 rounds, 31.3→27.2 s on a 1M-vertex 512-chain graph) — the
        # second hop is one more join on the vertex-sized label frame,
        # cheap next to the edge-sized neighbor join, and each saved round
        # saves a whole stage barrier on a real cluster. Correctness
        # argument is unchanged: every hop takes a min over labels already
        # known to belong to the same component, monotone non-increasing.
        stepped = (
            labels.join(neigh.withColumnRenamed("src", "id"), "id", "left")
            .join(grand, "component", "left")
            .withColumn(
                "_c1",
                F.least(
                    F.col("component"),
                    F.coalesce("n_comp", "component"),
                    F.coalesce("g_comp", "component"),
                ),
            )
            .join(g2, "_c1", "left")
            .select(
                "id",
                F.col("component").alias("_old"),
                F.least(F.col("_c1"), F.coalesce("g2_comp", "_c1")).alias("component"),
            )
        ).localCheckpoint(eager=True)
        changed = stepped.filter(F.col("component") < F.col("_old")).limit(1).count()
        # the new checkpoint is materialized and lineage-truncated, so the
        # superseded round's blocks are dead — free them NOW instead of
        # waiting for GC-driven cleanup. At 10M+ vertices each round holds
        # hundreds of MB; without this the probe-scale run accumulates
        # O(rounds) cached copies (measured OOM-adjacent at cc_scale_probe
        # size before this existed). Free via the checkpointed frame itself
        # (prev_ckpt), not the .drop() projection `labels` was rebound to.
        _free_local_checkpoint(prev_ckpt)
        prev_ckpt = stepped
        labels = stepped.drop("_old")
        if changed == 0:
            break
    sym.unpersist()
    if return_rounds:
        return labels, rounds
    return labels


def _hac_average_linkage(ids: np.ndarray, dist: dict, cutoff: float):
    """Average-linkage HAC over a sparse pairwise-distance dict; missing
    pairs are treated as distance 1.0 (max). Returns list of (cluster_ids,
    per-record scores). Pure numpy/python — components are bounded by
    blocking, but a heap with lazy deletion keeps the merge loop
    O(n² log n) instead of the O(n³) rescan, so an occasional huge block
    degrades gracefully.

    Tie-break contract (must stay deterministic across runs): among equal
    distances the lexicographically-smallest (i, j) pair merges first —
    heapq's tuple order gives exactly that."""
    import heapq

    n = len(ids)
    # dense matrix; components are bounded by block size
    d = np.ones((n, n))
    np.fill_diagonal(d, 0.0)
    pos = {v: i for i, v in enumerate(ids)}
    for (a, b), v in dist.items():
        i, j = pos[a], pos[b]
        d[i, j] = d[j, i] = v
    clusters = {i: [i] for i in range(n)}
    active = set(clusters)
    cd = d.copy()
    # heap entries: (dist, i, j, version_i, version_j); a stale version
    # means cluster i or j merged since the entry was pushed — skip it
    version = [0] * n
    heap = [(cd[i, j], i, j, 0, 0) for i in range(n) for j in range(i + 1, n)]
    heapq.heapify(heap)
    while heap:
        best, bi, bj, vi, vj = heapq.heappop(heap)
        if bi not in active or bj not in active or version[bi] != vi or version[bj] != vj:
            continue
        if best > cutoff:
            break
        # merge bj into bi; average linkage update
        ni, nj = len(clusters[bi]), len(clusters[bj])
        version[bi] += 1
        for k in active:
            if k in (bi, bj):
                continue
            nv = (ni * cd[bi, k] + nj * cd[bj, k]) / (ni + nj)
            cd[bi, k] = cd[k, bi] = nv
            lo, hi = (bi, k) if bi < k else (k, bi)
            heapq.heappush(heap, (nv, lo, hi, version[lo], version[hi]))
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


def cluster_components(
    scored_pairs: DataFrame,
    threshold: float = 0.5,
    max_component_size: int | None = 10000,
) -> DataFrame:
    """scored pairs (id1, id2, score≥threshold already applied upstream) →
    entity_map (_unique_id, canon_id, cluster_score).

    canon_id = min member id (the reference uses first-member id,
    ``run.py:405-408``; with our deterministic ordering that is the min).

    ``max_component_size`` guards the one executor-OOM path left at 100 TB
    (VERDICT r9 #1): HAC materializes an O(m²) dense distance matrix per
    component, and while ``max_block_size`` caps *blocks*, chains of
    overlapping pairs can merge components far past any block bound. A
    component larger than the cap skips HAC and falls back to
    CC-label-as-cluster: the whole component becomes one cluster
    (canon = min member id — exactly what the connected-component label
    already is) with per-record confidence = mean score of the record's
    incident pairs. That is the same quality contract the reference's
    integration test checks (clusters, not linkage structure), with memory
    O(pairs-in-component) instead of O(members²). The fallback never fires
    on blocking-bounded data at test SFs; tests/test_pipeline.py plants a
    50k-member chain to pin both the semantics and the bounded footprint.
    ``None`` disables the guard (test/certification use only)."""
    edges = scored_pairs.select("id1", "id2", "score")
    comp = connected_components(edges.select("id1", "id2"))
    with_comp = (
        edges.join(comp.withColumnRenamed("id", "id1"), "id1")
        .withColumnRenamed("component", "component_")
    )

    schema = "component long, _unique_id long, canon_id long, cluster_score double"
    cutoff = 1.0 - threshold

    def _cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = np.unique(np.concatenate([pdf["id1"].values, pdf["id2"].values]))
        comp_id = int(pdf["component_"].iloc[0])
        if max_component_size is not None and len(ids) > max_component_size:
            # Giant-component fallback: no O(m²) matrix. One cluster, the
            # CC label as canon, confidence = mean incident-pair score.
            canon = int(ids.min())
            ssum = (
                pdf.groupby("id1")["score"].agg(["sum", "count"])
                .add(pdf.groupby("id2")["score"].agg(["sum", "count"]), fill_value=0.0)
            )
            mean_score = (ssum["sum"] / ssum["count"]).to_dict()
            rows = [
                (comp_id, int(m), canon, float(mean_score[int(m)])) for m in ids
            ]
            return pd.DataFrame(
                rows, columns=["component", "_unique_id", "canon_id", "cluster_score"]
            )
        dist = {
            (r.id1, r.id2): 1.0 - float(r.score)
            for r in pdf.itertuples(index=False)
        }
        rows = []
        for mids, scores in _hac_average_linkage(ids, dist, cutoff=cutoff):
            canon = int(min(mids))
            for m, s in zip(mids, scores):
                rows.append((comp_id, int(m), canon, float(s)))
        return pd.DataFrame(rows, columns=["component", "_unique_id", "canon_id", "cluster_score"])

    return (
        with_comp.groupBy("component_")
        .applyInPandas(_cluster, schema=schema)
        .select("_unique_id", "canon_id", "cluster_score")
    )


def connected_components_incremental(
    labels: DataFrame,
    new_edges: DataFrame,
    max_iter: int = 50,
    return_rounds: bool = False,
) -> DataFrame:
    """Update a standing (id, component) labeling with a batch of new
    edges WITHOUT re-running CC over the original edge set — the
    clustering-side twin of ``dedup.incremental_dedup`` (new r7).

    A converged labeling IS a transitively-closed edge set: every id →
    component edge is depth-1 (star-shaped). So CC over
    ``new_edges ∪ labels-as-edges`` produces exactly the labeling a full
    recompute over (old ∪ new) edges would (equivalence pinned in
    tests/test_properties.py), while the iterative work collapses: the
    propagation distance is the diameter of the COMPONENT contact graph
    induced by the new batch, not the raw graph's — on a high-diameter
    graph that's the difference between O(log d) rounds from scratch and
    ~2-3 rounds per batch (round-collapse pinned). Old vertices that the
    batch doesn't touch keep their component label (min-id labels are
    stable under union), so downstream relabel joins only move rows whose
    component actually changed. Singleton vertices (id == component) ride
    through as self-edges and stay labeled."""
    lab_edges = labels.select(
        F.col("id").alias("id1"), F.col("component").alias("id2")
    )
    edges = new_edges.select("id1", "id2").union(lab_edges)
    return connected_components(edges, max_iter=max_iter, return_rounds=return_rounds)
