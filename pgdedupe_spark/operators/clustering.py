"""Graph clustering: connected components + per-component hierarchical
agglomerative clustering (SURVEY.md §2.7 D9, §2.8 G1).

* :func:`connected_components` replaces the reference's recursive-DFS pandas
  CC (``pgdedupe/exact_matches.py:9-40``), which crashes past Python's
  recursion limit on long chains (SURVEY §3.3). We use iterative min-label
  propagation over DataFrames — "large/small-star"-style hash joins until
  fixpoint, O(log d) rounds for diameter d; each round is one shuffle on the
  vertex id. Component label = min vertex id, observationally equivalent to
  the reference's relabel-to-min (``exact_matches.py:78``). A graph of at
  most ``CC_SMALL_GRAPH_MAX_EDGES`` edge rows skips the loop: one bounded
  Arrow collect, then min-id union-find on the driver.

* :func:`cluster_components` replaces ``dedupe.matchBlocks``' fastcluster
  HAC (``pgdedupe/run.py:362-379``): candidate-pair graph → components →
  per-component average-linkage HAC cut at (1 - threshold), run by one
  ``mapInArrow`` pass per partition over the component-sorted pairs, pure
  numpy (no scipy in this environment). Every
  component takes the same path; HAC keeps only the component's scored
  pairs, so its memory grows with pairs, not members squared. Per-record
  ``cluster_score`` follows dedupe's confidence definition: 1 minus the
  record's average input distance to the rest of its cluster (1.0 for
  an unscored pair).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
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


def _uf_labels(edges: DataFrame, srcs: list, dsts: list) -> DataFrame:
    """(id, component) by min-id union-find over the collected edge rows;
    the component label is the smallest id reachable, as in the loop."""
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
    id_type = edges.schema["id1"].dataType
    schema = StructType(
        [StructField("id", id_type, True), StructField("component", id_type, True)]
    )
    ids = list(parent)
    comps = [find(v) for v in ids]
    pdf = pd.DataFrame({"id": ids, "component": comps})
    return edges.sparkSession.createDataFrame(pdf, schema=schema)


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    return_rounds: bool = False,
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
    rounds — measured ~8 s for a 133-edge graph). The gate is one bounded
    Arrow collect of the raw edge rows: ``limit(CC_SMALL_GRAPH_MAX_EDGES +
    1).toArrow()``, the same bounded-collect discipline as the
    k-means/centroid sidecars. When it returns at most
    ``CC_SMALL_GRAPH_MAX_EDGES`` rows, min-id union-find labels them,
    bit-identical to the fixpoint labels (duplicate and reversed edges
    change no union-find label), with no shuffle at all. An oversized
    graph's loop recomputes the edge frame, so a caller whose edge query is
    expensive persists its input first, as ``near_duplicate_clusters``
    does. ``return_rounds=True`` (the probe observable) always runs the
    distributed loop.
    """
    # an edge with a NULL endpoint links nothing: SQL `=` never matches
    # NULL, the same semantics exact_merge relies on (J5)
    edges = edges.filter(F.col("id1").isNotNull() & F.col("id2").isNotNull()).select(
        "id1", "id2"
    )
    if not return_rounds:
        # Arrow transfer, not .collect() (r12): at the gate ceiling the
        # Row-object collect and the pickled createDataFrame dominated
        # the fast path (~4 s at 1M rows vs ~0.9 s columnar)
        tbl = edges.limit(CC_SMALL_GRAPH_MAX_EDGES + 1).toArrow()
        if tbl.num_rows <= CC_SMALL_GRAPH_MAX_EDGES:
            return _uf_labels(
                edges, tbl.column(0).to_pylist(), tbl.column(1).to_pylist()
            )
    sym = (
        edges.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        .union(edges.select(F.col("id2").alias("src"), F.col("id1").alias("dst")))
        .distinct()
        # r12: hash-partition the persisted edge frame on the join key
        # ONCE. Every round joins sym on `dst`; without this the
        # EDGE-sized frame is re-exchanged every round (the single
        # largest shuffle in the loop — ~2|E| rows vs the |V|-sized
        # label frames). The cached partitioning satisfies the join's
        # required distribution, so each round exchanges only the label
        # frame. Partition count follows spark.sql.shuffle.partitions
        # (scale-adaptive, not a local tune).
        .repartition("dst")
    )
    # Persist BEFORE the first action so the materializing pass fills
    # the sym cache (r12: persisting after the label init meant the edge
    # union+distinct+repartition pipeline ran twice — once uncached for
    # the init, once again on round 1 to populate the cache).
    sym.persist(StorageLevel.MEMORY_AND_DISK)
    # localCheckpoint (not persist): truncates the logical plan each
    # round — the iterative lineage otherwise grows superlinearly and
    # OOMs the driver's plan renderer long before the data is big. On a
    # cluster with unreliable executors, swap for checkpoint() with a
    # checkpoint dir.
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
    per-record scores).

    State is sparse: one dict per cluster holding only its linkages below
    1.0, and the heap holds only those. That is exact, not an
    approximation: a linkage between clusters adjacent to neither side of
    a merge updates to (ni + nj) / (ni + nj) = 1.0, so only the merged
    pair's neighbours change, and a pair at 1.0 can only merge once every
    active pair is at 1.0. Memory grows with the component's pairs, not
    with its members squared. Input distances lie in [0, 1]; a pair at
    exactly 1.0 is the same as a missing one and is not stored.

    Tie-break contract (must stay deterministic across runs): among equal
    distances the lexicographically-smallest (i, j) pair merges first —
    heapq's tuple order gives exactly that. With ``cutoff >= 1`` the
    clusters left when the heap empties all sit at 1.0 from each other,
    so they merge in that same ascending order."""
    import heapq

    n = len(ids)
    pos = {v: i for i, v in enumerate(ids)}
    # d0[i]: the input distances below 1.0 (kept for the per-record scores)
    d0 = [{} for _ in range(n)]
    for (a, b), v in dist.items():
        i, j = pos[a], pos[b]
        if i == j:
            continue
        if v < 1.0:
            d0[i][j] = d0[j][i] = v
        else:
            d0[i].pop(j, None)
            d0[j].pop(i, None)
    cd = [dict(row) for row in d0]
    clusters = {i: [i] for i in range(n)}
    active = set(clusters)
    # heap entries: (dist, i, j, version_i, version_j); a stale version
    # means cluster i or j merged since the entry was pushed — skip it
    version = [0] * n
    heap = [(v, i, j, 0, 0) for i in range(n) for j, v in cd[i].items() if i < j]
    heapq.heapify(heap)
    while heap:
        best, bi, bj, vi, vj = heapq.heappop(heap)
        if bi not in active or bj not in active or version[bi] != vi or version[bj] != vj:
            continue
        if best > cutoff:
            break
        # merge bj into bi; average linkage update over their neighbours
        ni, nj = len(clusters[bi]), len(clusters[bj])
        version[bi] += 1
        ci, cj = cd[bi], cd[bj]
        merged = {}
        for k in ci.keys() | cj.keys():
            if k == bi or k == bj:
                continue
            nv = (ni * ci.get(k, 1.0) + nj * cj.get(k, 1.0)) / (ni + nj)
            ck = cd[k]
            ck.pop(bj, None)
            if nv < 1.0:
                merged[k] = ck[bi] = nv
                lo, hi = (bi, k) if bi < k else (k, bi)
                heapq.heappush(heap, (nv, lo, hi, version[lo], version[hi]))
            else:
                ck.pop(bi, None)
        cd[bi] = merged
        cd[bj] = {}
        clusters[bi].extend(clusters[bj])
        active.discard(bj)
    if cutoff >= 1.0 and len(active) > 1:
        rest = sorted(active)
        for k in rest[1:]:
            clusters[rest[0]].extend(clusters[k])
        active = {rest[0]}
    out = []
    loc = np.full(n, -1, dtype=np.int64)
    for i in sorted(active):
        members = clusters[i]
        if len(members) < 2:
            continue
        loc[members] = np.arange(len(members))
        mids = [ids[m] for m in members]
        scores = []
        for p, m in enumerate(members):
            # m's input distances to the rest of its cluster, in member
            # order, 1.0 where no pair was scored
            row = np.ones(len(members))
            if d0[m]:
                nb = np.fromiter(d0[m].keys(), dtype=np.int64, count=len(d0[m]))
                dv = np.fromiter(d0[m].values(), dtype=np.float64, count=len(d0[m]))
                at = loc[nb]
                row[at[at >= 0]] = dv[at >= 0]
            scores.append(1.0 - float(np.mean(np.delete(row, p))))
        out.append((mids, scores))
        loc[members] = -1
    return out


def cluster_components(scored_pairs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """scored pairs (id1, id2, score≥threshold already applied upstream) →
    entity_map (_unique_id, canon_id, cluster_score).

    canon_id = min member id (the reference uses first-member id,
    ``run.py:405-408``; with our deterministic ordering that is the min).

    Every component runs HAC, as the reference does. The pairs are
    hash-partitioned and sorted on their component, and one ``mapInArrow``
    call per partition walks the sorted batches, running HAC on each
    component once its last row has arrived. The component still open is
    kept as a list of batch slices and concatenated once when it closes,
    so a component spanning many batches costs O(rows). HAC's state is
    sparse, so an executor holds O(largest component + one batch)."""
    edges = scored_pairs.select("id1", "id2", "score")
    comp = connected_components(edges.select("id1", "id2"))
    with_comp = edges.join(comp.withColumnRenamed("id", "id1"), "id1").select(
        F.col("component").alias("component_"), "id1", "id2", "score"
    )
    cutoff = 1.0 - threshold
    out_schema = "_unique_id long, canon_id long, cluster_score double"

    def _cluster(parts: list) -> list:
        # parts: the component's (id1, id2, score) numpy slices, in order
        id1 = np.concatenate([p[0] for p in parts])
        id2 = np.concatenate([p[1] for p in parts])
        dist = 1.0 - np.concatenate([p[2] for p in parts]).astype(np.float64)
        ids = np.unique(np.concatenate([id1, id2]))
        pairs = dict(zip(zip(id1.tolist(), id2.tolist()), dist.tolist()))
        rows = []
        for mids, scores in _hac_average_linkage(ids, pairs, cutoff=cutoff):
            canon = int(min(mids))
            rows.extend((int(m), canon, float(sc)) for m, sc in zip(mids, scores))
        return rows

    def _batch(rows: list):
        uid, canon, score = zip(*rows)
        return pa.RecordBatch.from_arrays(
            [pa.array(uid, pa.int64()), pa.array(canon, pa.int64()), pa.array(score, pa.float64())],
            names=["_unique_id", "canon_id", "cluster_score"],
        )

    def batches(it):
        open_comp, open_parts = None, []
        for b in it:
            if b.num_rows == 0:
                continue
            c, i1, i2, sc = (b.column(k).to_numpy(zero_copy_only=False) for k in range(4))
            # segment bounds: the batch ends and every component change
            cuts = (np.flatnonzero(c[1:] != c[:-1]) + 1).tolist()
            bounds = [0, *cuts, len(c)]
            rows = []
            for s0, e0 in zip(bounds, bounds[1:]):
                part = (i1[s0:e0], i2[s0:e0], sc[s0:e0])
                if c[s0] == open_comp:
                    # only a batch's first segment can continue the open one
                    open_parts.append(part)
                    continue
                if open_parts:
                    rows.extend(_cluster(open_parts))
                open_comp, open_parts = c[s0], [part]
            if rows:
                yield _batch(rows)
        if open_parts:
            rows = _cluster(open_parts)
            if rows:
                yield _batch(rows)

    return (
        with_comp.repartition("component_")
        .sortWithinPartitions("component_", "id1", "id2")
        .mapInArrow(batches, schema=out_schema)
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
