"""Spans around the package's layer entry points, with Spark stage metrics.

A traced job replaces each layer's public function, where its caller looks
it up, with a wrapper that opens a span, sets a Spark job group named after
the span, calls the real function, materializes the returned frame
(``persist`` + ``count``) so the layer's work happens inside its span, and
closes the span. After each span the wrapper reads the stage metrics of the
span's own job group from the driver's status store. That reads the
store the UI would read; it works with the UI off and runs no Spark action.

Stage and job metrics belong to the span whose group launched them, so a
parent's ``exec_s`` excludes its children's stages, while its ``wall_s``
includes them.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from dataclasses import dataclass, field

LAYERS = [
    "collapse", "train", "blocking", "pairs", "score", "cluster", "cc",
    "exact_merge", "write", "minhash", "lsh_pairs",
]
COUNTERS = "counters"
LAYER_COUNTERS = [
    "blocking.blocks", "blocking.max_block", "pairs.guard_dropped", "score.kept_ratio",
    "cluster.components", "cluster.giant", "cluster.guard_hits", "exact_merge.relabels",
    "lsh_pairs.verify_ratio", "cc.driver_path",
]
LAYER_STATS = [
    "wall_s", "self_s", "exec_s", "driver_s", "tasks", "shuffle_mb", "spill_mb",
    "skew", "rows_out",
]


@dataclass
class Span:
    layer: str
    group: str
    parent: int | None
    job_id: int
    start: float
    end: float = 0.0
    rows_out: int = 0
    exec_ms: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    stage_intervals: list = field(default_factory=list)
    top_stage_ms: int = -1
    top_stage_skew: float = 0.0
    spark_jobs: list = field(default_factory=list)
    output: object = None

    @property
    def wall(self) -> float:
        return self.end - self.start


def _union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Holds the spans of one traced job in memory."""

    def __init__(self, spark, job_id: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.job_id = job_id
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.evicted_stages = 0
        self.evicted_jobs = 0
        self.counters: dict[str, float] = {}
        self.buckets = None  # the minhash band-bucket frame, for lsh_pairs
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, f"{span.layer} (job {span.job_id})")

    @contextlib.contextmanager
    def span(self, layer: str):
        parent = self.stack[-1] if self.stack else None
        idx = len(self.spans)
        s = Span(layer, f"dedupebench-{self.job_id}-{idx}", parent, self.job_id, 0.0)
        self.spans.append(s)
        self.stack.append(idx)
        self._set_group(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self.stack.pop()
            self._set_group(self.spans[parent] if parent is not None else None)
            self._collect(s)

    def untimed(self):
        """A span for counter queries. Its Spark jobs carry a group of their
        own, so no layer's stage metrics include them, and its time is
        reported as ``trace.counter_s`` instead of as any layer's."""
        return self.span(COUNTERS)

    def _collect(self, s: Span) -> None:
        # status-store updates arrive through the listener bus; drain it so
        # the stages of the span's last job are visible
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        top_sid = None
        for jid in tracker.getJobIdsForGroup(s.group):
            info = tracker.getJobInfo(jid)
            if info is None:
                self.evicted_jobs += 1
                continue
            try:
                s.spark_jobs.append(self._store.job(jid).name())
            except Exception:  # noqa: BLE001 - job evicted between calls
                s.spark_jobs.append("")
            for sid in info.stageIds:
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - NoSuchElementException: evicted
                    self.evicted_stages += 1
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                s.exec_ms += st.executorRunTime()
                s.tasks += st.numTasks()
                s.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
                s.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    s.stage_intervals.append(
                        (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                    )
                if st.executorRunTime() > s.top_stage_ms:
                    s.top_stage_ms = st.executorRunTime()
                    top_sid = (sid, st.attemptId(), st.numTasks())
        if top_sid is not None:
            s.top_stage_skew = self._skew(*top_sid)

    def _skew(self, sid: int, attempt: int, n_tasks: int) -> float:
        try:
            tasks = self._store.taskList(sid, attempt, max(n_tasks, 1))
        except Exception:  # noqa: BLE001 - task data evicted
            self.evicted_stages += 1
            return 0.0
        times = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                times.append(d.get())
        if not times:
            return 0.0
        times.sort()
        med = times[len(times) // 2] if len(times) % 2 else (
            times[len(times) // 2 - 1] + times[len(times) // 2]) / 2
        return max(times) / med if med > 0 else 1.0

    # -- reporting ---------------------------------------------------------

    def self_time(self, i: int) -> float:
        s = self.spans[i]
        kids = [(c.start, c.end) for c in self.spans if c.parent == i]
        return s.wall - _union_length(kids, s.start, s.end)

    def driver_time(self, i: int) -> float:
        """Self time not covered by any of the span's own stages."""
        s = self.spans[i]
        kids = [(c.start, c.end) for c in self.spans if c.parent == i]
        busy = _union_length(kids + s.stage_intervals, s.start, s.end)
        return s.wall - busy

    def layer_metrics(self, cores: int) -> dict[str, float]:
        out: dict[str, float] = {}
        for layer in LAYERS:
            idx = [i for i, s in enumerate(self.spans) if s.layer == layer]
            spans = [self.spans[i] for i in idx]
            top = max(spans, key=lambda s: s.top_stage_ms, default=None)
            vals = {
                "wall_s": sum(s.wall for s in spans),
                "self_s": sum(self.self_time(i) for i in idx),
                "exec_s": sum(s.exec_ms for s in spans) / 1000.0,
                "driver_s": sum(self.driver_time(i) for i in idx),
                "tasks": sum(s.tasks for s in spans),
                "shuffle_mb": sum(s.shuffle_bytes for s in spans) / 2**20,
                "spill_mb": sum(s.spill_bytes for s in spans) / 2**20,
                "skew": top.top_stage_skew if top is not None else 0.0,
                "rows_out": sum(s.rows_out for s in spans),
            }
            for k in LAYER_STATS:
                out[f"{layer}.{k}"] = vals[k]
        root = [i for i, s in enumerate(self.spans) if s.parent is None]
        counted = [s for s in self.spans if s.layer != COUNTERS]
        counter_s = sum(s.wall for s in self.spans if s.layer == COUNTERS)
        wall = sum(self.spans[i].wall for i in root) - counter_s
        exec_s = sum(s.exec_ms for s in counted) / 1000.0
        out["job.wall_s"] = wall
        out["job.self_s"] = sum(self.self_time(i) for i in root)
        out["job.parallel_eff"] = exec_s / (wall * cores) if wall > 0 else 0.0
        out["job.spark_jobs"] = sum(len(s.spark_jobs) for s in counted)
        out["trace.counter_s"] = counter_s
        out["trace.evicted_stages"] = self.evicted_stages + self.evicted_jobs
        return out

    def span_records(self) -> list[dict]:
        return [
            {
                "name": s.layer, "job_id": s.job_id, "parent": s.parent,
                "start": s.start, "end": s.end, "self_s": self.self_time(i),
                "exec_s": s.exec_ms / 1000.0, "rows_out": s.rows_out,
            }
            for i, s in enumerate(self.spans)
        ]


# -- layer wrappers ----------------------------------------------------------


def install(tracer: Tracer):
    """Wrap every layer entry point where its caller looks it up; returns a
    function that puts the real ones back."""
    from pyspark.sql import functions as F

    restore = []
    counts = tracer.counters

    def patch(module: str, attr: str, layer: str, pick=lambda out: out, after=None):
        mod = importlib.import_module(module)
        real = getattr(mod, attr)

        @functools.wraps(real)
        def wrapper(*args, **kwargs):
            with tracer.span(layer) as s:
                out = real(*args, **kwargs)
                frame = pick(out)
                if hasattr(frame, "persist"):
                    s.output = frame.persist()
                    s.rows_out = frame.count()
                else:
                    s.rows_out = len(frame) if isinstance(frame, list) else 0
            if after is not None:
                with tracer.untimed():
                    after(s, out, kwargs)
            return out

        setattr(mod, attr, wrapper)
        restore.append((mod, attr, real))

    def children(s: Span, layer: str) -> list[Span]:
        i = tracer.spans.index(s)
        return [c for c in tracer.spans if c.parent == i and c.layer == layer]

    def add(name: str, value: float) -> None:
        counts[name] = counts.get(name, 0) + value

    def after_blocking(s, out, kw):
        add("blocking.blocks", out[1].count())

    def after_score(s, out, kw):
        add("_score.kept", s.rows_out)

    def after_pairs(s, out, kw):
        add("_pairs.candidates", s.rows_out)

    def after_cc(s, out, kw):
        # the union-find path's bounded collect is its only toArrow job
        union_find = any(name.startswith("toArrow") for name in s.spark_jobs)
        add("_cc.calls", 1)
        add("_cc.union_find", int(union_find))

    def after_cluster(s, out, kw):
        cap = kw.get("max_component_size", 10000)
        over_cap = (F.col("count") > cap) if cap is not None else F.lit(False)
        for c in children(s, "cc"):
            row = (
                c.output.groupBy("component").count()
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.max("count").alias("giant"),
                    F.sum(over_cap.cast("long")).alias("hits"),
                )
                .first()
            )
            add("cluster.components", row["n"])
            counts["cluster.giant"] = max(counts.get("cluster.giant", 0), row["giant"] or 0)
            add("cluster.guard_hits", row["hits"] or 0)

    def after_exact_merge(s, out, kw):
        for c in children(s, "cc"):
            add("exact_merge.relabels", c.output.filter(F.col("id") != F.col("component")).count())

    def after_minhash(s, out, kw):
        tracer.buckets = out[1]

    def after_lsh(s, out, kw):
        b = tracer.buckets
        cands = (
            b.alias("a").join(
                b.alias("b"),
                (F.col("a._band") == F.col("b._band"))
                & (F.col("a._bkey") == F.col("b._bkey"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .select(F.col("a._id"), F.col("b._id"))
            .distinct()
            .count()
        )
        add("_lsh.candidates", cands)
        add("_lsh.verified", s.rows_out)

    P = "pgdedupe_spark."
    patch(P + "pipeline", "collapse_exact_duplicates", "collapse")
    patch(P + "ml.training", "fit_classifier", "train", pick=lambda out: [])
    patch(P + "ml.learning", "learn_blocking_rules", "train")
    patch(P + "pipeline", "blocking_chain", "blocking", pick=lambda out: out[4], after=after_blocking)
    patch(P + "pipeline", "candidate_pairs", "pairs", after=after_pairs)
    patch(P + "pipeline", "assemble_features", "score", pick=lambda out: out[0])
    patch(P + "pipeline", "score_pairs", "score", after=after_score)
    patch(P + "pipeline", "cluster_components", "cluster", after=after_cluster)
    patch(P + "operators.clustering", "connected_components", "cc", after=after_cc)
    patch(P + "operators.exact_merge", "connected_components", "cc", after=after_cc)
    patch(P + "pipeline", "merge_exact", "exact_merge", after=after_exact_merge)
    patch(P + "operators.dedup", "_minhash_shingles_and_buckets", "minhash",
          pick=lambda out: out[1], after=after_minhash)
    patch(P + "operators.dedup", "minhash_lsh_pairs", "lsh_pairs", after=after_lsh)

    def uninstall() -> None:
        for mod, attr, real in reversed(restore):
            setattr(mod, attr, real)

    return uninstall


def counter_metrics(tracer: Tracer) -> dict[str, float]:
    """The ten layer-specific counts; 0 where the layer did not run."""
    c = tracer.counters
    out = {name: float(c.get(name, 0)) for name in LAYER_COUNTERS}
    if c.get("_pairs.candidates"):
        out["score.kept_ratio"] = c.get("_score.kept", 0) / c["_pairs.candidates"]
    if c.get("_lsh.candidates"):
        out["lsh_pairs.verify_ratio"] = c["_lsh.verified"] / c["_lsh.candidates"]
    if c.get("_cc.calls"):
        out["cc.driver_path"] = c["_cc.union_find"] / c["_cc.calls"]
    return out
