"""Self-test of the benchmark at toy scale.

    python3 -m pytest dedupebench/test_selftest.py -q

Runs every workload untraced and traced on tiny inputs and checks the
result line against BENCHMARK.json and the spans against each other. Each
Spark run takes about a minute and a half whatever the input size, because
the jobs are dominated by fixed per-job costs.
"""

from __future__ import annotations

import contextlib
import io
import itertools
import json
import os
import random
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

TOY = {"er_people": {"n_rows": 240}, "doc_near_dup": {"n_docs": 200, "n_groups": 20}}
LAYERS_RUN = {
    "er_people": ["collapse", "train", "blocking", "pairs", "score", "cluster", "cc",
                  "exact_merge", "write"],
    "doc_near_dup": ["minhash", "lsh_pairs", "cc", "write"],
}


def _bench(workload: str, trace: int, monkeypatch) -> tuple[dict, dict]:
    monkeypatch.setitem(workloads.SIZES, workload, TOY[workload])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = run.main(
            ["--workload", workload, "--seed", "7", "--seconds", "0", "--trace", str(trace)]
        )
    assert code == 0
    record, result = (json.loads(line) for line in buf.getvalue().strip().splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, record["errors"]
    declared = run._declared("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    return record, result


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_end_to_end_metrics(workload, monkeypatch):
    _, result = _bench(workload, 0, monkeypatch)
    assert all(v["value"] > 0 for v in result["metrics"].values()), result["metrics"]


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_traced_spans_nest(workload, monkeypatch):
    record, result = _bench(workload, 1, monkeypatch)
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    for layer in LAYERS_RUN[workload]:
        assert metrics[f"{layer}.wall_s"] > 0, layer
        assert metrics[f"{layer}.self_s"] >= 0, layer
    trace = record["spans"]
    roots = [s for s in trace if s["parent"] is None]
    assert [s["name"] for s in roots] == ["job"]
    for i, s in enumerate(trace):
        assert s["self_s"] >= 0, s
        kids = [c for c in trace if c["parent"] == i]
        assert sum(c["end"] - c["start"] for c in kids) <= s["end"] - s["start"] + 1e-6
        if s["parent"] is not None:
            p = trace[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (p, s)
    # self times along the one blocking path add up to the job's wall time
    wall = roots[0]["end"] - roots[0]["start"]
    assert abs(sum(s["self_s"] for s in trace) - wall) < 1e-3 * max(wall, 1.0)
    assert metrics["trace.evicted_stages"] == 0


def test_pair_counts_match_materialized_pairs():
    import pandas as pd

    rng = random.Random(0)
    pred = pd.Series([rng.randrange(8) for _ in range(60)])
    true = pd.Series([rng.randrange(6) for _ in range(60)])

    def pairs(labels):
        return {
            (i, j) for i, j in itertools.combinations(range(len(labels)), 2)
            if labels[i] == labels[j]
        }

    p, t = pairs(pred.tolist()), pairs(true.tolist())
    precision, recall = workloads._pair_counts(pred, true)
    assert precision == pytest.approx(len(p & t) / len(p))
    assert recall == pytest.approx(len(p & t) / len(t))


def test_union_length_clips_and_merges():
    assert spans._union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert spans._union_length([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == 1.0
    assert spans._union_length([], 0, 1) == 0


def test_stop_all_ends_orphaned_grandchildren():
    # the job process exits first and leaves its JVM behind, as Spark does
    run._become_subreaper()
    code = "import subprocess; print(subprocess.Popen(['sleep', '60']).pid, flush=True)"
    proc = subprocess.Popen(
        [sys.executable, "-c", code], stdout=subprocess.PIPE, text=True, start_new_session=True
    )
    orphan = int(proc.stdout.readline())
    proc.wait()
    proc.stdout.close()
    assert orphan in run._live_descendants(proc.pid)
    run._stop_all(proc.pid)
    assert not os.path.exists(f"/proc/{orphan}")
