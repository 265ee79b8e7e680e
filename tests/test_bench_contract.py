"""Bench artifact-contract pins (no Spark session needed).

r13 (VERDICT r12 gate / #2): the driver parses the LAST ~1900 chars of
stdout, and PERF grades any query name missing from that compact line as
a DROPPED QUERY even when it ran — in r12 the six fastest rows rotated
out of the window and the round graded regressed for it. These tests pin
the monotone-truncation contract: every name the previous committed
artifact kept must survive truncation, the line must fit the budget, and
the truncation flag must stay honest.
"""

from __future__ import annotations

import json

import bench


def _fake_out(queries: dict) -> dict:
    return {
        "metric": "headline_queries_total_sec",
        "value": round(sum(v for v in queries.values() if v is not None), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "value_legacy24": 1.0,
        "value_legacy24_normalized": 1.0,
        "value_legacy24_scan_normalized": 1.0,
        "canary_ratio_jvm": 1.0,
        "canary_ratio_scan": 1.0,
        "value_probes": 1.0,
    }


def test_prev_artifact_kept_set_reads_latest_round():
    kept = bench._prev_artifact_kept_set()
    # the repo carries committed BENCH_r*.json artifacts; the latest one
    # (r12+) kept ~69 names, all of which must be recognized
    assert len(kept) >= 60
    assert "ann_pq_stress" in kept
    assert "q13_customer_distribution" in kept


def test_compact_line_keeps_every_prev_artifact_query():
    prev = bench._prev_artifact_kept_set()
    # every prev name present plus fast new rows that would historically
    # have rotated the prev names out
    queries = {name: 0.31 for name in prev}
    queries.update({f"new_fast_row_{i}": 0.25 for i in range(40)})
    queries["new_slow_probe"] = 123.456
    line = bench._compact_summary_line(_fake_out(queries))
    assert len(line) <= 1900
    parsed = json.loads(line)
    missing = prev - set(parsed["queries"])
    assert not missing, f"prev-artifact queries dropped from compact line: {missing}"
    assert parsed["metric"] == "headline_queries_total_sec"
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == 0.1


def test_compact_line_fits_and_flags_when_truncating():
    prev = bench._prev_artifact_kept_set()
    queries = {name: 12.345 for name in prev}
    queries.update({f"extra_row_{i:03d}": float(i) for i in range(60)})
    line = bench._compact_summary_line(_fake_out(queries))
    parsed = json.loads(line)
    assert len(line) <= 1900
    if len(parsed["queries"]) < len(queries):
        assert parsed.get("queries_truncated") is True
    # slowest extras are preferred for the leftover budget
    kept_extras = [k for k in parsed["queries"] if k.startswith("extra_row_")]
    if kept_extras:
        dropped_extras = [
            k for k in queries if k.startswith("extra_row_") and k not in parsed["queries"]
        ]
        if dropped_extras:
            assert min(queries[k] for k in kept_extras) >= max(
                queries[k] for k in dropped_extras
            ) - 1e-9


def test_compact_line_untruncated_when_small():
    queries = {"q1": 1.234, "q2": 0.5}
    line = bench._compact_summary_line(_fake_out(queries))
    parsed = json.loads(line)
    assert parsed["queries"] == {"q1": 1.23, "q2": 0.5}
    assert "queries_truncated" not in parsed


def test_compact_line_survives_errored_none_rows():
    prev = bench._prev_artifact_kept_set()
    queries = {name: 0.31 for name in prev}
    queries.update({f"pad_row_{i:02d}": 50.0 + i for i in range(30)})
    queries["err_a"] = None
    queries["err_b"] = None
    line = bench._compact_summary_line(_fake_out(queries))
    assert len(line) <= 1900
    json.loads(line)


def test_compact_line_prefers_slow_new_row_over_fast_short_names():
    """r13 regression pin: with the budget nearly exhausted by the
    previous kept set, tier-1 precision could strand a long-named SLOW
    new row (streaming_dedup_probe, 29 chars) while a short fast name
    slipped into the 2-char slack — the driver then never saw the new
    probe. The tier scan must pick the precision that carries more rows,
    so the slow new row always outranks faster fill."""
    prev = bench._prev_artifact_kept_set()
    queries = {name: 3.456 for name in prev}
    queries["streaming_dedup_probe_xx"] = 9.401  # long name, slow row
    queries.update({f"q{i:02d}": 0.31 for i in range(40)})  # short + fast
    line = bench._compact_summary_line(_fake_out(queries))
    parsed = json.loads(line)
    assert len(line) <= 1900
    assert "streaming_dedup_probe_xx" in parsed["queries"], parsed["queries"]
    assert not (prev - set(parsed["queries"]))


def _fake_runner(*readings):
    """A stand-in for the fresh-subprocess probe run: hands out the given
    readings in order and counts the calls."""
    calls = []

    def run():
        calls.append(1)
        return dict(readings[len(calls) - 1])

    return run, calls


def test_heavy_probe_clean_run_publishes_measured_warm():
    run, calls = _fake_runner({"cold": 60.0, "warm": 50.26, "canary_scan_sec": 0.6})
    published, sanity = bench._heavy_probe_reading(run)
    assert len(calls) == 1
    assert (published["cold"], published["warm"]) == (60.0, 50.26)
    assert sanity is None


def test_heavy_probe_warm_gt_cold_reruns_once_and_publishes_smaller_warm():
    first = {"cold": 10.0, "warm": 12.5, "canary_scan_sec": 0.6}
    second = {"cold": 11.0, "warm": 14.0, "canary_scan_sec": 0.7}
    run, calls = _fake_runner(first, second)
    published, sanity = bench._heavy_probe_reading(run)
    assert len(calls) == 2  # exactly one rerun, even though it is also polluted
    assert published["warm"] == 12.5
    assert sanity["warm_gt_cold"] == 12.5
    assert [r["warm"] for r in sanity["runs"]] == [12.5, 14.0]
    assert [r["cold"] for r in sanity["runs"]] == [10.0, 11.0]

    run, calls = _fake_runner(first, {"cold": 9.0, "warm": 8.0})
    published, sanity = bench._heavy_probe_reading(run)
    assert len(calls) == 2
    assert (published["cold"], published["warm"]) == (9.0, 8.0)
    assert [r["warm"] for r in sanity["runs"]] == [12.5, 8.0]


def test_heavy_probe_failed_rerun_keeps_first_measurement():
    calls = []

    def run():
        calls.append(1)
        if len(calls) > 1:
            raise TimeoutError("probe timed out")
        return {"cold": 10.0, "warm": 12.5}

    published, sanity = bench._heavy_probe_reading(run)
    assert len(calls) == 2
    assert published["warm"] == 12.5
    assert "TimeoutError" in sanity["rerun_error"]


def test_extreme_canary_never_changes_a_published_number():
    for canary in (1e-6, 1000.0, None):
        run, calls = _fake_runner({"cold": 108.0, "warm": 108.025, "canary_scan_sec": canary})
        published, sanity = bench._heavy_probe_reading(run)
        assert len(calls) == 1
        assert (published["cold"], published["warm"]) == (108.0, 108.025)
        assert sanity is None


def test_compact_line_carries_no_canary_or_normalized_key():
    for queries in ({"q1": 1.234}, {f"row_{i:03d}": 5.0 + i for i in range(150)}):
        out = _fake_out(queries)
        out["sanity"] = {"q1": {"warm_gt_cold": 2.0}}
        parsed = json.loads(bench._compact_summary_line(out))
        leaked = [k for k in parsed if k.startswith("canary_ratio") or k.endswith("_normalized")]
        assert not leaked, leaked
