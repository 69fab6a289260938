"""Tests of the benchmark's own logic (no Spark needed).

Run from the repo root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import signal
import subprocess

import pytest

from perfbench import run, stats, trace
from perfbench.stats import Span
from perfbench.workloads import WORKLOADS, check_slice

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- tail percentile ------------------------------------------------------
def test_tail_leaves_ten_samples_beyond():
    samples = [float(i) for i in range(1, 27)]  # 26 samples, shuffled below
    value, pct = stats.tail(samples[::-1])
    assert value == 16.0
    assert sum(s > value for s in samples) == 10
    assert pct == pytest.approx(100 * 16 / 26)


def test_tail_percentile_rises_with_sample_count():
    assert stats.tail([1.0] * 20)[1] == 50.0
    assert stats.tail([1.0] * 100)[1] == 90.0
    assert stats.tail([1.0] * 1000)[1] == 99.0


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)
    assert stats.tail([3.0] + [1.0] * 10) == (1.0, pytest.approx(100 / 11))


def test_timing_reports_count_and_percentile():
    t = stats.timing([2.0, 1.0, 3.0] * 6)
    assert t == {"p50": 2.0, "tail": 2.0, "tail_pct": pytest.approx(100 * 8 / 18), "n": 18}


# -- failure counting -----------------------------------------------------
SELFCHECK_LOG = """\
PASS user_sessions: rows=20 [0.3s]
FAIL dbscan_event_clusters: rowcount spark=7 oracle=8
ok?  some_query: rows=3 (no oracle, rows-only) [0.1s]
FAIL lab2_pipeline: spark error: boom
FAIL dbscan_event_clusters: 2 value mismatches (max_rel=1.00e-03)

1 FAILURES
"""


def test_oracle_failures_parses_selfcheck_output():
    assert stats.oracle_failures(SELFCHECK_LOG) == ["dbscan_event_clusters", "lab2_pipeline"]
    assert stats.oracle_failures("PASS a: rows=1 [0.1s]\n\nALL GREEN\n") == []


def test_failed_queries_counts_raises_and_oracle_failures():
    failed = stats.failed_queries(["a", "b", "a"], ["b", "c"])
    assert failed == {"a": 2, "b": 2, "c": 1}
    assert sum(failed.values()) == 5
    assert stats.failed_queries([], []) == {}


# -- self time from nested spans ------------------------------------------
def _span(sid, parent, layer, start, end):
    return Span(sid, parent, layer, f"s{sid}", start, end, "q")


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, None, "plans", 0.0, 10.0),
        _span(1, 0, "operators", 1.0, 5.0),
        _span(2, 1, "functions", 2.0, 3.0),  # grandchild of 0
        _span(3, 0, "sources", 6.0, 8.0),
    ]
    own = stats.self_times(spans)
    assert own == {0: pytest.approx(4.0), 1: pytest.approx(3.0),
                   2: pytest.approx(1.0), 3: pytest.approx(2.0)}
    assert sum(own.values()) == pytest.approx(10.0)  # root duration, counted once
    assert stats.layer_self_seconds(spans) == {
        "plans": pytest.approx(4.0), "operators": pytest.approx(3.0),
        "functions": pytest.approx(1.0), "sources": pytest.approx(2.0),
    }


def test_self_time_sums_repeated_layer_calls():
    spans = [
        _span(0, None, "plans", 0.0, 4.0),
        _span(1, 0, "operators", 0.5, 1.5),
        _span(2, 0, "operators", 2.0, 3.0),
    ]
    assert stats.layer_self_seconds(spans)["operators"] == pytest.approx(2.0)
    assert stats.layer_self_seconds(spans)["plans"] == pytest.approx(2.0)


def test_job_owner_by_group_then_innermost_open_span():
    spans = [_span(0, None, "plans", 0.0, 10.0), _span(1, 0, "streaming", 2.0, 6.0)]
    assert trace.job_owner(spans, trace.GROUP_PREFIX + "0", 3.0) == 0
    assert trace.job_owner(spans, "stream-run-id", 3.0) == 1  # other thread's group
    assert trace.job_owner(spans, None, 8.0) == 0
    assert trace.job_owner(spans, None, 11.0) is None


# -- workloads and BENCHMARK.json -----------------------------------------
def test_check_slices_cover_every_query_once():
    for w in WORKLOADS.values():
        seen = [q for seed in range(w.check_slices) for q in check_slice(w, seed)]
        assert sorted(seen) == sorted(w.queries)
        assert check_slice(w, w.check_slices) == check_slice(w, 0)


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    fake = {"query": {"p50": 1, "tail": 2}, "queries_per_s": 1, "setup_s": 1}
    assert [m["name"] for m in bench["end_to_end"]] == list(run.end_to_end(fake))
    assert [m["name"] for m in bench["per_layer"]] == list(trace.PER_LAYER)
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert units == trace.PER_LAYER


def test_stop_stragglers_kills_processes_left_in_the_work_dir(tmp_path):
    work = tmp_path / "run"
    work.mkdir()
    (tmp_path / "run-other").mkdir()
    inside = subprocess.Popen(["sleep", "30"], cwd=work)
    beside = subprocess.Popen(["sleep", "30"], cwd=tmp_path / "run-other")
    try:
        run._stop_stragglers(str(work), grace_s=0.5)
        assert inside.wait(timeout=5) == -signal.SIGKILL
        assert beside.poll() is None  # a sibling directory is not the work dir
    finally:
        for p in (inside, beside):
            p.kill()
            p.wait(timeout=5)
