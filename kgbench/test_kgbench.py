"""Self-tests of the benchmark's own code.

    python3 -m pytest kgbench/test_kgbench.py -q

The smoke tests start Spark and take about a minute per workload.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import measure  # noqa: E402
import run as bench  # noqa: E402
import tracing  # noqa: E402

# ------------------------------------------------------------ percentiles


def test_median_is_middle_or_mean_of_middle_pair():
    assert measure.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert measure.percentile([4.0, 1.0, 3.0, 2.0], 50) == 2.5


def test_tail_percentile_needs_ten_samples_beyond():
    values = [float(i) for i in range(1, 41)]  # 40 samples
    assert measure.samples_beyond(40, 75) == 10
    assert measure.percentile(values, 75) == 30.0
    with pytest.raises(ValueError, match="need 10"):
        measure.percentile(values[:39], 75)


def test_min_samples_for_common_percentiles():
    assert measure.min_samples_for(75) == 40
    assert measure.min_samples_for(90) == 100
    assert measure.min_samples_for(95) == 200
    assert measure.samples_beyond(199, 95) == 9


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        measure.percentile([], 50)


# ------------------------------------------------------------ failure accounting


def test_exception_and_wrong_result_both_count_as_failed():
    log = measure.OpLog()

    def boom():
        raise RuntimeError("scan failed")

    log.run("query", "raises", boom, check=lambda r: True)
    log.run("query", "wrong", lambda: 3, check=lambda r: r == 4)
    log.run("query", "right", lambda: 4, check=lambda r: r == 4)
    log.run("query", "unchecked", lambda: None)
    log.verify()
    assert log.attempted == 4
    assert log.failed == 2
    assert [op.label for op in log.failures()] == ["raises", "wrong"]
    assert "scan failed" in log.failures()[0].error
    assert len(log.seconds("query")) == 4


def test_a_check_that_raises_fails_the_operation():
    log = measure.OpLog()
    log.run("sparql", "bad check", lambda: 1, check=lambda r: r["missing"])
    log.verify()
    assert log.failed == 1 and log.ops[0].error.startswith("check")


def test_unverified_operations_are_not_counted_as_passed():
    log = measure.OpLog()
    log.run("merge", "pending", lambda: 1, check=lambda r: True)
    assert log.failed == 1  # verify() not yet run


# ------------------------------------------------------------ spans


def _span(i, start, end, parent=None, layer="x"):
    return tracing.Span(i, f"s{i}", layer, start, end, parent, "run")


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps span 1 (another thread)
        _span(3, 2.0, 3.0, parent=1),  # grandchild: only its parent's business
        _span(4, 9.0, 12.0, parent=0),  # runs past its parent's end
    ]
    own = tracing.self_seconds(spans)
    assert own[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert own[1] == pytest.approx(3.0 - 1.0)
    assert own[3] == pytest.approx(1.0)


def test_union_seconds_clips_and_merges():
    assert tracing.union_seconds([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert tracing.union_seconds([(0, 10)], 2, 4) == pytest.approx(2.0)
    assert tracing.union_seconds([]) == 0.0


def test_tracer_nests_spans_and_restores_wrapped_functions():
    class Mod:
        @staticmethod
        def work(x):
            return x + 1

    t = tracing.Tracer("run")
    t.wrap(Mod, "work", "layer_a", materialize_result=False)
    with t.span("outer", "layer_b"):
        assert Mod.work(1) == 2
    t.unpatch()
    assert Mod.work(1) == 2 and not hasattr(Mod.work, "__wrapped__")
    inner, outer = sorted(t.spans, key=lambda s: s.name != "Mod.work")
    assert inner.parent == outer.id and inner.layer == "layer_a"
    selfs, incl = t.layer_seconds()
    assert set(selfs) == {"layer_a", "layer_b"}
    assert incl["layer_b"] >= incl["layer_a"]


def test_event_log_reduction_attributes_tasks_to_job_groups():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "extract"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 1500, "JVM GC Time": 100, "Memory Bytes Spilled": 7,
            "Disk Bytes Spilled": 3, "Shuffle Write Metrics": {"Shuffle Bytes Written": 42}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Metrics": {"Executor Run Time": 500}},
    ]
    red = tracing.reduce_event_log(events)
    ex = red["groups"]["extract"]
    assert ex["task_s"] == 1.5 and ex["gc_s"] == 0.1
    assert ex["spill_bytes"] == 10 and ex["shuffle_write_bytes"] == 42
    assert red["groups"]["driver"]["task_s"] == 0.5
    assert red["jobs"] == [{"group": "extract", "start": 1.0, "end": 3.0}]  # job 1 never ended


# ------------------------------------------------------------ runs


def _run(tmp_path, *args):
    return subprocess.run([sys.executable, *args], capture_output=True, text=True,
                          cwd=tmp_path, timeout=600)


def test_fails_without_the_program(tmp_path):
    """A checkout holding only the benchmark exits non-zero, printing no result."""
    shutil.copytree(HERE, tmp_path / "kgbench", ignore=shutil.ignore_patterns(".work"))
    p = _run(tmp_path, "kgbench/run.py", "--workload", "query", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("workload,size", [("query", 3000), ("ingest", 600)])
def test_toy_size_smoke_run(workload, size):
    p = _run(os.path.dirname(HERE), os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "0.1", "--trace", "0", "--size", str(size))
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == set(bench.E2E_UNITS)
    assert all(m["value"] > 0 for m in res["metrics"].values())
