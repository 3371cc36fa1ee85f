"""The benchmark's own tests: its independent evaluators agree with the
program's SQL twins, the event-log fold is right on a hand-made log, and
each workload's smoke mode prints a well-formed result line.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import inputs  # noqa: E402
import run as runmod  # noqa: E402
from ot_spark import pagesview  # noqa: E402


def test_attrs_and_python_filter_agree_with_complex_filter_sql():
    from workloads import _accepts

    ids = list(range(123_456_000, 123_456_000 + 3000))
    maps = inputs.attrs_array(pa_ids(ids)).to_pylist()
    con = duckdb.connect()
    values = ", ".join(f"({i})" for i in ids)
    passing = {r[0] for r in con.execute(
        f"SELECT doc_id FROM (VALUES {values}) t(doc_id) "
        f"WHERE {pagesview.complex_filter_sql()}").fetchall()}
    assert {i for i, m in zip(ids, maps) if _accepts(dict(m))} == passing
    assert 0 < len(passing) < len(ids)


def pa_ids(ids):
    import numpy as np

    return np.asarray(ids, dtype=np.int64)


def _ev(kind, **kw):
    return {"Event": kind, **kw}


def test_layer_metrics_fold_only_the_chosen_groups():
    def acc(name, value):
        return {"Name": name, "Value": value}

    events = [
        _ev("SparkListenerJobStart", **{"Stage IDs": [1, 2],
            "Properties": {"spark.jobGroup.id": "traced"}}),
        _ev("SparkListenerJobStart", **{"Stage IDs": [3],
            "Properties": {"spark.jobGroup.id": "cut"}}),
        _ev("SparkListenerStageCompleted", **{"Stage Info": {
            "Stage ID": 1, "Number of Tasks": 4, "Accumulables": [
                acc(eventlog.TO_PYTHON, 1000), acc(eventlog.FROM_PYTHON, 400),
                acc("internal.metrics.executorRunTime", 5000),
                acc("internal.metrics.executorCpuTime", 1_000_000_000)]}}),
        _ev("SparkListenerStageCompleted", **{"Stage Info": {
            "Stage ID": 2, "Number of Tasks": 2, "Accumulables": [
                acc("internal.metrics.shuffle.write.bytesWritten", 300),
                acc("internal.metrics.shuffle.write.recordsWritten", 30),
                acc("internal.metrics.memoryBytesSpilled", 7),
                acc("internal.metrics.executorRunTime", 900)]}}),
        _ev("SparkListenerStageCompleted", **{"Stage Info": {
            "Stage ID": 3, "Number of Tasks": 8, "Accumulables": [
                acc(eventlog.TO_PYTHON, 99999)]}}),
    ] + [
        _ev("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": {"Executor Run Time": t}})
        for t in (100, 200, 300, 900)
    ]
    m = eventlog.layer_metrics(events, {"traced"}, n_passes=2)
    assert m["arrow.bytes_to_python"] == 500
    assert m["arrow.bytes_from_python"] == 200
    assert m["arrow.python_s"] == pytest.approx((5000 - 1000) / 1000 / 2)
    assert m["shuffle.bytes_written"] == 150
    assert m["shuffle.records"] == 15
    assert m["spill.bytes"] == 3.5
    assert m["task.skew"] == pytest.approx(900 / 250)


def test_benchmark_json_lists_the_metrics_run_py_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["end_to_end"]] == list(runmod.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == list(runmod.PER_LAYER)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == runmod.PER_LAYER
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(runmod.SIZES)


@pytest.mark.parametrize("workload", sorted(runmod.SIZES))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_a_result_line(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    want = runmod.PER_LAYER if trace else runmod.END_TO_END
    assert set(result["metrics"]) == set(want)
    # the only failure a run may count is the known resume defect
    failures = [line for line in proc.stderr.splitlines() if "[perfbench] FAILED" in line]
    assert result["failed"] == len(failures)
    assert all("pipeline resume" in line for line in failures), failures
