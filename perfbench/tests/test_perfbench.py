"""Tests of the benchmark itself.

    python -m pytest perfbench/tests -q

The workload tests start Spark in a subprocess per run, as the benchmark
command does, on a corpus of a few hundred pages.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, REPO)

from perfbench import eventlog, metrics, procs  # noqa: E402
from perfbench.tracing import Tracer, self_times  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
TINY = "160"

with open(os.path.join(REPO, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _run(*args: str, cwd: str = REPO) -> tuple[int, dict | None, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None, p.stderr


# -- metric names -------------------------------------------------------------------
def test_benchmark_json_lists_the_printed_metrics():
    e2e = {m["name"]: (m["unit"], m["better"]) for m in BENCH["end_to_end"]}
    assert e2e == metrics.END_TO_END
    layer = {m["name"]: (m["unit"], m["better"]) for m in BENCH["per_layer"]}
    assert list(layer) == metrics.per_layer_names()
    assert layer == {n: metrics.per_layer_unit(n) for n in layer}
    names = list(e2e) + list(layer) + [w["name"] for w in BENCH["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]


# -- spans, event log, process accounting (no Spark) ---------------------------------------
def test_span_self_times_and_nesting():
    tr = Tracer("t")
    with tr.span("job"):
        time.sleep(0.01)
        with tr.span("stage.a"):
            time.sleep(0.02)
            with tr.span("op.x"):
                time.sleep(0.01)
        with tr.span("stage.b"):
            time.sleep(0.01)
    by_id = {s.id: s for s in tr.spans}
    selfs = self_times(tr.spans)
    assert all(v >= 0 for v in selfs.values())
    for s in tr.spans:
        assert s.trace_id == "t"
        if s.parent:
            p = by_id[s.parent]
            assert p.start <= s.start <= s.end <= p.end
    job = tr.by_name("job")
    kids = [s for s in tr.spans if s.parent == job.id]
    assert selfs[job.id] == pytest.approx(job.duration - sum(k.duration for k in kids))
    assert {s.name for s in tr.descendants(job.id)} == {"job", "stage.a", "op.x", "stage.b"}


def test_eventlog_charges_tasks_to_the_job_group(tmp_path):
    def task(stage, cpu_ns, run_ms, shuffle, failed=False):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Failed": failed, "Killed": False},
            "Task Metrics": {
                "Executor CPU Time": cpu_ns, "Executor Run Time": run_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Disk Bytes Spilled": 0,
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "a"}},
        task(0, 2e9, 3000, 1e6),
        task(1, 1e9, 1000, 0, failed=True),
        # stage 1 listed again by a later job: skipped there, stays with "a"
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "b"}},
        task(2, 5e8, 500, 2e6),
        {"Event": "SparkListenerJobStart", "Stage IDs": [3], "Properties": {}},
        task(3, 1e9, 1000, 0),
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    g = eventlog.read_groups(str(tmp_path))
    assert g["a"] == {"tasks": 2, "failed_tasks": 1, "cpu_s": 3.0, "run_s": 4.0,
                      "shuffle_mb": 1.0, "spill_mb": 0.0}
    assert g["b"]["tasks"] == 1 and g["b"]["shuffle_mb"] == 2.0
    assert g[""]["tasks"] == 1
    assert eventlog.sum_groups(g, ["a", "b"])["cpu_s"] == 3.5


def test_tree_sampler_sees_children_and_reap_waits_for_them():
    sampler = procs.TreeSampler(interval_s=0.02).start()
    child = subprocess.Popen([sys.executable, "-c", "import time; x = bytearray(50 << 20); time.sleep(0.5)"])
    try:
        time.sleep(0.3)
        assert child.pid in sampler.descendants_seen()
        assert sampler.peak_mb > 50
    finally:
        sampler.stop()
    procs.reap(sampler.descendants_seen(), timeout_s=5)
    assert child.poll() is not None


def test_pair_quality_counts_recall_and_false_merges():
    from perfbench.workloads import pair_quality

    truth = {1: "A", 2: "A", 3: "A", 4: "B", 5: "B", 6: "U6", 7: "U7"}
    assert pair_quality({1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 7}, truth) == (1.0, 4, 0)
    # 3 split off loses two of the three A pairs; 6 and 7 are merged falsely
    recall, n_true, false_merges = pair_quality({1: 1, 2: 1, 3: 3, 4: 4, 5: 4, 6: 6, 7: 6}, truth)
    assert (n_true, false_merges) == (4, 1) and recall == pytest.approx(2 / 4)


def test_rows_hash_is_order_independent():
    from perfbench.workloads import rows_hash

    rows = [(1, 2), (3, 4), (5, 6)]
    assert rows_hash(rows) == rows_hash(rows[::-1])
    assert rows_hash(rows) != rows_hash(rows[:2])


# -- the command ----------------------------------------------------------------------
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_each_workload_runs_at_tiny_size(workload):
    rc, res, err = _run("--workload", workload, "--seed", "3", "--seconds", "1",
                        "--trace", "0", "--pages", TINY)
    assert rc == 0, err[-3000:]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert set(res["metrics"]) == set(metrics.END_TO_END)
    for name, m in res["metrics"].items():
        assert m["unit"] == metrics.END_TO_END[name][0]
        assert m["value"] > 0, name


def test_traced_run_prints_every_per_layer_metric_and_nested_spans():
    rc, res, err = _run("--workload", "batch_planted", "--seed", "4", "--seconds", "1",
                        "--trace", "1", "--pages", TINY)
    assert rc == 0, err[-3000:]
    assert list(res["metrics"]) == metrics.per_layer_names()
    for name, m in res["metrics"].items():
        assert m["unit"] == metrics.per_layer_unit(name)[0]
    assert res["metrics"]["stage.edges.tasks"]["value"] > 0
    assert res["metrics"]["entry.dedup_clusters.wall_s"]["value"] > 0
    assert res["metrics"]["stream.deep.s"]["value"] > 0
    with open(os.path.join(REPO, ".perfbench_out", "trace-batch_planted-4.json")) as f:
        spans = {s["id"]: s for s in json.load(f)}
    assert len(spans) == res["metrics"]["trace.spans"]["value"]
    for s in spans.values():
        assert s["self_s"] >= 0
        if s["parent"]:
            p = spans[s["parent"]]
            assert p["start_s"] <= s["start_s"] <= s["end_s"] <= p["end_s"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, res, _ = _run("--workload", "batch_planted", "--seed", "1", "--seconds", "1",
                      "--trace", "0", cwd=str(tmp_path))
    assert rc != 0 and res is None
