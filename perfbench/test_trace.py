"""Tests of the benchmark's own tracing and bookkeeping; no Spark needed.

    python3 -m pytest perfbench/test_trace.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

import layers
import run
import spans


class _FakeTracker:
    def getJobIdsForGroup(self, group):
        return []


class _FakeSc:
    """The SparkContext calls the tracer makes, with no jobs ever run."""

    def statusTracker(self):
        return _FakeTracker()

    def setJobGroup(self, group, desc):
        pass

    def setLocalProperty(self, key, value):
        pass

    class _jsc:  # noqa: N801 (mirrors the py4j attribute name)
        @staticmethod
        def sc():
            class _Sc:
                def statusStore(self):
                    return None

            return _Sc()


class _FakeSpark:
    sparkContext = _FakeSc()


def _traced_tree() -> list[dict]:
    tr = spans.Tracer(_FakeSpark(), enabled=True)
    with tr.span("setup"):
        time.sleep(0.002)
    with tr.span("run"):
        for _ in range(2):
            with tr.span("documents.merge.merge"):
                time.sleep(0.002)
                with tr.span("documents.shred.write_tables") as rec:
                    rec["bytes_written"] = 10
                    time.sleep(0.002)
        time.sleep(0.002)
    return tr.finish()


def test_tracer_spans_nest_and_self_times_sum_to_the_root():
    tree = _traced_tree()
    assert spans.check(tree, "run") == []
    run_span = next(s for s in tree if s["name"] == "run")
    inside = [s for s in tree if s["name"] != "setup"]
    assert sum(s["self_s"] for s in inside) == pytest.approx(run_span["dur"], rel=spans.SELF_SUM_TOL)
    for s in tree:
        assert 0 <= s["self_s"] <= s["dur"] + spans.NEST_TOL_S
        assert s["driver_s"] == pytest.approx(s["self_s"])  # no stages ran


def _span(i, parent, name, t0, t1, stages=()):
    return {"id": i, "parent": parent, "name": name, "t0": t0, "t1": t1, "dur": t1 - t0,
            "stage_intervals": list(stages)}


def test_derive_subtracts_children_and_stage_time():
    tree = spans.derive([
        _span(0, None, "run", 0.0, 10.0, stages=[(1.0, 2.0)]),
        _span(1, 0, "a", 2.0, 5.0, stages=[(3.0, 4.0)]),
        _span(2, 0, "b", 6.0, 9.0),
    ])
    assert [s["self_s"] for s in tree] == pytest.approx([4.0, 3.0, 3.0])
    assert [s["driver_s"] for s in tree] == pytest.approx([3.0, 2.0, 3.0])
    assert spans.check(tree, "run") == []


def test_check_reports_broken_nesting():
    tree = spans.derive([
        _span(0, None, "run", 0.0, 10.0),
        _span(1, 0, "a", 2.0, 11.0),  # ends after its parent
        _span(2, 0, "b", 5.0, 6.0),  # starts inside its sibling
    ])
    problems = spans.check(tree, "run")
    assert any("outside its parent" in p for p in problems)
    assert any("overlaps" in p for p in problems)
    assert spans.check(tree, "setup")[-1] == "0 top-level spans named setup"


def test_layer_values_split_setup_and_run():
    tree = _traced_tree()
    for s in tree:
        for key, _ in layers.SPARK:
            s[key] = 1
    values = layers.layer_values(tree, {"documents.validate.valid_frac": 0.98}, 0.5, 0.01)
    merges = [s["dur"] for s in tree if s["name"] == "documents.merge.merge"]
    assert values["documents.merge.merge.busy_s"] == pytest.approx(sum(merges))
    assert values["documents.shred.write_tables.bytes_written"] == 20
    assert values["spark.jobs"] == 5  # run and its four descendants, not setup
    assert "index.search.search_index_table.build_s" not in values
    metrics = layers.per_layer(values)
    assert metrics["index.search.search_index_table.build_s"] == (0.0, "s")
    assert "no documents.merge.replace.busy_s in the write_path trace" in layers.missing(
        values, "write_path"
    )
    assert not [m for m in layers.missing(values, "read_mix") if "documents.merge.merge" in m]


def test_benchmark_json_lists_every_metric_the_runs_report():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        (name, unit, better) for name, unit, better, _, _ in layers.LAYERS
    ]
    e2e = run.end_to_end(1.0, {"recs": [{"s": 0.5, "cpu_s": 0.7, "ok": True}]})
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == [
        (name, unit) for name, (_, unit) in e2e.items()
    ]
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_percentile_is_nearest_rank():
    values = list(range(1, 11))
    assert run.percentile(values, 90) == 9
    assert run.percentile(values, 50) == 5
    assert run.percentile(list(range(1, 21)), 90) == 18
    assert run.percentile([7.0], 90) == 7.0


def test_stop_session_ends_and_reaps_what_the_workload_left():
    """A workload process exits and leaves a grandchild running, as the JVM
    outlives its Python driver; the supervisor stops and reaps it."""
    script = f"""
import ctypes, os, subprocess, sys
sys.path.insert(0, {os.path.dirname(os.path.abspath(__file__))!r})
import run
ctypes.CDLL(None).prctl(run.PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
child = subprocess.Popen(["sh", "-c", "sleep 300 >/dev/null & echo $!"],
                         stdout=subprocess.PIPE, text=True, start_new_session=True)
orphan = int(child.stdout.read())
child.wait()
os.kill(orphan, 0)
run._stop_session(child.pid)
try:
    os.kill(orphan, 0)  # a zombie would still answer
except ProcessLookupError:
    print("ended")
"""
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=60)
    assert out.stdout.strip() == "ended", out.stderr
