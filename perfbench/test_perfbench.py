"""Tests of the benchmark itself:

    python3 -m pytest perfbench -q

The last test runs each workload end to end on a small table (Spark at
``local[nproc]``, about a minute in all).
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import metrics  # noqa: E402
from spans import SpanRecorder  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_lists_the_metrics_the_harness_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(metrics.WORKLOADS)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])
    assert bench["end_to_end"] == [
        {"name": n, "unit": u, "better": b, "bound": bd} for n, u, b, bd in metrics.END_TO_END
    ]
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == metrics.PER_LAYER
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]] + [
        w["name"] for w in bench["workloads"]
    ]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in bench["end_to_end"] + bench["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60


class _FakeFrame:
    def count(self):
        return 0


def test_guard_refuses_a_frame_an_action_ran_on():
    guard = inputs.FreshGuard()
    guard.install(_FakeFrame)
    try:
        used = _FakeFrame()
        used.count()
        with pytest.raises(inputs.StaleInputError):
            guard.take(used)
        fresh = _FakeFrame()
        assert guard.take(fresh) is fresh
        with pytest.raises(inputs.StaleInputError):
            guard.take(fresh)  # a timed operation already got it
    finally:
        guard.uninstall()
    assert _FakeFrame.count.__qualname__ == "_FakeFrame.count"


def test_self_time_is_span_minus_child_coverage():
    rec = SpanRecorder("t")
    rec.enabled = True
    clock = iter([0.0, 1.0, 2.0, 1.5, 3.0, 10.0])
    import spans

    real = spans.time.perf_counter
    spans.time.perf_counter = lambda: next(clock)
    try:
        with rec.span("outer.op"):  # 0 .. 10
            with rec.span("agg.a"):  # 1 .. 2
                pass
            with rec.span("agg.b"):  # 1.5 .. 3, overlaps a
                pass
    finally:
        spans.time.perf_counter = real
    assert rec.self_times() == [8.0, 1.0, 1.5]
    assert rec.layer_self_time() == {"": {"outer": 8.0, "agg": 2.5}}


def test_orphaned_grandchild_is_adopted_and_stopped():
    """A process whose parent already exited (as Spark's Python workers
    may, once the JVM is gone) is found, stopped and reaped."""
    import subprocess

    import procs

    procs.adopt_orphans()
    # the grandchild must not hold the spawner's output pipes open
    spawn = (
        "import subprocess as s; "
        "print(s.Popen(['sleep', '600'], stdout=s.DEVNULL, stderr=s.DEVNULL).pid)"
    )
    spawner = subprocess.run(
        [sys.executable, "-c", spawn], capture_output=True, text=True, check=True,
    )
    orphan = int(spawner.stdout)
    assert orphan in procs.descendants()
    assert procs.stop_descendants() == []
    assert not os.path.exists(f"/proc/{orphan}")


@pytest.mark.parametrize("workload", metrics.WORKLOADS)
def test_workload_runs_correct_on_fresh_inputs(workload, monkeypatch, capsys):
    """Each workload completes with every check passing; a timed operation
    handed a DataFrame an action already ran on would raise instead."""
    import run
    import workloads

    monkeypatch.setitem(workloads.CONVERSATIONS, workload, 2_000)
    assert run.main(["--workload", workload, "--seed", "3", "--seconds", "1"]) == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {n for n, *_ in metrics.END_TO_END}
