"""Tests for the benchmark's own helpers. They start no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import harness  # noqa: E402
from harness import Span, attempt, fingerprint, norm_rows, self_times  # noqa: E402

# the child starts a grandchild that burns CPU, then either keeps it alive
# ("live") or waits for it to exit so its time moves to the child's cutime
# ("reaped"); the child prints "ready" and sleeps until killed
_CHILD = r"""
import subprocess, sys, time
burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.6: pass\ntime.sleep(60)"
if sys.argv[1] == "reaped":
    burn = burn.replace("time.sleep(60)", "")
g = subprocess.Popen([sys.executable, "-c", burn])
if sys.argv[1] == "reaped":
    g.wait()
else:
    time.sleep(1.2)
print("ready", flush=True)
time.sleep(60)
"""


@pytest.mark.parametrize("mode", ["live", "reaped"])
def test_tree_cpu_counts_grandchild(mode):
    before = harness.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", _CHILD, mode],
                             stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "ready"
        grown = harness.tree_cpu_s() - before
        assert len(harness.descendants()) >= (2 if mode == "live" else 1)
    finally:
        child.kill()
        child.wait(timeout=10)
    # the grandchild alone burned 0.6 s; the driver-side reader saw it
    assert grown >= 0.5


def test_self_time_subtracts_merged_children_only():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 3.0, parent=0),
        Span("b", 2.0, 5.0, parent=0),  # overlaps a: covered 1..5
        Span("c", 7.0, 8.0, parent=0),
        Span("a.child", 1.5, 2.5, parent=1),  # only reduces a
    ]
    assert self_times(spans) == pytest.approx([5.0, 1.0, 3.0, 1.0, 1.0])


def test_self_time_clips_children_to_parent():
    spans = [Span("p", 0.0, 2.0), Span("late", 1.5, 4.0, parent=0)]
    assert self_times(spans) == pytest.approx([1.5, 2.5])


def test_fingerprint_ignores_row_and_column_order():
    cols = ["b", "a"]
    rows = [(1.0000001, "x"), (float("nan"), "y"), (2.5, "z")]
    fp = fingerprint(norm_rows(cols, rows))
    shuffled = [(r[1], r[0]) for r in reversed(rows)]
    assert fingerprint(norm_rows(["a", "b"], shuffled)) == fp
    changed = [(1.1, "x"), (float("nan"), "y"), (2.5, "z")]
    assert fingerprint(norm_rows(cols, changed)) != fp


def _ok(ctx):
    return 42


def _boom(ctx):
    raise RuntimeError("ModuleNotFoundError in a worker")


def _check(ctx, result):
    return fingerprint(result)


def test_failed_operation_is_counted_not_raised():
    good = attempt(_ok, _check, None, fingerprint(42))
    assert good.ok and good.error is None and good.wall_s >= 0
    raised = attempt(_boom, _check, None, fingerprint(42))
    assert not raised.ok and "RuntimeError" in raised.error
    wrong = attempt(_ok, _check, None, fingerprint(41))
    assert not wrong.ok and wrong.fingerprint == fingerprint(42)
    bad_check = attempt(_ok, lambda ctx, r: 1 / 0, None, fingerprint(42))
    assert not bad_check.ok and "ZeroDivisionError" in bad_check.error


def test_sql_metric_totals():
    total = harness._metric_total
    assert total("total (min, med, max (stageId: taskId))\n6.2 s (0 ms, 1.1 s, 2.0 s (stage 3.0: task 7))") == pytest.approx(6.2)
    assert total("total (min, med, max)\n512.0 KiB (1.0 KiB, 2.0 KiB, 3.0 KiB)") == pytest.approx(512 * 1024 / 1e6)
    assert total("850 ms") == pytest.approx(0.85)


def test_benchmark_json_lists_the_per_layer_metrics():
    import probe

    root = os.path.dirname(BENCH)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    listed = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert listed == probe.PER_LAYER
    import workloads

    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)

