"""Tests of the benchmark itself: ``python -m pytest perfbench -q``.

The smoke runs drive every workload end to end on tiny inputs (about
30 s each: one JVM launch per run).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.run import END_TO_END, PER_LAYER
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cwd, *args, timeout=300):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


def test_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    with tr.span("op"):
        with tr.span("plan.build"):
            pass
        with tr.span("exec"):
            pass
    spans = {s["name"]: s["end"] - s["start"] for s in tr.spans}
    st = tr.self_times()
    assert st["op"] == pytest.approx(spans["op"] - spans["plan.build"] - spans["exec"])
    assert st["exec"] == pytest.approx(spans["exec"])


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op"):
        pass
    assert tr.spans == []


@pytest.mark.parametrize("workload,trace", [
    ("join_bulk", 0), ("join_bulk", 1), ("query_loop", 0), ("query_loop", 1)])
def test_smoke(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "2",
             "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = [name for name, _ in (PER_LAYER if trace else END_TO_END)]
    assert list(result["metrics"]) == names
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    else:
        assert "spans written to" in p.stdout


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "join_bulk", "--seed", "1", "--seconds", "1",
             "--trace", "0", timeout=120)
    assert p.returncode != 0
    assert not p.stdout.strip()
