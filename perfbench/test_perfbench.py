"""Tests of the benchmark itself: run with ``python3 -m pytest perfbench``.

The output tests run the real command once per workload and trace mode
(about five minutes on four cores); select the fast ones with
``-k 'not output'``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

from perfbench import data, metrics, stream

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_request_stream_is_deterministic():
    assert stream.request_passes(7, 3) == stream.request_passes(7, 3)
    assert stream.request_passes(7, 3) != stream.request_passes(8, 3)


def test_each_pass_repeats_earlier_requests():
    issued = []
    for batch in stream.request_passes(3, 4):
        repeats = 0
        for req in batch:
            repeats += req in issued
            issued.append(req)
        assert repeats >= stream.REPEATS_PER_PASS


def test_tables_are_deterministic():
    assert data.queuedata_table(5).equals(data.queuedata_table(5))
    assert not data.queuedata_table(5).equals(data.queuedata_table(6))
    a, b = data.base_tables(0.001), data.base_tables(0.001)
    assert a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a)


def test_metric_names_and_benchmark_json_agree():
    bench = _bench()
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layers = {m["name"]: m for m in bench["per_layer"]}
    assert e2e.keys() == metrics.END_TO_END.keys()
    assert layers.keys() == metrics.PER_LAYER.keys()
    for name, (unit, better, bound, _) in metrics.END_TO_END.items():
        assert e2e[name] == {"name": name, "unit": unit, "better": better, "bound": bound}
    for name, (unit, better, _) in metrics.PER_LAYER.items():
        assert layers[name] == {"name": name, "unit": unit, "better": better}
    for name in [*e2e, *layers, *(w["name"] for w in bench["workloads"])]:
        assert NAME_RE.fullmatch(name), name


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "0", "--seconds", "1", "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _bench()["workloads"]])
def test_output_names_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert out["metrics"].keys() == want.keys()
    for name, m in out["metrics"].items():
        assert m["unit"] == want[name][0]
        assert isinstance(m["value"], float)


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "ask_mix", 0)
    assert proc.returncode != 0 and proc.stdout == ""
