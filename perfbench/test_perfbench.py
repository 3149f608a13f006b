"""The benchmark's own tests: seeded inputs, the printed result line, and
a tiny-size smoke run of every workload with its output checks.

    python3 -m pytest perfbench -q

The smoke runs start one JVM each (about half a minute apiece).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

import tracing
import workloads

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SMOKE_SCALE = "0.05"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _stored_files(work):
    out = {}
    for d, _dirs, files in os.walk(work):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, work)] = p
    return out


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_bytes_other_seed_other_bytes(name, tmp_path):
    runs = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        wl = workloads.make(name)
        wl.generate(str(tmp_path / tag), seed, scale=0.02)
        runs[tag] = _stored_files(str(tmp_path / tag))
    assert runs["a"] and runs["a"].keys() == runs["b"].keys() == runs["c"].keys()
    for rel in runs["a"]:
        assert filecmp.cmp(runs["a"][rel], runs["b"][rel], shallow=False), rel
    assert any(
        not filecmp.cmp(runs["a"][rel], runs["c"][rel], shallow=False)
        for rel in runs["a"]
    )


def test_profile_names():
    assert tracing._short("{method 'searchsorted' of 'numpy.ndarray' objects}") == "searchsorted"
    assert tracing._short("{built-in method numpy.core._multiarray_umath.bincount}") == "bincount"
    assert tracing._short("eig3x3") == "eig3x3"


def _run(args, cwd=ROOT, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_smoke_run_prints_every_metric_and_passes_checks(name, trace):
    proc = _run(["--workload", name, "--seed", "5", "--seconds", "1",
                 "--trace", str(trace), "--scale", SMOKE_SCALE])
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    header, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert header["workload"] == name and header["seed"] == 5 and header["cpus"] >= 1
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, result
    assert result["attempted"] >= 1
    declared = _spec()["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]
    assert len(lines[-1].encode()) <= 2048


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    proc = _run(["--workload", "flagship_mixed", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=tmp_path, timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
