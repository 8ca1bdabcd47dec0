"""Smoke test of the benchmark itself, at tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric named in BENCHMARK.json is printed with its
unit, that a deliberately wrong expected value is counted as a failed
execution, that traced spans nest, and that the command refuses to run
without the library next to it. Each benchmark run is its own process,
as in regular use.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

SCALE = "0.05"


def _tiny(seed: int, trace: int) -> list[str]:
    return ["--workload", "rowwise_measure", "--seed", str(seed), "--seconds", "1",
            "--scale", SCALE, "--trace", str(trace)]


def _bench(argv, cwd=ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *argv], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def _result(argv):
    p = _bench(argv)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _printed(lines, name, unit) -> bool:
    return any(ln.split()[:1] == [name] and ln.split()[2:3] == [unit] for ln in lines[:-1])


def test_every_end_to_end_metric_printed_with_unit():
    lines, res = _result(_tiny(5, 0))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    for m in _spec()["end_to_end"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
        assert res["metrics"][m["name"]]["value"] > 0
        assert _printed(lines, m["name"], m["unit"]), m["name"]
    assert _printed(lines, "ops_failed_frac", "frac")


def test_wrong_expected_value_counts_as_failed():
    seed = 6
    inputs = os.path.join(run.WORK, "inputs", f"seed-{seed}-x{SCALE}")
    shutil.rmtree(inputs, ignore_errors=True)
    gen.generate(seed, inputs, float(SCALE), ["mixed"])
    truth_file = os.path.join(inputs, "mixed.truth.json")
    with open(truth_file) as f:
        truth = json.load(f)
    truth["mixed"]["area"][0] += 1.0
    with open(truth_file, "w") as f:
        json.dump(truth, f)
    try:
        lines, res = _result(_tiny(seed, 0))
    finally:
        shutil.rmtree(inputs, ignore_errors=True)
    assert not res["correct"]
    assert res["failed"] == res["attempted"]      # every execution reads the bad row
    frac = next(float(ln.split()[1]) for ln in lines if ln.startswith("ops_failed_frac "))
    assert frac == pytest.approx(1.0)


def test_traced_run_prints_layers_and_spans_nest():
    lines, res = _result(_tiny(5, 1))
    assert res["correct"]
    for m in _spec()["per_layer"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
        assert _printed(lines, m["name"], m["unit"]), m["name"]
    with open(os.path.join(run.WORK, "traces", "rowwise_measure-seed5.json")) as f:
        spans = json.load(f)["spans"]
    by_id = {s["id"]: s for s in spans}
    names = {s["name"] for s in spans}
    assert {"run", "setup", "workload", "rep", "query", "build", "execute", "check",
            "plan_metrics", "geo", "geo.decode", "geo.compute", "geo.encode"} <= names
    assert any(s["name"].startswith("functions.st_") for s in spans)
    assert [s["name"] for s in spans if s["parent"] is None] == ["run"]
    for s in spans:
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (p["name"], s["name"])
        if s["name"] in ("build", "execute", "check", "plan_metrics"):
            assert by_id[s["parent"]]["name"] == "query"
        if s["name"] == "query":
            assert by_id[s["parent"]]["name"] == "rep"


def test_refuses_to_run_without_the_library():
    bare = os.path.join(run.WORK, "tmp", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = _bench(_tiny(5, 0), cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
