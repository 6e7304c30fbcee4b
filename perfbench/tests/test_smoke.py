"""Tiny-size runs of every workload, and the run contract.

Each Spark run gets its own interpreter: a run stops its JVM, and the
engine's module-level pandas UDFs stay bound to the first one.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import run

ROOT = run.ROOT
TINY = {"core_fused": 0.1, "spark_extract": 0.5, "link_rank": 0.7}  # MB


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(tmp_path, workload, trace, seed=3):
    code = (
        "import json, sys; sys.path.insert(0, %r)\n"
        "from perfbench import run\n"
        "print(json.dumps(run.run(%r, %d, 0.1, %r, %r, mb=%r)))\n"
        % (ROOT, workload, seed, bool(trace), str(tmp_path), TINY[workload])
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _assert_result(res, names):
    assert res["correct"], res["report"]["checks"]
    assert res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == names
    for m in res["metrics"].values():
        assert isinstance(m["value"], (int, float)) and m["unit"]


@pytest.mark.parametrize("workload", sorted(TINY))
def test_smoke_untraced_then_traced(tmp_path, workload):
    spec = _spec()
    first = _run(tmp_path, workload, trace=0)
    _assert_result(first, {m["name"] for m in spec["end_to_end"]})
    assert all(v["value"] > 0 for v in first["metrics"].values())
    rep = first["report"]
    assert rep["passes"] >= 2 and rep["failed_frac"]["value"] == 0
    # a second run of the same seed, traced, checks the stored digest
    second = _run(tmp_path, workload, trace=1)
    _assert_result(second, {m["name"] for m in spec["per_layer"]})
    assert second["report"]["digest"] == rep["digest"]
    assert second["report"]["checks"]["digest_repeats"]
    assert "tracing_overhead" in second["report"]
    layers = {k: v["value"] for k, v in second["metrics"].items()}
    if workload == "core_fused":
        assert layers["tokenizer.tokenize.calls"] == rep["turns"]
        assert layers["tokenizer.tokenize.self_s"] > 0
    else:
        assert layers["spark.task.count"] > 0
        assert layers["spark.python.evals"] >= 1
        assert 0 < layers["spark.task.wall_coverage"] <= 1.5


def test_spec_names_and_predictions():
    spec = _spec()
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    with open(os.path.join(ROOT, "perfbench", "predictions.json")) as f:
        preds = json.load(f)
    workloads = set(run.WORKLOADS)
    for p in preds:
        for layer in p["layer_metrics"]:
            prefix = layer.rstrip("*")
            assert any(n.startswith(prefix) for n in names), layer
        for e2e in p["moves"]:
            assert e2e["metric"] in names or e2e["metric"] in (
                "turn_p99_ms", "scratch_mb"), e2e
            assert set(e2e["workloads"]) <= workloads
        assert set(p.get("no_change_on", [])) <= workloads


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "core_fused",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_no_process_outlives_the_run():
    """A grandchild whose parent already exited is adopted by the run and
    stopped by stop_children(), which run.py calls on every way out."""
    code = (
        "import subprocess, sys, time; sys.path.insert(0, %r)\n"
        "from perfbench.common import _children, adopt_orphans, stop_children\n"
        "adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 300 &'], check=True)\n"
        "time.sleep(0.2)\n"
        "assert _children(), 'the orphaned sleep was not adopted'\n"
        "stop_children()\n"
        "assert not _children()\n"
        "print('ok')\n" % ROOT
    )
    p = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=60)
    assert p.returncode == 0 and p.stdout.strip() == "ok", p.stderr
