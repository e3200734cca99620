"""Smoke tests for the benchmark: every workload, traced and untraced,
on tiny inputs (the ``xs`` corpus, 60-document operator tables), plus
the checks on the benchmark's own files that need no Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_lists_what_the_runner_prints():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_names()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert len(spec["per_layer"]) <= 128


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
    assert not (tmp_path / ".perfbench").exists()


def _smoke(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
            "--seconds", "1", "--trace", str(trace), "--smoke",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench", "results", f"{workload}-smoke.jsonl")) as f:
        record = json.loads(f.readlines()[-1])
    return out, record


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    out, record = _smoke(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0, record["failures"]
    assert out["attempted"] >= 1
    want = run.per_layer_names() if trace else run.END_TO_END
    assert {k: m["unit"] for k, m in out["metrics"].items()} == want
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values())
        return
    layers = record["layers"]
    if workload == "kg":
        # the KG spans partition run_pipeline's traced wall time (the
        # outer timer also holds the span's own job-group calls)
        for phase in ("build", "noop"):
            spans = sum(layers[f"{phase}.{layer}.self_s"] for layer in run.KG_LAYERS)
            walls = record["details"]["timings"][phase]
            assert spans == pytest.approx(sum(walls), abs=0.01 * len(walls)), phase
        assert layers["build.mentions.jobs"] > 0 and layers["build.mentions.executor_s"] > 0
        assert layers["build.materialize.cuts"] > 0
        assert layers["build.checkpoint.write_mb"] > 0
        assert layers["noop.pipeline.jobs"] > 0
    else:
        assert layers["ann_index.query.jobs"] > 0 and layers["encoder.query.self_s"] > 0
        assert layers["ann_index.chunks"] > 0
        for family in run.FAMILIES:
            assert layers[f"{family}.jobs"] > 0, family
