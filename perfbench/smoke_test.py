"""Smoke test of the benchmark itself at tiny size (sf0.001 KB, a 400-
conversation pipeline, a few queries and update rounds):

    python3 -m pytest perfbench/smoke_test.py -q      # about 3 minutes

Every run must exit 0, print every metric of BENCHMARK.json with its unit,
and check its outputs with no failure (error_rate 0).
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
WORKLOADS = ["query_mix", "kg_pipeline", "kb_update"]
NAMED = {
    "query_mix": {"query_p50_s": "s", "query_p95_s": "s", "queries_per_s": "1/s"},
    "kg_pipeline": {"pipeline_turns_per_s": "1/s", "pipeline_bytes_per_turn": "B"},
    "kb_update": {
        "update_round_p50_s": "s",
        "update_round_p90_s": "s",
        "store_bytes_per_triple": "B",
    },
}
# per-layer counts each workload must see (its layers are exercised)
NONZERO_LAYERS = {
    "query_mix": [
        "kb.build_jobs", "kb.stats_jobs", "query.plan_jobs.path_plus", "query.exec_jobs.bgp4",
    ],
    # the extract stage submits its 8 bucket jobs from a thread pool
    "kg_pipeline": [
        "pipeline.ingest_jobs", "pipeline.extract_jobs", "pipeline.extract_tasks",
        "pipeline.materialize_stages",
    ],
    "kb_update": ["kb.save_jobs", "store.files", "store.bytes_written", "query.exec_s"],
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = _spec()["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--scale", "tiny",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _lines(proc) -> list[dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return [json.loads(line) for line in proc.stdout.strip().splitlines()]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    lines = _lines(_run(ROOT, workload, 0))
    result, named = lines[-1], lines[-2]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    units = {k: v["unit"] for k, v in named["named"].items()}
    assert units == {"setup_s": "s", **NAMED[workload], "error_rate": "ratio", "peak_rss_mb": "MB"}
    assert named["named"]["error_rate"]["value"] == 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics(workload):
    result = _lines(_run(ROOT, workload, 1))[-1]
    assert result["correct"] is True and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    metrics = result["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == want
    for name in NONZERO_LAYERS[workload]:
        assert metrics[name]["value"] > 0, name
    # spans plus the remainder make up the traced window
    assert 0 <= metrics["trace.remainder_s"]["value"] < metrics["trace.wall_s"]["value"]


def test_fails_without_the_program(tmp_path):
    """Run from a directory holding only BENCHMARK.json and the benchmark."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in _spec()["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("work", "out", "__pycache__"),
        )
    proc = _run(str(tmp_path), "query_mix", 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
