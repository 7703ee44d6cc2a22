"""Smoke test for the benchmark: every workload at its smallest size emits
every metric ``BENCHMARK.json`` names, and a corrupted output makes the
run fail its checks.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark JVM, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ["enrich_stream", "dim_upsert", "catalog_mix"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(workload: str, *flags: str):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "4", "--tiny", *flags],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    assert lines, p.stderr[-3000:]
    return p.returncode, json.loads(lines[-1]), p.stderr


def test_spec_workloads_exist():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_emits_every_end_to_end_metric(workload):
    rc, out, err = bench(workload, "--trace", "0")
    assert rc == 0, err[-3000:]
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_fails_the_checks(workload):
    rc, out, _ = bench(workload, "--trace", "1", "--inject-fault")
    assert rc != 0
    assert not out["correct"] and out["failed"] >= 1
    assert set(out["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    assert out["metrics"]["fail_ratio"]["value"] > 0
