"""Smoke test of the benchmark itself, at tiny sizes.

    python -m pytest kgbench/test_smoke.py -q

Runs every workload once untraced and once traced with the output checks
on, and checks that the generator gives byte-identical tables for a seed.
Each run starts its own Spark session, so this takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from kgbench import gen
from kgbench.run import E2E, WORKLOADS, per_layer_names

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_generator_is_deterministic():
    for seed in (1, 2):
        assert gen.table_digest(gen.code_repos(seed, 30)) == gen.table_digest(gen.code_repos(seed, 30))
        assert gen.table_digest(gen.link_repos(seed, 30, 50)) == gen.table_digest(gen.link_repos(seed, 30, 50))
    assert gen.table_digest(gen.code_repos(1, 30)) != gen.table_digest(gen.code_repos(2, 30))


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "kgbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "5", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_runs_clean(workload, trace):
    out = _run(workload, trace)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = set(E2E) if trace == 0 else set(per_layer_names())
    assert set(out["metrics"]) == want
    if trace == 0:
        assert all(m["value"] > 0 for m in out["metrics"].values())
