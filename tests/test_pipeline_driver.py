"""End-to-end pipeline driver (tools/run_pipeline.py): repos → sentences →
mentions → triples → nodes/edges → metrics, checkpointed, resumable."""

import json
import os
import shutil
import subprocess
import sys
from collections import Counter
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

RULES = """
rules:
  - name: call-args
    label: CallArg
    type: event
    priority: 1
    pattern: |
      trigger = [entity=CALL]
      subject = <next []
      object = >arg [tag=IDENT]
"""


# runs tools/run_pipeline.py with materialize.build_graph replaced by a
# function that raises: any stage that still calls it fails the run
NO_BUILD_GRAPH = (
    "import runpy, sys\n"
    "import odinson_spark.pipeline.materialize as m\n"
    "def build_graph(*a, **k):\n"
    "    raise RuntimeError('build_graph called')\n"
    "m.build_graph = build_graph\n"
    "sys.argv = sys.argv[1:]\n"
    "runpy.run_path(sys.argv[0], run_name='__main__')\n"
)
EDGE_COLS = "src_id, dst_id, pred, rule, doc_id, sent_id, content_sha"


@pytest.fixture(scope="module")
def pipeline(tmp_path_factory, spark):
    """One full run over 20 files; returns (command, warehouse dir, env)."""
    tmp_path = tmp_path_factory.mktemp("pipeline")
    rows = []
    for i in range(20):
        content = (
            f"def func{i}():\n"
            f"    total{i} = compute{i}(alpha{i}, beta{i})\n"
            f"    print(total{i})\n"
        )
        rows.append((f"acme/repo{i % 3}", f"src/f{i}.py", "c" * 40, "python", content))
    spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ).write.parquet(str(tmp_path / "repos"))
    rules = tmp_path / "rules.yml"
    rules.write_text(RULES)
    out_dir = tmp_path / "warehouse"
    cmd = [
        str(REPO / "tools" / "run_pipeline.py"),
        "--input", str(tmp_path / "repos"),
        "--rules", str(rules),
        "--output", str(out_dir),
        "--mode", "code",
        "--run-id", "t1",
        "--salt-partitions", "4",
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    r = subprocess.run(
        [sys.executable, *cmd], capture_output=True, text=True, cwd=REPO, env=env, timeout=500
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return cmd, out_dir, env


def _metrics(out_dir):
    return {m["stage"]: m["skipped"] for m in json.loads((out_dir / "_metrics_t1.json").read_text())}


@pytest.mark.slow
def test_run_pipeline_end_to_end(pipeline):
    cmd, out_dir, env = pipeline
    import duckdb

    counts = {
        t: duckdb.sql(f"SELECT count(*) FROM '{out_dir}/{t}/*.parquet'").fetchone()[0]
        for t in ("sentences", "mentions", "triples", "nodes", "edges", "metrics")
    }
    assert counts["sentences"] == 60          # 3 lines per file
    assert counts["triples"] == 40            # 2 (subj,obj) args per call site
    assert counts["nodes"] > 0 and counts["edges"] == 40
    # second run resumes: every stage skipped
    r2 = subprocess.run(
        [sys.executable, *cmd], capture_output=True, text=True, cwd=REPO, env=env, timeout=500
    )
    assert r2.returncode == 0
    assert all(_metrics(out_dir).values())


@pytest.mark.slow
def test_edges_stage_resumes_from_checkpoint(pipeline):
    """A rerun that finds nodes done but edges missing builds the edges from
    the checkpointed triples and nodes, without re-running build_graph."""
    cmd, out_dir, env = pipeline
    import duckdb

    def edges():
        return Counter(duckdb.sql(f"SELECT {EDGE_COLS} FROM '{out_dir}/edges/*.parquet'").fetchall())

    before = edges()
    shutil.rmtree(out_dir / "edges")
    r = subprocess.run(
        [sys.executable, "-c", NO_BUILD_GRAPH, *cmd],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=500,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert edges() == before and sum(before.values()) == 40
    skipped = _metrics(out_dir)
    assert not skipped.pop("edges") and all(skipped.values())
