"""The benchmark's own tests: a tiny-input smoke run of every workload in
both modes, and the seed pin of the headline input.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
from pathlib import Path

import pytest

import run
import workloads as wl

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


@pytest.fixture(autouse=True)
def restore_env():
    """A run points the environment and ``tempfile`` at its work directory."""
    env, tmp = dict(os.environ), tempfile.tempdir
    yield
    os.environ.clear()
    os.environ.update(env)
    tempfile.tempdir = tmp


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_and_oracle(workload, trace, kind):
    """One run on the tiny input, in this process."""
    args = run.parse_args(["--workload", workload, "--seed", "7", "--seconds", "1",
                           "--trace", str(trace)])
    _, out = run.bench(args, wl.TINY)
    w = wl.WORKLOADS[workload]
    assert out["correct"] and out["failed"] == 0
    assert out["attempted"] >= len(w.setup_ops) + len(w.ops)
    assert set(out["metrics"]) == {m["name"] for m in SPEC[kind]}
    for m in SPEC[kind]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"], m["name"]


def test_bare_directory_fails_without_result(tmp_path):
    """Without the engine next to it the benchmark exits non-zero and
    prints no result."""
    (tmp_path / "perfbench").mkdir()
    for f in HERE.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0 and p.stdout == ""


def test_seed_42_reproduces_headline_graph(tmp_path):
    """Seed 42 at SF=0.1 is the BENCH_r01-r05 input: 475,140 canonical
    edges and 129 triangles."""
    run.isolate(tmp_path)
    assert run.engine_present()
    from peregrine_spark import tables

    seed = tables.SEED
    session = run.Session(tmp_path, event_log=False)
    try:
        sizes = wl.Sizes(repo_sf=0.1, hub_samples=0, hub_vertices=0)
        w = wl.RepoHeadline(session.spark, 42, sizes, tmp_path)
        w.generate()
        state: dict = {}
        graph = wl.op_ingest(w, state)
        assert graph.edges.count() == 475_140
        assert wl.op_triangles(w, state) == 129
    finally:
        session.stop()
        tables.SEED = seed
