"""Workload inputs and the operations the benchmark times on each.

Each workload times the operations whose layers its input exercises, and
leaves the others idle (see README.md):

* ``repo_headline`` -- the string-keyed source-repository table that
  ``bench.py`` uses (``source_repo_table`` + ``with_sha256``). Timed:
  ingest (parses import lines, builds co-commit chains, joins string keys
  to ids), triangles and the two vertex programs on the resulting sparse
  graph. The pattern compiler is idle.
* ``hub_patterns`` -- ``powerlaw_edges``: integer pairs with one hub
  adjacent to a large share of the graph, so pattern joins are skewed and
  triangles and 4-cliques are plentiful. Ingest (integer relabelling) runs
  in set-up; timed are the pattern operations. Supersteps are idle.

The inputs are generated from the workload seed only; the engine receives
the generated tables.
"""

from __future__ import annotations

import time
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path
from typing import Callable, NamedTuple

PAGERANK_STEPS = 10  # fixed supersteps per PageRank run (tol=-1)
KTRUSS_K = 5
CC_MAX_ITERS = 64


@dataclass(frozen=True)
class Sizes:
    repo_sf: float  # scale factor of source_repo_table
    hub_samples: int  # powerlaw_edges n_samples
    hub_vertices: int  # powerlaw_edges n_vertices


FULL = Sizes(repo_sf=0.001, hub_samples=9_000, hub_vertices=15_000)
TINY = Sizes(repo_sf=0.0002, hub_samples=600, hub_vertices=1_000)


@dataclass
class Graph:
    """The ingest result every later operation reads."""

    edges: object  # canonical (src < dst) DataFrame, persisted
    vertices: object  # (v, key, ...) DataFrame, persisted

    def release(self) -> None:
        self.edges.unpersist()
        self.vertices.unpersist()


class Workload:
    """One benchmark input: how to generate it and how to ingest it."""

    name: str
    setup_ops: list[str] = []  # run once in set-up, checked, not timed
    ops: list[str]  # timed, in this order, once per pass
    # the warm-up lowers the superstep caps and counts motifs concurrently
    pagerank_steps = PAGERANK_STEPS
    cc_max_iters = CC_MAX_ITERS
    motif_concurrency = 1

    def __init__(self, spark, seed: int, sizes: Sizes, workdir: Path):
        self.spark = spark
        self.seed = seed
        self.sizes = sizes
        self.workdir = workdir
        self.input = None

    def generate(self):
        """Build and persist the input table; returns its row count."""
        raise NotImplementedError

    def ingest(self) -> Graph:
        raise NotImplementedError

    def release_input(self) -> None:
        if self.input is not None:
            self.input.unpersist()
            self.input = None


class RepoHeadline(Workload):
    name = "repo_headline"
    ops = ["ingest", "triangles", "pagerank", "cc"]

    def generate(self) -> int:
        from peregrine_spark import tables

        # the generator hashes with the module-level SEED, read when the
        # column expressions are built
        tables.SEED = self.seed
        df = tables.with_sha256(
            tables.source_repo_table(self.spark, sf=self.sizes.repo_sf)
        ).persist()
        rows = df.count()
        self.release_input()
        self.input = df
        return rows

    def ingest(self) -> Graph:
        from peregrine_spark.graph import build

        g = build.build_graph(self.input)
        edges = g.edges.persist()
        vertices = g.vertices.persist()
        edges.count()
        vertices.count()
        g.unpersist()
        return Graph(edges, vertices)


class HubPatterns(Workload):
    name = "hub_patterns"
    setup_ops = ["ingest"]
    ops = ["triangles", "motifs4", "ktruss", "output"]

    def generate(self) -> int:
        from peregrine_spark import tables

        df = tables.powerlaw_edges(
            self.spark,
            self.sizes.hub_samples,
            self.sizes.hub_vertices,
            seed=self.seed,
            relabel=False,
        ).persist()
        rows = df.count()
        self.release_input()
        self.input = df
        return rows

    def ingest(self) -> Graph:
        from pyspark.sql import functions as F

        from peregrine_spark.graph import from_tables
        from peregrine_spark.session import release_checkpoint

        edges, mapping = from_tables.relabel_by_degree(self.input)
        edges = edges.persist()
        vertices = mapping.select("v", F.col("old").alias("key")).persist()
        edges.count()
        vertices.count()
        release_checkpoint(mapping.ranking_cache)
        return Graph(edges, vertices)


WORKLOADS = {w.name: w for w in (RepoHeadline, HubPatterns)}


# -- the operation mix ------------------------------------------------------
# Each operation consumes its result inside the timed region (an action or
# an eager checkpoint) and returns what the oracle needs, still as Spark
# objects where collecting is cheap afterwards.


def op_ingest(w: Workload, state: dict):
    if state.get("graph") is not None:
        state["graph"].release()
    state["graph"] = w.ingest()
    return state["graph"]


def op_triangles(w: Workload, state: dict):
    from peregrine_spark.operators import triangles

    return triangles.triangle_count(state["graph"].edges).collect()[0]["triangles"]


def op_pagerank(w: Workload, state: dict):
    from peregrine_spark import supersteps

    return supersteps.pagerank(
        state["graph"].edges,
        max_iters=w.pagerank_steps,
        tol=-1.0,
        check_every=w.pagerank_steps,
    )


def op_cc(w: Workload, state: dict):
    from peregrine_spark import supersteps

    return supersteps.connected_components(
        state["graph"].edges, max_iters=w.cc_max_iters, check_every=2
    )


def op_motifs4(w: Workload, state: dict):
    from peregrine_spark.operators import match

    return match.count_motifs(state["graph"].edges, 4, concurrency=w.motif_concurrency)


def op_ktruss(w: Workload, state: dict):
    from peregrine_spark.operators import triangles

    _release_ktruss(state)
    state["ktruss"] = triangles.ktruss(state["graph"].edges, KTRUSS_K)
    return state["ktruss"]


def _release_ktruss(state: dict) -> None:
    from peregrine_spark.session import release_checkpoint

    prev = state.pop("ktruss", None)
    if prev is not None:
        release_checkpoint(prev)


def release_state(state: dict) -> None:
    """Free the cached tables a pass left behind."""
    _release_ktruss(state)
    graph = state.pop("graph", None)
    if graph is not None:
        graph.release()


def op_output(w: Workload, state: dict):
    from peregrine_spark.operators import match
    from peregrine_spark.patterns.small_graph import PatternGenerator

    path = w.workdir / "output"
    match.output(state["graph"].edges, PatternGenerator.clique(4), str(path), fmt="parquet")
    return path


OPS: dict[str, Callable] = {
    "ingest": op_ingest,
    "triangles": op_triangles,
    "pagerank": op_pagerank,
    "cc": op_cc,
    "motifs4": op_motifs4,
    "ktruss": op_ktruss,
    "output": op_output,
}

SUPERSTEP_OPS = ["pagerank", "cc"]


class Timed(NamedTuple):
    seconds: float  # wall
    result: object
    cpu_s: float


def run_ops(w: Workload, state: dict, names: list[str], cpu: Callable[[], float],
            on_op=lambda name: nullcontext()) -> dict[str, Timed]:
    """Run the named operations once each, in order; ``cpu()`` reads the
    CPU clock.

    ``on_op(name)`` is a context manager entered around each operation,
    outside its timed region (the traced run tags and spans through it)."""
    out = {}
    for name in names:
        fn = OPS[name]
        with on_op(name):
            c0, t0 = cpu(), time.perf_counter()
            res = fn(w, state)
            out[name] = Timed(time.perf_counter() - t0, res, cpu() - c0)
    return out
