"""PageRank over the undirected edge table — two physical strategies.

Link-graph tier (north rule; not in the reference, whose iteration analogue
is the per-pattern barrier loop, core/Peregrine.hh:1320-1424).

Semantics: damping d (default 0.85), uniform init 1/n over the degree>0
vertices, rank_{i+1}(v) = (1-d)/n + d * Σ_{u∈N(v)} rank_i(u)/deg(u).
Undirected (symmetrized) edges ⇒ no dangling vertices. Convergence: L1
delta ≤ tol, observed on every superstep's one job. Matches a
NumPy/pure-Python oracle to ≤1e-6 (tests).

State schema (both strategies, and so every checkpoint): (v, deg, tp,
rank). ``tp`` is the per-vertex teleport distribution — uniform 1/n, or
1/|S| over a source set for personalized PageRank — so the update is
rank' = (1-d)·tp + d·inflow with no extra join. Checkpoints written before
``tp`` joined the state, (v, deg, rank), do not resume. Results are
projected to (v, rank, deg).

Strategy A — ``pagerank`` (pure Catalyst): contribution = ranks ⋈ edges_sym
on src (co-partitioned shuffle hash join: a broadcast would cost a second
Spark job per superstep), groupBy(dst).sum (map-side partial agg absorbs
hub fan-in). Simple, whole-stage-codegen'd.

Strategy B — ``pagerank_csr`` (the north-star physical plan): adjacency is
materialized once as *chunked CSR blocks* — (src, chunk, nbrs array<long>)
with every chunk ≤ chunk_size neighbours. Chunking IS the hub salting: a
10^9-degree hub becomes many bounded rows, so the per-superstep join on src
is never skewed and no Arrow batch blows up. The superstep joins ranks to
the blocks (1:few equi-join) and a vectorized mapInPandas kernel does the
gather-scatter: np.repeat shares over the flattened neighbour arrays, then
np.unique+np.bincount pre-aggregates *within the batch* (map-side combine)
before the final groupBy(dst).sum shuffle. No per-row Python anywhere.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peregrine_spark.graph.build import symmetrized
from peregrine_spark.supersteps.engine import (
    SuperstepEngine,
    SuperstepResult,
    partitioned_adjacency,
)


def _degrees(edges_sym: DataFrame) -> DataFrame:
    return edges_sym.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def _init_state(deg: DataFrame, sources=None) -> DataFrame:
    """State (v, deg, tp, rank) with an explicit per-vertex teleport
    distribution. ``sources=None`` is classic PageRank (uniform 1/n);
    otherwise teleport mass is 1/|S| over the source vertices present in
    the graph (personalized PageRank / random walk with restart). rank_0 =
    tp in both cases."""
    if sources is None:
        n = deg.count()
        tp = F.lit(1.0 / n)
        return deg.select("v", "deg", tp.alias("tp"), tp.alias("rank"))
    src_df = deg.sparkSession.createDataFrame(
        [(int(s),) for s in sorted(set(sources))], "v long"
    )
    marked = deg.join(
        F.broadcast(src_df.select("v", F.lit(True).alias("_s"))), "v", "left"
    )
    k = marked.where(F.col("_s")).count()
    if k == 0:
        raise ValueError("personalized pagerank: no source vertex is in the graph")
    tp = F.when(F.col("_s"), F.lit(1.0 / k)).otherwise(F.lit(0.0))
    return marked.select("v", "deg", tp.alias("tp"), tp.alias("rank"))


def _rank_step(contributions, damping: float):
    """The superstep shared by both strategies: ``contributions(state)``
    yields (v, inflow); the next frame carries the new rank and the old one
    for the L1 delta."""

    def step(state: DataFrame, i: int):
        new = state.join(contributions(state).hint("shuffle_hash"), "v", "left").select(
            "v",
            "deg",
            "tp",
            (
                F.lit(1 - damping) * F.col("tp")
                + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
            ).alias("rank"),
            F.col("rank").alias("old"),
        )
        return new, F.sum(F.abs(F.col("rank") - F.col("old")))

    return step


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iters: int = 20,
    tol: float = 1e-6,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
    check_every: int = 1,
    n_partitions: int | None = None,
    sources=None,
) -> SuperstepResult:
    """Strategy A: pure-DataFrame supersteps. ``edges`` is canonical
    (src<dst); state schema (v, deg, tp, rank) where tp is the teleport
    distribution — uniform 1/n by default, or (``sources=``) 1/|S| over a
    source set for PERSONALIZED PageRank (random walk with restart: rank
    mass re-injects only at the sources, scoring proximity to them). The
    teleport column rides in the state, so personalization adds zero
    extra joins per superstep.

    check_every: ignored — the L1 delta is observed on every superstep's
    one job at no extra cost; kept so existing callers keep working.

    n_partitions: partition count for the adjacency AND every in-loop
    shuffle (defaults to :func:`auto_shuffle_partitions` of the symmetrized
    edge count — data-sized, not the session default)."""
    engine = engine or SuperstepEngine(edges.sparkSession)
    with partitioned_adjacency(edges, engine, n_partitions) as sym:

        def contributions(state: DataFrame) -> DataFrame:
            return (
                sym.join(state.hint("shuffle_hash"), sym["src"] == state["v"])
                .select(F.col("dst").alias("v"), (F.col("rank") / F.col("deg")).alias("c"))
                .groupBy("v")
                .agg(F.sum("c").alias("inflow"))
            )

        state0 = _init_state(_degrees(sym), sources)
        res = engine.run(
            state0, _rank_step(contributions, damping), max_iters=max_iters,
            tol=tol, resume=resume,
        )
    res.state = res.state.select("v", "rank", "deg")
    return res


def build_adjacency_blocks(
    edges_sym: DataFrame, chunk_size: int = 1 << 16
) -> DataFrame:
    """Chunked CSR blocks: (src, chunk, deg, nbrs sorted array<long>).

    Neighbour lists are split into ~chunk_size pieces BEFORE collect_list so
    no single task ever materializes a hub's full adjacency (explicit skew
    salting; the reference's analogue is work-stealing hub ranges,
    core/RangeQueue.hh:598-675). ``nbrs`` is sorted ascending within each
    chunk — the CSR sortedness invariant (core/DataConverter.cc:349-359)
    that keeps np.searchsorted/intersection kernels valid.
    """
    deg = _degrees(edges_sym)
    with_deg = edges_sym.join(deg, edges_sym["src"] == deg["v"]).drop("v")
    chunked = with_deg.withColumn(
        "chunk",
        F.pmod(F.xxhash64("dst"), (F.col("deg") / chunk_size + 1).cast("long")),
    )
    return chunked.groupBy("src", "chunk").agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs"),
        F.first("deg").alias("deg"),
    )


def pagerank_csr(
    edges: DataFrame,
    damping: float = 0.85,
    max_iters: int = 20,
    tol: float = 1e-6,
    chunk_size: int = 1 << 16,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
    check_every: int = 1,
    n_partitions: int | None = None,
) -> SuperstepResult:
    """Strategy B: chunked-CSR Arrow kernel supersteps (``check_every`` is
    ignored, as in :func:`pagerank`)."""
    engine = engine or SuperstepEngine(edges.sparkSession)

    def gather_scatter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            nbr_arrays = pdf["nbrs"].to_numpy()
            counts = np.fromiter((len(a) for a in nbr_arrays), dtype=np.int64)
            flat_dst = np.concatenate(nbr_arrays) if len(nbr_arrays) else np.array([], dtype=np.int64)
            shares = np.repeat(
                (pdf["rank"].to_numpy() / pdf["deg"].to_numpy()), counts
            )
            uniq, inv = np.unique(flat_dst, return_inverse=True)
            partial = np.bincount(inv, weights=shares, minlength=len(uniq))
            yield pd.DataFrame({"v": uniq.astype(np.int64), "inflow": partial})

    with engine.sized(edges, n_partitions) as n_part:
        blocks = (
            build_adjacency_blocks(symmetrized(edges), chunk_size)
            .repartition(n_part, "src")
            .persist()
        )

        def contributions(state: DataFrame) -> DataFrame:
            joined = blocks.join(
                state.hint("shuffle_hash"), blocks["src"] == state["v"]
            ).select("nbrs", "rank", state["deg"].alias("deg"))
            return (
                joined.mapInPandas(gather_scatter, schema="v long, inflow double")
                .groupBy("v")
                .agg(F.sum("inflow").alias("inflow"))
            )

        deg = blocks.groupBy(F.col("src").alias("v")).agg(
            F.sum(F.size("nbrs")).alias("deg")
        )
        res = engine.run(
            _init_state(deg), _rank_step(contributions, damping),
            max_iters=max_iters, tol=tol, resume=resume,
        )
    res.state = res.state.select("v", "rank", "deg")
    blocks.unpersist()
    return res
