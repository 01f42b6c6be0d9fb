"""Multi-source BFS hop distances via frontier-propagation supersteps.

dist_0(v) = 0 for v in sources, unreached otherwise; superstep i settles
every unreached neighbour of the current frontier at dist = i + 1. The
reference's vertex-set machinery has no shortest-path app, but this is the
canonical fourth vertex program of the link-graph tier (alongside
PageRank / connected components / label propagation) and runs on the same
checkpointed, resumable :class:`SuperstepEngine`.

Scale shape: each superstep joins the FRONTIER (only the vertices settled
in the previous round) against the symmetrized edge table — never the full
state — so per-round shuffle volume tracks the frontier boundary, not |V|;
the reached set settles into the state with one co-partitioned join, and
the newly-settled count is the observed delta. All joins/aggregations are
JVM-side column expressions; convergence = empty frontier (exact, the
north rule's "component assignments exact" discipline applied to hop
distances).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peregrine_spark.supersteps.engine import (
    SuperstepEngine,
    SuperstepResult,
    partitioned_adjacency,
)


def bfs_hops(
    edges: DataFrame,
    sources: Iterable[int] | DataFrame,
    max_iters: int = 50,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
    n_partitions: int | None = None,
) -> SuperstepResult:
    """Hop distance from the nearest source over the canonical (src<dst)
    edge table, undirected. State: (v, dist) over ALL vertices, dist null
    while unreached; converged when a superstep settles no new vertex.

    ``sources``: vertex ids (iterable, duplicates ignored) or a
    single-column DataFrame. Ids not present in the edge table are ignored
    (an isolated source has no edges to traverse). Returns the standard
    engine result — per-superstep metrics carry the newly-settled count as
    the delta, and ``resume=True`` restarts from the last complete
    checkpoint like every other vertex program.
    """
    spark = edges.sparkSession
    engine = engine or SuperstepEngine(spark)
    if isinstance(sources, DataFrame):
        src_df = sources.select(F.col(sources.columns[0]).alias("v")).distinct()
    else:
        src_df = spark.createDataFrame([(s,) for s in sorted({int(s) for s in sources})], "v long")

    with partitioned_adjacency(edges, engine, n_partitions) as sym:

        def step(state: DataFrame, i: int):
            frontier = state.where(F.col("dist") == i).select("v")
            reached = (
                sym.join(frontier.hint("shuffle_hash"), sym["src"] == frontier["v"])
                .select(F.col("dst").alias("v"))
                .distinct()
                .withColumn("_r", F.lit(True))
            )
            new = state.join(reached.hint("shuffle_hash"), "v", "left").select(
                "v",
                F.coalesce("dist", F.when(F.col("_r"), F.lit(i + 1).cast("long"))).alias("dist"),
                (F.col("dist").isNull() & F.col("_r").isNotNull()).alias("_new"),
            )
            return new, F.count_if("_new")

        verts = sym.select(F.col("src").alias("v")).distinct()
        state0 = verts.join(src_df.select("v", F.lit(0).alias("_d")), "v", "left").select(
            "v", F.col("_d").cast("long").alias("dist")
        )
        return engine.run(state0, step, max_iters=max_iters, tol=0.0, resume=resume)
