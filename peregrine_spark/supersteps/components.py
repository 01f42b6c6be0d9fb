"""Connected components via iterative min-id propagation supersteps.

comp_0(v) = v; comp_{i+1}(v) = min(comp_i(v), min_{u∈N(v)} comp_i(u));
fixpoint when no row changes. Exact (north rule: component assignments
exact). The min-propagation converges in O(diameter) supersteps; the
groupBy(dst).min shuffle is partial-aggregated map-side, so hub fan-in is
absorbed before the shuffle.

Two strategies:

* ``minprop`` (default) — converges in O(diameter) supersteps; right for
  code-import graphs (small diameter), cheapest per round.
* ``contraction`` — the alternating large-star/small-star algorithm
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14): O(log^2 n) rounds regardless of diameter, the scale path for
  high-diameter graphs (long dependency chains). Each round is two
  groupBy(min) + join passes over a shrinking edge set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from peregrine_spark.graph.build import symmetrized
from peregrine_spark.supersteps.engine import (
    SuperstepEngine,
    SuperstepResult,
    partitioned_adjacency,
)


def connected_components(
    edges: DataFrame,
    max_iters: int = 50,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
    check_every: int = 1,
    strategy: str = "minprop",
    n_partitions: int | None = None,
) -> SuperstepResult:
    """State: (v, comp). Converged when the changed-row count hits 0.

    check_every: ignored — the changed-row count is observed on every
    superstep's one job at no extra cost; kept so existing callers keep
    working.

    strategy: ``minprop`` (O(diameter) rounds) or ``contraction``
    (large-star/small-star, O(log^2 n) rounds — use for high-diameter
    graphs). Both return identical (v, comp) with comp = component min.
    """
    if strategy == "contraction":
        return _cc_contraction(edges, max_iters, engine, resume, n_partitions)
    if strategy != "minprop":
        raise ValueError(f"unknown strategy {strategy!r}")
    engine = engine or SuperstepEngine(edges.sparkSession)
    with partitioned_adjacency(edges, engine, n_partitions) as sym:

        def step(state: DataFrame, i: int):
            nbr_min = (
                sym.join(state.hint("shuffle_hash"), sym["src"] == state["v"])
                .groupBy(F.col("dst").alias("v"))
                .agg(F.min("comp").alias("nbr_comp"))
            )
            new = state.join(nbr_min.hint("shuffle_hash"), "v", "left").select(
                "v",
                F.least("comp", F.coalesce("nbr_comp", F.col("comp"))).alias("comp"),
                F.col("comp").alias("old"),
            )
            return new, F.count_if(F.col("comp") != F.col("old"))

        state0 = sym.select(F.col("src").alias("v")).distinct().select(
            "v", F.col("v").alias("comp")
        )
        return engine.run(state0, step, max_iters=max_iters, tol=0.0, resume=resume)


def _large_star(E: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbour to the minimum of the
    neighbourhood (incl. self): for each u, m = min(N(u) ∪ {u}); emit
    (v, m) for v ∈ N(u), v > u. Output edges all point high→low."""
    sym = E.union(E.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mn = sym.groupBy("src").agg(F.min("dst").alias("_mn"))
    mn = mn.select("src", F.least("_mn", F.col("src")).alias("_m"))
    return (
        sym.join(mn, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .dropDuplicates()
    )


def _small_star(E: DataFrame) -> DataFrame:
    """Input edges all (src > dst). For each src, m = min of its (smaller)
    neighbours; re-point src and every other small neighbour at m."""
    mn = E.groupBy("src").agg(F.min("dst").alias("_m"))
    repointed = (
        E.join(mn, "src")
        .where(F.col("dst") != F.col("_m"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
    )
    own = mn.select("src", F.col("_m").alias("dst"))
    return repointed.union(own).where(F.col("src") != F.col("dst")).dropDuplicates()


def _cc_contraction(
    edges: DataFrame,
    max_iters: int,
    engine: SuperstepEngine | None,
    resume: bool,
    n_partitions: int | None = None,
) -> SuperstepResult:
    """Alternating large-star/small-star contraction. State per superstep is
    the shrinking edge set; convergence = edge set unchanged across a full
    (large, small) round, detected by (count, order-insensitive xor-hash).
    At the fixpoint the edges form stars (v -> component min)."""
    engine = engine or SuperstepEngine(edges.sparkSession)
    E0 = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).dropDuplicates()

    # each round observes its edge set's signature (count, order-insensitive
    # xor-hash) on the round's own job; the next round compares against it
    prev: list[Observation] = []

    def step(state: DataFrame, i: int):
        new = _small_star(_large_star(state))
        count = F.count(F.lit(1))
        xor = F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0).cast("long"))
        same = F.lit(False)
        if prev:
            sig = prev.pop().get
            same = (count == F.lit(sig["c"])) & (xor == F.lit(sig["h"]))
        prev.append(Observation())
        new = new.observe(prev[-1], count.alias("c"), xor.alias("h"))
        return new, F.when(same, 0.0).otherwise(1.0)

    with engine.sized(edges, n_partitions):
        verts = (
            symmetrized(edges).select(F.col("src").alias("v")).distinct().localCheckpoint()
        )
        res = engine.run(E0, step, max_iters=max_iters, tol=0.0, resume=resume)
    E = res.state  # star edges (v, root)
    state = (
        verts.join(E, verts["v"] == E["src"], "left")
        .select("v", F.coalesce(E["dst"], verts["v"]).alias("comp"))
    )
    return SuperstepResult(
        state=state,
        iterations=res.iterations,
        converged=res.converged,
        metrics=res.metrics,
    )
