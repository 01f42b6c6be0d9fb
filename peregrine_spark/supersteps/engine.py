"""Superstep driver loop: one Spark job per superstep, checkpointed,
lineage-tracked, resumable.

The reference's analogue is the per-pattern barrier loop
(core/Peregrine.hh:1320-1424): workers process a round, hit a barrier, the
driver advances. Our superstep = exactly one Spark job over the vertex-state
DataFrame: the job that materializes the next state (an eager
``localCheckpoint``, or the parquet checkpoint write). The convergence
delta is an aggregate attached to that same job with ``DataFrame.observe``,
so testing convergence every superstep costs no extra pass over the state.
What the reference does NOT have — and the north rule demands — is fault
tolerance: every checkpointed superstep persists

  * the full vertex state (parquet, atomic via Spark's _SUCCESS marker),
  * per-partition lineage (partition id, row count, order-insensitive
    checksum of the rows), and
  * convergence metrics (delta, wall seconds, rows)

to the checkpoint directory, so a killed job resumes mid-iteration from the
last complete superstep (``resume=True``). Materializing state each
superstep also truncates the logical plan — without it, iterative DataFrame
loops grow an exponentially deeper DAG and re-execute the whole history
each action.

At 100 TB this directory would be an Iceberg table (snapshot per superstep);
in the sandbox it is Iceberg-shaped parquet + a JSONL metrics log.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from peregrine_spark.graph.build import symmetrized
from peregrine_spark.session import pinned_conf, release_checkpoint


def auto_shuffle_partitions(
    spark: SparkSession,
    n_rows: int,
    rows_per_core: int = 100_000,
    rows_target: int = 2_000_000,
) -> int:
    """Size the shuffle for an iterative job to its data, not the session
    default.

    Two regimes joined smoothly:
      * small inputs — at most one partition per ``rows_per_core`` rows (a
        64-task shuffle over 1e5 rows pays 64 scheduling floors to move
        kilobytes; measured 2-4x superstep slowdown at SF=0.1), capped at
        the core count;
      * large inputs — one partition per ``rows_target`` rows (~tens of MB),
        which exceeds the core count as soon as n_rows > cores *
        rows_target and keeps every shuffle block spill-safe at 100 TB.

    The returned count is used consistently for the state repartition AND
    ``spark.sql.shuffle.partitions`` inside the superstep loop, so the
    per-iteration joins stay co-partitioned (zero-shuffle) whatever the
    session-level setting is.
    """
    cores = spark.sparkContext.defaultParallelism
    by_cores = min(cores, max(1, n_rows // rows_per_core))
    return int(max(by_cores, n_rows // rows_target, 1))


def shuffle_partitions(spark: SparkSession, n: int | None):
    """Pin spark.sql.shuffle.partitions for a block (no-op if n is None);
    thread-safe, see :func:`peregrine_spark.session.pinned_conf`."""
    return pinned_conf(spark, "spark.sql.shuffle.partitions", None if n is None else int(n))


@contextmanager
def partitioned_adjacency(edges: DataFrame, engine: "SuperstepEngine",
                          n_partitions: int | None = None):
    """The symmetrized adjacency of a canonical edge table, hash-partitioned
    on ``src`` into the :meth:`SuperstepEngine.sized` partition count and
    persisted for the block, which holds ``sized``: every in-loop join of
    vertex state (keyed by ``v``) with it is then co-partitioned."""
    with engine.sized(edges, n_partitions) as n_part:
        sym = symmetrized(edges).repartition(n_part, "src").persist()
        try:
            yield sym
        finally:
            sym.unpersist()


@dataclass
class SuperstepResult:
    state: DataFrame
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def _partition_lineage(state: DataFrame, key_cols: list[str]) -> list[dict]:
    """Per-partition (id, rows, checksum). Checksum = bit_xor of xxhash64
    over the row's columns — order-insensitive, overflow-free, one job."""
    agg = (
        state.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.bit_xor(F.xxhash64(*[F.col(c) for c in key_cols])).alias("checksum"),
        )
        .collect()
    )
    return [
        {"partition": r["_pid"], "rows": r["rows"], "checksum": r["checksum"]}
        for r in sorted(agg, key=lambda r: r["_pid"])
    ]


class SuperstepEngine:
    """Runs ``state_{i+1} = step_fn(state_i, i)`` to convergence, one Spark
    job per superstep.

    ``step_fn`` returns ``(next_frame, delta)``: ``next_frame`` holds the
    state columns (those of ``state0``) and may carry helper columns such as
    the previous value; ``delta`` is an aggregate Column over ``next_frame``
    (L1 change, changed-row count, ...). The engine attaches ``delta`` to
    ``next_frame`` with an unnamed ``Observation`` (a fixed name would clash
    between overlapping runs), projects to the state columns and
    materializes the result; the observed value arrives with that job.
    ``delta <= tol`` stops (an empty frame observes 0).
    """

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None = None,
        run_id: str = "run",
        checkpoint_every: int = 1,
        adaptive: bool = False,
    ):
        self.spark = spark
        self.dir = Path(checkpoint_dir) if checkpoint_dir else None
        self.run_id = run_id
        self.checkpoint_every = max(1, checkpoint_every)
        # AQE re-plans every superstep query and interacts badly with
        # localCheckpoint partition materialization (measured 10x superstep
        # slowdown); iterative supersteps use static partitioning — skew is
        # handled structurally (chunked CSR blocks, degree orientation).
        # adaptive=True keeps the session setting untouched.
        self.adaptive = adaptive

    def _pinned(self):
        aqe = None if self.adaptive else "false"
        return pinned_conf(self.spark, "spark.sql.adaptive.enabled", aqe)

    @contextmanager
    def sized(self, edges: DataFrame, n_partitions: int | None = None):
        """Plan the block as the loop plans: AQE off (unless
        ``adaptive=True``), so a set-up action is one Spark job however many
        shuffles it has, and spark.sql.shuffle.partitions pinned to
        ``n_partitions`` (default: :func:`auto_shuffle_partitions` of the
        symmetrized edge count), which it yields."""
        with self._pinned():
            n = n_partitions or auto_shuffle_partitions(self.spark, 2 * edges.count())
            with shuffle_partitions(self.spark, n):
                yield n

    # -- checkpoint layout -------------------------------------------------
    def _step_path(self, i: int) -> Path:
        return self.dir / self.run_id / f"step={i:05d}"

    def _metrics_path(self) -> Path:
        return self.dir / self.run_id / "metrics.jsonl"

    def _complete_steps(self) -> list[int]:
        if not self.dir or not (self.dir / self.run_id).exists():
            return []
        out = []
        for p in sorted((self.dir / self.run_id).glob("step=*")):
            if (p / "_SUCCESS").exists():
                out.append(int(p.name.split("=")[1]))
        return out

    def last_checkpoint(self) -> tuple[int, DataFrame] | None:
        steps = self._complete_steps()
        if not steps:
            return None
        i = steps[-1]
        return i, self.spark.read.parquet(str(self._step_path(i)))

    def _commit(self, i: int, frame: DataFrame) -> tuple[DataFrame, list[dict]]:
        """Write step ``i``'s state to its parquet checkpoint and read it
        back; returns (state, per-partition lineage)."""
        path = self._step_path(i)
        frame.write.mode("overwrite").parquet(str(path))
        state = self.spark.read.parquet(str(path))
        return state, _partition_lineage(state, state.columns)

    # -- main loop -----------------------------------------------------------
    def run(
        self,
        state0: DataFrame,
        step_fn: Callable[[DataFrame, int], tuple[DataFrame, Column]],
        max_iters: int = 20,
        tol: float = 0.0,
        resume: bool = False,
    ) -> SuperstepResult:
        metrics: list[dict] = []
        start_iter = 0
        state = state0

        if resume and self.dir:
            ckpt = self.last_checkpoint()
            if ckpt:
                start_iter = ckpt[0] + 1
                state = ckpt[1]
                if self._metrics_path().exists():
                    metrics = [
                        json.loads(l)
                        for l in self._metrics_path().read_text().splitlines()
                        if json.loads(l)["iteration"] <= ckpt[0]
                    ]
                    if metrics and metrics[-1].get("converged"):
                        return SuperstepResult(
                            state=state,
                            iterations=start_iter,
                            converged=True,
                            metrics=metrics,
                        )

        with self._pinned():
            state, i, converged = self._loop(
                state, step_fn, start_iter, max_iters, tol, metrics
            )
        return SuperstepResult(
            state=state, iterations=i + 1, converged=converged, metrics=metrics
        )

    def _loop(self, state, step_fn, start_iter, max_iters, tol, metrics):
        converged = False
        i = start_iter - 1
        cols = state.columns
        own_ckpt = None  # the engine's own live localCheckpoint, if any
        for i in range(start_iter, max_iters):
            t0 = time.monotonic()
            frame, delta = step_fn(state, i)
            obs = Observation()
            frame = frame.observe(obs, delta.alias("delta")).select(*cols)

            if self.dir is not None and (
                i % self.checkpoint_every == 0 or i == max_iters - 1
            ):
                new_state, lineage = self._commit(i, frame)
            else:
                # plan-truncation without durability (intra-checkpoint steps)
                new_state, lineage = frame.localCheckpoint(), None
            delta = float(obs.get["delta"] or 0.0)
            converged = delta <= tol
            if converged and self.dir is not None and lineage is None:
                # the final state is always durable: resume is then a no-op
                ckpt = new_state
                new_state, lineage = self._commit(i, ckpt)
                release_checkpoint(ckpt)
            # the new state is materialized (parquet or eager checkpoint) —
            # the PREVIOUS round's engine-made checkpoint blocks are dead
            # weight now; without this every superstep retains one state
            # table in executor storage for the life of the session
            if own_ckpt is not None:
                release_checkpoint(own_ckpt)
            own_ckpt = new_state if lineage is None else None

            m = {
                "run_id": self.run_id,
                "iteration": i,
                "delta": delta,
                "seconds": time.monotonic() - t0,
                "rows": sum(p["rows"] for p in lineage) if lineage else None,
                "partitions": lineage,
                "converged": converged,
            }
            metrics.append(m)
            if self.dir:
                self._metrics_path().parent.mkdir(parents=True, exist_ok=True)
                with open(self._metrics_path(), "a") as f:
                    f.write(json.dumps(m) + "\n")

            state = new_state
            if converged:
                break

        return state, i, converged
