"""SparkSession factory with the engine's standard configuration.

Local-mode testing uses ``local[N]``; the same configuration is what we'd
ship to a real cluster via ``spark-submit --py-files`` (AQE on, Arrow on,
shuffle partitions sized to parallelism).
"""

from __future__ import annotations

import os
import threading
import warnings
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "peregrine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the engine.

    Defaults: ``local[$SPARK_GRAFT_CPUS or *]``, AQE enabled (runtime
    coalescing + skew-join splitting — the Spark-native replacement for the
    reference's MPI work stealing), Arrow enabled for all pandas-UDF kernels,
    UTC timezone (DuckDB-oracle comparability).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    # under spark-submit the Python driver attaches to an existing JVM
    # gateway whose master (--master local-cluster[...]/yarn/k8s) is already
    # fixed — never override it with a local default
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not submitted:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None and not submitted:
        # (submitted jobs keep whatever --conf spark-submit carried)
        try:
            n = int(master.split("[")[1].rstrip("]*")) if master and "[" in master else 0
        except ValueError:
            n = 0
        shuffle_partitions = max(2 * n, 32) if n else 32

    builder = SparkSession.builder
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    builder = (
        builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_lock = threading.Lock()
_pins: dict[tuple[int, str], list] = {}  # (session, key) -> [holders, saved value]


@contextmanager
def pinned_conf(spark: SparkSession, key: str, value):
    """Set the session conf ``key`` to ``value`` for the block (no-op if
    ``value`` is None), safely across threads. A plain save/set/restore per
    block races: of two overlapping blocks, the later exit can restore the
    other block's value for good. Holders are counted per (session, key)
    under one lock; the first saves the value and the last one out
    restores it (in between, the last value set is what every holder
    sees — a session conf is global to the session).
    """
    if value is None:
        yield
        return
    slot = (id(spark), key)
    with _lock:
        pin = _pins.setdefault(slot, [0, spark.conf.get(key, None)])
        pin[0] += 1
        spark.conf.set(key, str(value))
    try:
        yield
    finally:
        with _lock:
            pin[0] -= 1
            if pin[0] == 0:
                del _pins[slot]
                if pin[1] is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, pin[1])


release_fallbacks = 0  # releases whose plan could not be inspected


def release_checkpoint(df) -> None:
    """Release the executor storage behind ``df``, whether it is plan-cached
    (``persist``) or eagerly ``localCheckpoint``-ed, also when ``df`` is a
    projection or filter over the checkpoint.

    ``DataFrame.unpersist()`` only uncaches PLAN-cached data. A
    localCheckpoint stores its blocks on the RDD inside the plan's
    ``LogicalRDD`` leaf, which the cache manager never sees — measured on
    Spark 4.1: after ``df.localCheckpoint(eager=True).unpersist()`` the RDD
    still sits in ``sc.getPersistentRDDs`` until the session dies. Every
    iterative operator here (kcore peel, superstep engine, contiguous_rank)
    checkpoints per round, so a silent no-op release accumulates one
    state-table of blocks PER ROUND for the life of the session — at 100 TB
    that is the difference between bounded and unbounded executor storage.

    The analyzed plan is walked through ``Project``/``Filter`` nodes to its
    leaf. If the py4j internals move, it warns and counts the miss in
    ``release_fallbacks``.
    """
    global release_fallbacks
    df.unpersist()
    try:
        plan = df._jdf.queryExecution().analyzed()
        while plan.getClass().getSimpleName() in ("Project", "Filter"):
            plan = plan.child()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception as exc:
        with _lock:
            release_fallbacks += 1
        warnings.warn(f"release_checkpoint: checkpoint blocks not released ({exc})",
                      RuntimeWarning, stacklevel=2)
