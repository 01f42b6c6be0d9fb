"""peregrine_spark benchmark: one workload, one run.

    python3 perfbench/run.py --workload repo_headline --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process runs the workload's
operations one after another (a closed loop with one client) on a
``local[4]`` session: set-up (session start, a warm-up that runs the
workload's operations once over the tiny input, input generation, the
workload's set-up operations), then passes over its timed operations while
less than ``--seconds`` of operation time is used (at least one). Each
operation's wall and CPU seconds and each pass's Spark jobs are recorded.
Every pass is checked against independent oracles outside its timed region.

Standard output holds the host facts, one line per metric with its unit,
and as its last line a JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics (spans, Spark event log) with ``--trace 1``.
See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from pathlib import Path

import oracles
import spans
import workloads as wl

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = 4
DRIVER_MEMORY = "2g"
SETUP_REPS = 3
SPARK_FIELDS = ("jobs", "stages", "executor_run_s", "shuffle_write_mb", "spill_mb",
                "sched_gap_s", "task_skew")


def parse_args(argv):
    ap = argparse.ArgumentParser(description="peregrine_spark benchmark, one run")
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: Path) -> None:
    """Keep every file Spark, the JVMs and Python write under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # The launcher JVM and the driver JVM alike: no hsperfdata under /tmp,
    # and JVM background work that does not depend on the engine kept out
    # of the CPU seconds (README "Measurement"): C1 only (with C2 the CPU
    # seconds of the same pass fell by half over five passes of one
    # session, recompiling on threads whose progress follows the host's
    # load), a code cache large enough that no sweeps run, and the serial
    # collector (G1 started concurrent marking cycles in some passes and
    # not in others).
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=1g "
        f"-XX:+UseSerialGC -Djava.io.tmpdir={tmp}"
    )


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of process
    ``root`` and every process under it."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        total += t if p == root else 0
    return total / os.sysconf("SC_CLK_TCK")


def engine_present() -> bool:
    """Whether peregrine_spark imports from this checkout."""
    sys.path.insert(0, str(ROOT))
    try:
        import peregrine_spark
    except ImportError:
        return False
    return Path(peregrine_spark.__file__).resolve().parent.parent == ROOT


class Session:
    """The Spark session of one run and the JVM behind it."""

    def __init__(self, work: Path, event_log: bool):
        from peregrine_spark.session import get_spark

        conf = {
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        self.event_dir = work / "eventlog"
        if event_log:
            self.event_dir.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": str(self.event_dir),
            })
        t0 = time.perf_counter()
        # shuffle partitions as bench.py sizes them: 2 per core
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{CORES}]",
            shuffle_partitions=2 * CORES, extra_conf=conf,
        )
        self.start_s = time.perf_counter() - t0
        self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        # checkpoint-release WARNs would bury the output
        self.spark.sparkContext.setLogLevel("ERROR")

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and by the driver JVM
        with every process under it (in local mode: the executors and the
        Python workers). Time the host gives to its other tenants is not
        in them, as it is in wall time."""
        return time.process_time() + tree_cpu_s(self.jvm_pid)

    def cached_mb(self) -> float:
        """Memory and disk held by persisted and checkpointed tables: what
        the session still caches once a run is done."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def gc_s(self) -> float:
        """Collection time of the driver JVM so far (local mode: the
        executors' too)."""
        beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def host_facts(self) -> str:
        sc = self.spark.sparkContext
        with open("/proc/meminfo") as f:
            mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        java = sc._jvm.java.lang.System.getProperty("java.version")
        return (
            f"host nproc={os.cpu_count()} mem_total_mb={mem_kb // 1024} "
            f"spark={self.spark.version} java={java} python={platform.python_version()} "
            f"master={sc.master} driver_memory={DRIVER_MEMORY}"
        )

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit (it exits when the pipe
        to its stdin closes)."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise


def checked_ops(session, w, state, names, **kwargs):
    """The named operations once each, then their oracle check (untimed).
    Returns (results, errors, facts)."""
    results = wl.run_ops(w, state, names, session.cpu_s, **kwargs)
    t0 = time.perf_counter()
    errors, facts = oracles.check_ops(w, state["graph"], results, wl.PAGERANK_STEPS, wl.KTRUSS_K)
    print(f"perfbench: {','.join(names)} {sum(r.seconds for r in results.values()):.2f} s, "
          f"cpu {sum(r.cpu_s for r in results.values()):.2f} s, "
          f"checks {time.perf_counter() - t0:.2f} s", file=sys.stderr)
    for op, err in errors.items():
        if err is not None:
            print(f"perfbench: {op} failed its oracle: {err}", file=sys.stderr)
    return results, errors, facts


def pass_group(op: str, i: int) -> str:
    return f"{op}@{i}"


def measure(seconds: float, session, w, state) -> list[tuple]:
    """Passes over the timed operations while less than ``seconds`` of
    operation time is used (at least one). Each operation runs under its
    own job group per pass (``pass_group``)."""
    sc = session.spark.sparkContext
    passes, used = [], 0.0
    while not passes or used < seconds:
        @contextmanager
        def on_op(name, i=len(passes)):
            sc.setJobGroup(pass_group(name, i), f"perfbench {name}")
            try:
                yield
            finally:
                sc.setJobGroup("", "")

        passes.append(checked_ops(session, w, state, w.ops, on_op=on_op))
        used += sum(r.seconds for r in passes[-1][0].values())
    return passes


def steady_steps(res) -> list[float]:
    """Superstep seconds without the first step (it materializes the
    adjacency) and the last (it carries the convergence check)."""
    secs = [row["seconds"] for row in res.metrics]
    return secs[1:-1] or secs


def end_to_end(w, setup_s, cached_mb, passes, event_dir: Path) -> tuple[dict[str, float], list[str]]:
    """The end-to-end metrics: the Spark jobs of one pass (median over the
    passes) from the event log, plus one line per operation with its wall
    and CPU seconds (medians over the passes)."""
    def med(key):
        return statistics.median(key(results) for results, _, _ in passes)

    wall, cpu, lines = {}, {}, [f"passes {len(passes)}"]
    for op in w.ops:
        wall[op] = med(lambda r: r[op].seconds)
        cpu[op] = med(lambda r: r[op].cpu_s)
        lines.append(f"op {op}_s {wall[op]:.6g} s cpu_s {cpu[op]:.6g}")
    lines.append(f"op total_s {sum(wall.values()):.6g} s cpu_s {sum(cpu.values()):.6g}")

    roll = spans.spark_rollup(event_dir, {
        pass_group(op, i): r[op].seconds for i, (r, _, _) in enumerate(passes) for op in w.ops
    })

    jobs = [sum(roll[f"{pass_group(op, i)}.jobs"] for op in w.ops) for i in range(len(passes))]
    lines.append(f"jobs per pass {jobs}")
    return {
        "setup_s": setup_s,
        "spark_jobs": statistics.median(jobs),
        "cached_mb": cached_mb,
    }, lines


def traced(session, w, state) -> dict:
    """One traced pass: spans around the package's functions and one Spark
    job group per operation."""
    sc = session.spark.sparkContext
    tracer = spans.Tracer()
    gc_s = 0.0

    @contextmanager
    def on_op(name):
        nonlocal gc_s
        sc.setJobGroup(name, f"perfbench {name}")
        gc0 = session.gc_s()
        try:
            with tracer.span(name, "bench"):
                yield
        finally:
            gc_s += session.gc_s() - gc0
            sc.setJobGroup("", "")

    tracer.install()
    try:
        results, errors, facts = checked_ops(session, w, state, w.ops, on_op=on_op)
    finally:
        tracer.uninstall()
    ops = [s for s in tracer.spans if s.layer == "bench"]
    return {"tracer": tracer, "results": results, "errors": errors, "facts": facts,
            "pass_s": ops[-1].end - ops[0].start, "gc_s": gc_s}


def per_layer(t: dict, setup_facts: dict, session_s: float, gen_s: float, rows: int,
              event_dir: Path) -> dict[str, float]:
    """Layers and operations the workload leaves idle report 0."""
    tracer, results = t["tracer"], t["results"]
    facts = {"vertices": 0, "raw_pairs": 0, "edge_induced4": 0, "output_rows": 0,
             "output_bytes": 0, **setup_facts, **t["facts"]}
    m: dict[str, float] = {
        "session.start_s": session_s,
        "session.gc_s": t["gc_s"],
        "tables.gen_s": gen_s,
        "tables.rows": rows,
    }
    for layer in spans.LAYERS:
        idx = [i for i, s in enumerate(tracer.spans) if s.layer == layer]
        m[f"{layer}.self_s"] = sum(tracer.self_time(i) for i in idx)
        m[f"{layer}.calls"] = len(idx)

    rank = [s for s in tracer.spans if s.name == "contiguous_rank"]
    m["graph.contiguous_rank_s"] = sum(s.end - s.start for s in rank)
    m["graph.contiguous_rank_calls"] = len(rank)
    m["graph.edges"] = facts["edges"]
    m["graph.vertices"] = facts["vertices"]
    m["graph.dedup_ratio"] = facts["edges"] / facts["raw_pairs"]

    for op in wl.SUPERSTEP_OPS:
        if op not in results:
            for k in ("step_s", "first_step_s", "iterations", "edges_per_s"):
                m[f"supersteps.{op}.{k}"] = 0
            continue
        res = results[op][1]
        step = statistics.median(steady_steps(res))
        m[f"supersteps.{op}.step_s"] = step
        m[f"supersteps.{op}.first_step_s"] = res.metrics[0]["seconds"]
        m[f"supersteps.{op}.iterations"] = res.iterations
        m[f"supersteps.{op}.edges_per_s"] = 2 * facts["edges"] / step

    fast = [tracer.spans[i] for i in tracer.within("motifs4")
            if tracer.spans[i].name == "fast_count"]
    m["plans.compile_s"] = sum(s.end - s.start for s in tracer.spans if s.name == "compile_match")
    m["plans.fast_path_share"] = sum(not s.returned_none for s in fast) / len(fast) if fast else 0

    roll = spans.spark_rollup(event_dir, {op: r.seconds for op, r in results.items()})
    m["plans.rows_per_match"] = (
        roll["motifs4.shuffle_records"] / facts["edge_induced4"] if "motifs4" in results else 0
    )
    m["operators.output.rows"] = facts["output_rows"]
    m["operators.output.bytes"] = facts["output_bytes"]
    for op in wl.OPS:
        r = results.get(op)
        m[f"op.{op}_s"] = r.seconds if r else 0
        m[f"op.{op}_cpu_s"] = r.cpu_s if r else 0
        for k in SPARK_FIELDS:
            m[f"spark.{op}.{k}"] = roll[f"{op}.{k}"] if r else 0
    # tracing overhead = this minus the summed op wall times of untraced runs
    m["trace.pass_s"] = t["pass_s"]
    return m


def warm_up(make, spark, seed: int, work: Path) -> None:
    """The workload's operations once over the tiny input. The first run
    of an operation in a session loads classes, generates and compiles its
    plans' code and JIT-compiles Spark's SQL machinery, which makes it
    1.3-3x slower than later runs; that cost belongs to set-up, not to the
    measured passes. On the tiny input that cost is mostly driver time, so
    the operations after ingest run side by side from one thread each, and
    ``count_motifs`` counts its six patterns side by side too (task slots
    stay at the session's cores). Supersteps after the second run the same
    plans, so the vertex programs stop there."""
    w, state = make(spark, seed, wl.TINY, work), {}
    w.pagerank_steps = w.cc_max_iters = 2
    w.motif_concurrency = 6
    w.generate()
    wl.OPS["ingest"](w, state)
    rest = [wl.OPS[op] for op in w.ops if op != "ingest"]
    with ThreadPoolExecutor(len(rest)) as pool:
        for job in [pool.submit(fn, w, state) for fn in rest]:
            job.result()
    wl.release_state(state)
    w.release_input()
    # the measured pass should not start in the middle of collecting the
    # warm-up's garbage
    spark.sparkContext._jvm.System.gc()


def run(args, work: Path, sizes: wl.Sizes) -> tuple[list[str], dict]:
    session = Session(work, event_log=True)
    try:
        lines = [session.host_facts()]
        make = wl.WORKLOADS[args.workload]
        t0 = time.perf_counter()
        warm_up(make, session.spark, args.seed, work)
        warm_s = time.perf_counter() - t0
        w = make(session.spark, args.seed, sizes, work)
        # input generation and the set-up operations, several times; the
        # last input stays (each generation replaces the previous one)
        gens, setup_ops = [], []
        for _ in range(SETUP_REPS):
            state: dict = {}
            t0 = time.perf_counter()
            rows = w.generate()
            gens.append(time.perf_counter() - t0)
            setup_results = wl.run_ops(w, state, w.setup_ops, session.cpu_s)
            setup_ops.append(sum(r.seconds for r in setup_results.values()))
            if len(gens) < SETUP_REPS:
                wl.release_state(state)
        gen_s, ops_s = statistics.median(gens), statistics.median(setup_ops)
        setup_s = session.start_s + warm_s + statistics.median(
            g + o for g, o in zip(gens, setup_ops))
        print(f"perfbench: session {session.start_s:.2f} s, warm-up {warm_s:.2f} s, "
              f"generate {gen_s:.2f} s, set-up operations {ops_s:.2f} s "
              f"(medians of {SETUP_REPS})", file=sys.stderr)
        setup_errors, setup_facts = oracles.check_ops(
            w, state["graph"], setup_results, wl.PAGERANK_STEPS, wl.KTRUSS_K
        ) if w.setup_ops else ({}, {})

        if args.trace:
            t = traced(session, w, state)
            errors = [setup_errors, t["errors"]]
        else:
            passes = measure(args.seconds, session, w, state)
            errors = [setup_errors] + [e for _, e, _ in passes]
            cached_mb = session.cached_mb()
    finally:
        session.stop()
    # the event log is complete once the session stopped
    if args.trace:
        metrics = per_layer(t, setup_facts, session.start_s, gen_s, rows, session.event_dir)
    else:
        metrics, op_lines = end_to_end(w, setup_s, cached_mb, passes, session.event_dir)
        lines += op_lines

    attempted = sum(len(e) for e in errors)
    failed = sum(err is not None for e in errors for err in e.values())
    # units as BENCHMARK.json declares them; a metric it lacks is an error
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": {}}
    for name, value in metrics.items():
        out["metrics"][name] = {"value": value, "unit": units[name]}
        lines.append(f"metric {name} {value:.6g} {units[name]}")
    return lines, out


def bench(args, sizes: wl.Sizes) -> tuple[list[str], dict] | None:
    """One run in its own work directory, removed afterwards. None when
    the engine is not next to the benchmark."""
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    isolate(work)
    try:
        if not engine_present():
            print(f"perfbench: peregrine_spark not found under {ROOT}", file=sys.stderr)
            return None
        return run(args, work, sizes)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass


def main(argv=None) -> int:
    result = bench(parse_args(argv), wl.FULL)
    if result is None:
        return 2
    lines, out = result
    print("\n".join(lines))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
