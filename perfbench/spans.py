"""Tracing for the benchmark's traced run, entirely from outside the package.

* Spans: ``Tracer.wrap`` replaces a module attribute with a wrapper that
  records (name, start, end, parent) around each call, so calls made inside
  the package (``contiguous_rank`` inside ``build_graph``, ``compile_match``
  inside ``count``) are timed without editing it. Spans stay in memory
  until the run ends.
* Spark work: each operation runs under its own ``setJobGroup``; Spark's
  own event log is parsed after the session stops into per-group job,
  stage and task totals.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

# (module, attribute, layer). The same function can be reachable under
# several modules that imported it by name; each binding is wrapped.
WRAPPED = [
    ("peregrine_spark.graph.build", "build_graph", "graph"),
    ("peregrine_spark.graph.build", "assign_degree_ids", "graph"),
    ("peregrine_spark.graph.build", "contiguous_rank", "graph"),
    ("peregrine_spark.graph.from_tables", "contiguous_rank", "graph"),
    ("peregrine_spark.graph.from_tables", "relabel_by_degree", "graph"),
    ("peregrine_spark.supersteps", "pagerank", "supersteps"),
    ("peregrine_spark.supersteps", "connected_components", "supersteps"),
    ("peregrine_spark.supersteps.engine.SuperstepEngine", "run", "supersteps"),
    ("peregrine_spark.operators.match", "count_motifs", "operators"),
    ("peregrine_spark.operators.match", "output", "operators"),
    ("peregrine_spark.operators.triangles", "triangle_count", "operators"),
    ("peregrine_spark.operators.triangles", "ktruss", "operators"),
    ("peregrine_spark.operators.match", "compile_match", "plans"),
    ("peregrine_spark.operators.match", "fast_count", "plans"),
    ("peregrine_spark.operators.match", "convert_counts", "plans"),
]
LAYERS = ["graph", "supersteps", "plans", "operators"]


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    returned_none: bool = False


def _resolve(path: str):
    """Module or class object for a dotted path."""
    try:
        return importlib.import_module(path)
    except ModuleNotFoundError:
        mod, _, cls = path.rpartition(".")
        return getattr(importlib.import_module(mod), cls)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._undo: list[tuple] = []

    @contextmanager
    def span(self, name: str, layer: str):
        idx = len(self.spans)
        sp = Span(name, layer, time.perf_counter(), 0.0, self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def wrap(self, owner_path: str, attr: str, layer: str) -> None:
        owner = _resolve(owner_path)
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(attr, layer) as sp:
                out = orig(*args, **kwargs)
                sp.returned_none = out is None
                return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        for owner, attr, layer in WRAPPED:
            self.wrap(owner, attr, layer)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- span arithmetic -------------------------------------------------------
    def self_time(self, i: int) -> float:
        """Duration minus the part covered by direct children (children of one
        span never overlap: the driver calls them one after another)."""
        sp = self.spans[i]
        kids = sum(c.end - c.start for c in self.spans if c.parent == i)
        return (sp.end - sp.start) - kids

    def within(self, op: str) -> list[int]:
        """Indices of the spans nested under the top-level span ``op``."""
        tops = [i for i, s in enumerate(self.spans) if s.parent is None and s.name == op]
        out = []
        for i, s in enumerate(self.spans):
            j = s.parent
            while j is not None and j not in tops:
                j = self.spans[j].parent
            if j is not None:
                out.append(i)
        return out


# -- Spark event log -----------------------------------------------------------


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_rollup(event_log_dir: Path, op_walls: dict[str, float]) -> dict[str, float]:
    """Per job group (one operation, or one operation in one pass): jobs,
    completed stages, executor run time, shuffle bytes written, disk spill,
    scheduler gap (operation wall minus the union of its stage intervals)
    and task skew (max / median task time in the operation's longest
    stage). Also the shuffle records each operation wrote, under
    ``<op>.shuffle_records``."""
    # one file per application, or a directory of rolled files (Spark 4
    # default) next to an empty appstatus marker
    files = [
        p for p in Path(event_log_dir).rglob("*")
        if p.is_file() and not p.name.startswith((".", "appstatus"))
    ]
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    stages: dict[int, tuple[float, float]] = {}
    tasks: dict[int, list[dict]] = {}
    for f in files:
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group in op_walls:
                        job_group[ev["Job ID"]] = group
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info and "Completion Time" in info:
                        stages[info["Stage ID"]] = (
                            info["Submission Time"] / 1000.0,
                            info["Completion Time"] / 1000.0,
                        )
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(ev["Stage ID"], []).append(ev)

    out: dict[str, float] = {}
    for op, wall in op_walls.items():
        sids = [s for s, g in stage_group.items() if g == op and s in stages]
        run = shuffle_b = shuffle_r = spill = 0
        for sid in sids:
            for t in tasks.get(sid, []):
                m = t.get("Task Metrics") or {}
                run += m.get("Executor Run Time", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                shuffle_b += sw.get("Shuffle Bytes Written", 0)
                shuffle_r += sw.get("Shuffle Records Written", 0)
                spill += m.get("Disk Bytes Spilled", 0)
        skew = 1.0
        if sids:
            longest = max(sids, key=lambda s: stages[s][1] - stages[s][0])
            durs = [
                t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]
                for t in tasks.get(longest, [])
            ]
            med = statistics.median(durs) if durs else 0
            skew = max(durs) / med if med > 0 else 1.0
        out[f"{op}.jobs"] = sum(1 for g in job_group.values() if g == op)
        out[f"{op}.stages"] = len(sids)
        out[f"{op}.executor_run_s"] = run / 1000.0
        out[f"{op}.shuffle_write_mb"] = shuffle_b / 1e6
        out[f"{op}.shuffle_records"] = shuffle_r
        out[f"{op}.spill_mb"] = spill / 1e6
        out[f"{op}.sched_gap_s"] = wall - _union_length([stages[s] for s in sids])
        out[f"{op}.task_skew"] = skew
    return out
