"""Spans around the ER pipeline's layer calls, and the Spark event-log fold.

Everything here lives outside the program: ``PipelineTracer`` swaps the
layer functions that ``plans.run`` calls through its module namespace
(and three ``MetricsTable`` methods) for wrappers that open a span and
tag the Spark jobs that follow with a job group. The original functions
are put back when the tracer's context ends.

Attribution rule. DataFrames are lazy, so a layer function returns
before its Spark jobs run. A *lazy* step (``features``, ``block_keys``,
``truncate_oversized``, ``salted_repartition``, ``candidate_pairs``,
``score_pairs``, ``connected_components``, ``partition_lineage``) owns
the time from its call to the next wrapped call, and every Spark job
started in that interval carries its group ``<prefix>:<stage>:<step>``.
An *eager* step (``MetricsTable.is_committed/append/commit``) owns only
its own call; jobs after it fall into ``<prefix>:<stage>:-`` until the
next wrapped call. The stage of a step is the argument of the last
``is_committed`` call, which ``plans.run`` makes at the top of each
stage.

Spans form a tree: run → stage → step. A span's self time is its
duration minus the part of its interval that its children cover.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

LAZY_STEPS = (
    "features",
    "block_keys",
    "truncate_oversized",
    "salted_repartition",
    "candidate_pairs",
    "score_pairs",
    "connected_components",
    "partition_lineage",
)
EAGER_STEPS = ("is_committed", "append", "commit")
LINEAGE_STEPS = ("partition_lineage",) + EAGER_STEPS
UNATTRIBUTED = "-"


@dataclass
class Span:
    name: str
    start: float
    end: float | None = None
    parent: int | None = None

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


@dataclass
class SpanTree:
    """Spans kept in memory, in the order they were opened."""

    spans: list[Span] = field(default_factory=list)

    def open(self, name: str, start: float, parent: int | None = None) -> int:
        self.spans.append(Span(name, start, None, parent))
        return len(self.spans) - 1

    def close(self, idx: int, end: float) -> None:
        self.spans[idx].end = end

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Duration minus the union of the children's intervals, each
        clipped to this span."""
        s = self.spans[idx]
        lo, hi = s.start, s.start + s.duration
        ivs = sorted(
            (max(lo, c.start), min(hi, c.start + c.duration))
            for c in (self.spans[i] for i in self.children(idx))
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (hi - lo) - covered

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
            for s in self.spans
        ]


class PipelineTracer:
    """Records run → stage → step spans for ``run_pipeline`` calls made
    inside ``traced_run`` while ``installed`` is active."""

    def __init__(self, spark, clock=time.monotonic):
        self.sc = spark.sparkContext
        self.clock = clock
        self.tree = SpanTree()
        self._prefix = ""
        self._run: int | None = None
        self._stage: int | None = None
        self._stage_name = UNATTRIBUTED
        self._lazy: int | None = None

    # -- span bookkeeping ----------------------------------------------------
    def _group(self, step: str) -> None:
        group = f"{self._prefix}:{self._stage_name}:{step}"
        self.sc.setJobGroup(group, group)

    def _end_lazy(self, t: float) -> None:
        if self._lazy is not None:
            self.tree.close(self._lazy, t)
            self._lazy = None

    def _enter_stage(self, stage: str, t: float) -> None:
        if self._stage is not None:
            self.tree.close(self._stage, t)
        self._stage = self.tree.open(stage, t, self._run)
        self._stage_name = stage

    @contextmanager
    def traced_run(self, prefix: str):
        """One ``run_pipeline`` call; yields the run span's index."""
        self._prefix = prefix
        self._stage, self._stage_name, self._lazy = None, UNATTRIBUTED, None
        self._run = self.tree.open(prefix, self.clock())
        self._group(UNATTRIBUTED)
        try:
            yield self._run
        finally:
            t = self.clock()
            self._end_lazy(t)
            if self._stage is not None:
                self.tree.close(self._stage, t)
            self.tree.close(self._run, t)
            self._run = self._stage = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    # -- wrappers ------------------------------------------------------------
    def _wrap_lazy(self, step: str, fn):
        def wrapper(*args, **kwargs):
            if self._run is None:
                return fn(*args, **kwargs)
            t = self.clock()
            self._end_lazy(t)
            self._lazy = self.tree.open(f"{self._stage_name}.{step}", t, self._stage)
            self._group(step)
            return fn(*args, **kwargs)

        return wrapper

    def _wrap_eager(self, step: str, fn):
        def wrapper(mt, *args, **kwargs):
            if self._run is None:
                return fn(mt, *args, **kwargs)
            t = self.clock()
            self._end_lazy(t)
            if step == "is_committed":
                self._enter_stage(args[0] if args else kwargs["stage"], t)
            idx = self.tree.open(f"{self._stage_name}.{step}", t, self._stage)
            self._group(step)
            try:
                return fn(mt, *args, **kwargs)
            finally:
                self.tree.close(idx, self.clock())
                self._group(UNATTRIBUTED)

        return wrapper

    @contextmanager
    def installed(self):
        from datamatcher_spark.plans import run as run_mod
        from datamatcher_spark.plans.lineage import MetricsTable

        saved_mod = {n: getattr(run_mod, n) for n in LAZY_STEPS}
        saved_cls = {n: getattr(MetricsTable, n) for n in EAGER_STEPS}
        try:
            for n, fn in saved_mod.items():
                setattr(run_mod, n, self._wrap_lazy(n, fn))
            for n, fn in saved_cls.items():
                setattr(MetricsTable, n, self._wrap_eager(n, fn))
            yield self
        finally:
            for n, fn in saved_mod.items():
                setattr(run_mod, n, fn)
            for n, fn in saved_cls.items():
                setattr(MetricsTable, n, fn)

    # -- read-out ------------------------------------------------------------
    def step_walls(self, run_idx: int) -> dict[str, float]:
        """``<stage>.<step>`` → summed wall (s) over one run's step spans."""
        out: dict[str, float] = {}
        for st in self.tree.children(run_idx):
            for i in self.tree.children(st):
                s = self.tree.spans[i]
                out[s.name] = out.get(s.name, 0.0) + s.duration
        return out


# -- event log ---------------------------------------------------------------
@dataclass
class GroupMetrics:
    """Spark task metrics summed over every task of one job group."""

    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    python_b: int = 0  # bytes sent to + returned from Python workers
    # Spark stage id → executor run times (s) of its tasks
    stage_tasks: dict[int, list[float]] = field(default_factory=dict)

    def merge(self, other: "GroupMetrics") -> None:
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.cpu_s += other.cpu_s
        self.gc_s += other.gc_s
        self.shuffle_read_b += other.shuffle_read_b
        self.shuffle_write_b += other.shuffle_write_b
        self.spill_b += other.spill_b
        self.python_b += other.python_b
        for sid, ts in other.stage_tasks.items():
            self.stage_tasks.setdefault(sid, []).extend(ts)

    @property
    def task_skew(self) -> float:
        """max / median task run time of the Spark stage with the most
        task time (DS2's skew statistic, on the stage that matters)."""
        if not self.stage_tasks:
            return 0.0
        ts = max(self.stage_tasks.values(), key=sum)
        med = statistics.median(ts)
        return max(ts) / med if med > 0 else 1.0


PYTHON_ACCUMULABLES = ("data sent to Python workers", "data returned from Python workers")


def event_log_files(log_dir: str | Path) -> list[Path]:
    """The files of the one finished application log in ``log_dir``:
    a rolling ``eventlog_v2_*`` directory's ``events_<n>_*`` parts in
    order, or a single (non-``.inprogress``) log file."""
    entries = [p for p in Path(log_dir).iterdir() if not p.name.endswith(".inprogress")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {entries}")
    (log,) = entries
    if log.is_file():
        return [log]
    parts = [p for p in log.iterdir() if p.name.startswith("events_")]
    return sorted(parts, key=lambda p: int(p.name.split("_")[1]))


def fold_event_log(files: list[Path]) -> dict[str, GroupMetrics]:
    """Fold an uncompressed Spark event log into per-job-group metrics.

    A task belongs to the group its stage was submitted under
    (``SparkListenerStageSubmitted`` properties); tasks of stages
    submitted with no group land under ``""``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupMetrics] = {}
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = props.get("spark.jobGroup.id") or ""
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            groups.setdefault(g, GroupMetrics()).jobs += 1
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics")
            if not tm:
                continue
            sid = ev["Stage ID"]
            gm = groups.setdefault(stage_group.get(sid, ""), GroupMetrics())
            rd = tm.get("Shuffle Read Metrics") or {}
            wr = tm.get("Shuffle Write Metrics") or {}
            run_s = tm.get("Executor Run Time", 0) / 1000.0
            gm.tasks += 1
            gm.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            gm.gc_s += tm.get("JVM GC Time", 0) / 1000.0
            gm.shuffle_read_b += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            gm.shuffle_write_b += wr.get("Shuffle Bytes Written", 0)
            gm.spill_b += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            gm.stage_tasks.setdefault(sid, []).append(run_s)
            for acc in ev["Task Info"].get("Accumulables", ()):
                if acc.get("Name") in PYTHON_ACCUMULABLES:
                    gm.python_b += int(acc.get("Update", 0))
    return groups


def _lines(files: list[Path]):
    for f in files:
        with open(f, encoding="utf-8") as fh:
            yield from fh


def select_groups(
    groups: dict[str, GroupMetrics], prefix: str, stage: str | None = None,
    steps: tuple[str, ...] | None = None,
) -> GroupMetrics:
    """Merge the groups ``<prefix>:<stage>:<step>`` that match."""
    out = GroupMetrics()
    for g, gm in groups.items():
        parts = g.split(":")
        if len(parts) != 3 or parts[0] != prefix:
            continue
        if stage is not None and parts[1] != stage:
            continue
        if steps is not None and parts[2] not in steps:
            continue
        out.merge(gm)
    return out
