"""Spans around calls into the engine's layers, and Spark counters per
job group read back from the event log.

A span is one public call plus the materialisation of the DataFrame (or
Graph) it returns, so lazily built plans are charged to the layer that
built them. The materialised rows are handed on as a checkpoint, so a
caller's plan starts from them instead of running its children's plans
again. Spans opened while another is open are its children; a span's
self time is its duration minus its children's. Each span runs its jobs
under its own job group, which is how the event log's task metrics are
attributed back to it. A span carries its name, start, end, parent, and
the operation (job group) it ran in; spans are kept in memory and
written as JSON lines when the run ends.
"""

from __future__ import annotations

import dataclasses
import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    rows: int | None = None
    children_s: float = 0.0

    @property
    def group(self) -> str:
        return f"span-{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``patch`` wraps engine functions so every call
    into them opens one."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []
        self.base_group = ""  # the job group of the operation in progress
        self.enabled = False
        # spans whose results are run into the noop sink, not handed on:
        # source reads, whose DataFrames the engine inspects (input
        # files, partition counts) before planning on them
        self.noop_only: set[str] = set()
        self._held: set[int] = set()

    # -- spans -------------------------------------------------------------

    def _group(self) -> str:
        return self._stack[-1].group if self._stack else self.base_group

    def open(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, self.base_group,
                    parent.id if parent else None, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(span.group, name)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self._stack[-1].children_s += span.duration
        self.sc.setJobGroup(self._group(), "")

    def call(self, name: str, fn, *args, **kwargs):
        span = self.open(name)
        try:
            result = fn(*args, **kwargs)
            result, span.rows = self.materialise(result, hand_on=name not in self.noop_only)
            return result
        finally:
            self.close(span)

    def materialise(self, result, hand_on: bool):
        """Run the plan(s) ``result`` stands for; return the result to
        hand on and its row count.

        With ``hand_on`` each DataFrame is checkpointed and the
        checkpoint replaces it, so the caller's plan starts from the
        materialised rows and a parent span is not charged for its
        children's work again. Otherwise the plan runs into the noop
        sink and the row count is an observed metric."""
        from pyspark.sql import DataFrame, Observation
        from pyspark.sql import functions as F

        if isinstance(result, DataFrame):
            frames = [result]
        elif dataclasses.is_dataclass(result) and isinstance(
            getattr(result, "edges", None), DataFrame
        ):
            frames = [result.vertices, result.edges]
        else:
            return result, None
        rows, out = 0, []
        for df in frames:
            if hand_on:
                before = self._persisted()
                df = df.localCheckpoint(eager=True)
                self._held |= self._persisted() - before
                rows += df.count()
            else:
                obs = Observation()
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                    "noop").mode("overwrite").save()
                rows += obs.get["n"]
            out.append(df)
        if isinstance(result, DataFrame):
            return out[0], rows
        return dataclasses.replace(result, vertices=out[0], edges=out[1]), rows

    def _persisted(self) -> set[int]:
        return {int(k) for k in self.sc._jsc.getPersistentRDDs().keySet().toArray()}

    def release(self) -> None:
        """Drop the checkpoints handed on during the last operation."""
        for rdd_id, rdd in self.sc._jsc.getPersistentRDDs().items():
            if int(rdd_id) in self._held:
                rdd.unpersist(False)
        self._held.clear()

    # -- patching ----------------------------------------------------------

    def patch(self, targets: dict[str, tuple[object, str]]) -> None:
        """Wrap each ``(owner, attribute)`` in ``targets`` (metric name
        -> owner) so calls open a span. Module-level functions are also
        replaced wherever an engine module imported them by name."""
        modules = [m for n, m in sys.modules.items()
                   if n.startswith("tvbigdataproject_spark") and m is not None]
        for name, (owner, attr) in targets.items():
            original = getattr(owner, attr)
            wrapper = self._wrapper(name, original)
            self._set(owner, attr, wrapper)
            if isinstance(owner, type):
                continue
            for mod in modules:
                for key, val in list(vars(mod).items()):
                    if val is original and mod is not owner:
                        self._set(mod, key, wrapper)

    def _set(self, owner, attr, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def unpatch(self) -> None:
        for owner, attr, value in reversed(self._undo):
            setattr(owner, attr, value)
        self._undo.clear()

    def _wrapper(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            return tracer.call(name, fn, *args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# --- event log ---------------------------------------------------------------


@dataclass
class GroupCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    scheduler_delay_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    join_rows: int = 0  # rows out of join operators (SQL metric)
    job_intervals: list = field(default_factory=list)

    def add(self, other: "GroupCounters") -> None:
        for k, v in vars(other).items():
            if k == "job_intervals":
                self.job_intervals.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


def _event_files(log_dir: str) -> list[str]:
    out = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            out += sorted(glob.glob(os.path.join(path, "events_*")))
        else:
            out.append(path)
    return out


def read_event_log(log_dir: str) -> dict[str, GroupCounters]:
    """Task and job counters per job group from an uncompressed Spark
    event log."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    exec_group: dict[int, str] = {}
    join_accs: dict[int, set[int]] = defaultdict(set)  # execution -> join row metrics
    acc_total: dict[int, int] = defaultdict(int)
    out: dict[str, GroupCounters] = defaultdict(GroupCounters)
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    g = props.get("spark.jobGroup.id", "")
                    job_group[e["Job ID"]] = g
                    job_start[e["Job ID"]] = e["Submission Time"] / 1000.0
                    out[g].jobs += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group[sid] = g
                    if "spark.sql.execution.id" in props:
                        exec_group[int(props["spark.sql.execution.id"])] = g
                elif kind == "SparkListenerJobEnd":
                    g = job_group.get(e["Job ID"], "")
                    out[g].job_intervals.append(
                        (job_start.get(e["Job ID"], 0.0), e["Completion Time"] / 1000.0)
                    )
                elif kind == "SparkListenerStageCompleted":
                    out[stage_group.get(e["Stage Info"]["Stage ID"], "")].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    c = out[stage_group.get(e["Stage ID"], "")]
                    _add_task(c, e, acc_total)
                elif kind.endswith(("SparkListenerSQLExecutionStart",
                                    "SparkListenerSQLAdaptiveExecutionUpdate")):
                    # every plan version: a join that ran reports its rows
                    # under the metric ids of the version it ran in
                    join_accs[e["executionId"]] |= _join_row_metrics(e["sparkPlanInfo"])
    for ex, accs in join_accs.items():
        if ex in exec_group:
            out[exec_group[ex]].join_rows += sum(acc_total.get(a, 0) for a in accs)
    return dict(out)


def _join_row_metrics(node: dict) -> set[int]:
    """Accumulator ids of the output-row metrics of every join node in
    a SparkPlanInfo tree."""
    ids = set()
    if "Join" in node["nodeName"] or node["nodeName"] == "CartesianProduct":
        ids |= {m["accumulatorId"] for m in node["metrics"]
                if m["name"] == "number of output rows"}
    for child in node["children"]:
        ids |= _join_row_metrics(child)
    return ids


def _add_task(c: GroupCounters, e: dict, acc_total: dict[int, int]) -> None:
    info = e["Task Info"]
    m = e.get("Task Metrics") or {}
    c.tasks += 1
    if e["Task End Reason"].get("Reason") != "Success":
        c.failed_tasks += 1
    else:
        for acc in info.get("Accumulables", []):
            if acc.get("Name") == "number of output rows":
                acc_total[acc["ID"]] += int(acc["Update"])
    busy = (
        m.get("Executor Run Time", 0)
        + m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
    )
    span = info["Finish Time"] - info["Launch Time"]
    if info.get("Getting Result Time"):
        span -= info["Finish Time"] - info["Getting Result Time"]
    c.scheduler_delay_s += max(0, span - busy) / 1000.0
    c.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    c.gc_s += m.get("JVM GC Time", 0) / 1000.0
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    c.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    c.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    c.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
