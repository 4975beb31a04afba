"""Spans around the benchmark's calls into the engine, and the Spark and
plan facts attributed to them.

A span records a name, its start and end on the run's clock, and the span
that caused it. While a span is open its id is the Spark job group, so
every job the call launches is tagged with it; after the session stops,
the event log written under the benchmark's output directory is read back
and each job's stages and tasks are summed onto the span that launched
them. Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from harness import Clock

# Per-span engine counters taken from the event log.
ENGINE_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)
AUDIT_KEYS = ("shuffle_exchanges", "broadcast_exchanges")


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Opens spans, tags Spark jobs with the innermost open span, and
    keeps the spans for the run's trace file."""

    def __init__(self, spark, clock: Clock):
        self.sc = spark.sparkContext
        self.clock = clock
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self.untraced_s = 0.0  # time spent in untraced() blocks

    def _tag(self, span_id: str) -> None:
        self.sc.setJobGroup(span_id, span_id)

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(f"s{len(self.spans)}", name, parent.id if parent else None, self.clock())
        self.spans.append(s)
        self._open.append(s)
        self._tag(s.id)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._open.pop()
            if parent is not None:
                self._tag(parent.id)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def untraced(self):
        """Jobs run here (the benchmark's own measurements) are tagged so
        no span is charged for them, and their time is kept apart from
        the operation's."""
        self._tag("measure")
        t = self.clock()
        try:
            yield
        finally:
            self.untraced_s += self.clock() - t
            if self._open:
                self._tag(self._open[-1].id)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


def audit(df) -> dict:
    """Exchange counts of a DataFrame's physical plan."""
    from sparkbigdatatextanalysis_spark.plans.audit import audit_plan

    a = audit_plan(df)
    return {"shuffle_exchanges": a.shuffle_exchanges, "broadcast_exchanges": a.broadcast_exchanges}


def engine_by_group(event_log_dir: str) -> dict[str, dict]:
    """Job group -> summed engine counters, from the (finished) event log.

    ``write_s`` is the wall time of the group's SQL executions that write
    files (InsertIntoHadoopFsRelationCommand); Spark runs a write and the
    computation feeding it as one execution, so it includes that work."""
    files = [f for f in glob.glob(os.path.join(event_log_dir, "*")) if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no Spark event log under {event_log_dir}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(ENGINE_KEYS + ("write_s",), 0))
    exec_group: dict[int, str] = {}
    writes: dict[int, float] = {}
    stages_seen: dict[str, set] = defaultdict(set)
    with open(max(files, key=os.path.getmtime)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
                eid = ev["Properties"].get("spark.sql.execution.id")
                if eid is not None:
                    exec_group[int(eid)] = group
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                if "InsertIntoHadoopFsRelationCommand" in ev.get("physicalPlanDescription", ""):
                    writes[ev["executionId"]] = ev["time"]
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                start = writes.pop(ev["executionId"], None)
                group = exec_group.get(ev["executionId"])
                if start is not None and group is not None:
                    out[group]["write_s"] += (ev["time"] - start) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                o = out[group]
                stages_seen[group].add(ev["Stage ID"])
                o["tasks"] += 1
                o["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                o["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                o["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                r = m.get("Shuffle Read Metrics", {})
                o["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get(
                    "Local Bytes Read", 0
                )
                o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    for group, ids in stages_seen.items():
        out[group]["stages"] = len(ids)
    return dict(out)
