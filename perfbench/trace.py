"""Spans recorded around calls into the program's layers, and Spark's
own event log aggregated per span.

A span is (id, name, start, end, parent, workload). Spans live in
memory and are written out once, when the benchmark ends. Each span
sets its own Spark job group, so every job, stage and task in the
event log is attributed to the innermost span that was open when it
ran. Self time is a span's duration minus its child spans.

The event log must be uncompressed and non-rolling
(:func:`event_log_conf`): Spark 4 compresses it with zstd by default,
which the standard library cannot read.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "span-"


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class NullTracer:
    """Tracing off: spans cost one no-op context manager."""

    @contextmanager
    def span(self, name: str):
        yield


class Tracer:
    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "workload": self.workload,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def self_times(self) -> dict[int, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def descendants(self, sid: int) -> set[int]:
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s["id"])
        out, todo = set(), [sid]
        while todo:
            cur = todo.pop()
            out.add(cur)
            todo.extend(kids[cur])
        return out

    def write(self, path: str, spark_by_span: dict[int, "SparkAgg"]) -> None:
        selfs = self.self_times()
        rows = []
        for s in self.spans:
            agg = spark_by_span.get(s["id"])
            rows.append(
                s
                | {"self_s": selfs[s["id"]]}
                | ({"spark": agg.as_dict()} if agg else {})
            )
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


# --- event log -----------------------------------------------------------

_WRITTEN_FILES = "number of written files"


@dataclass
class SparkAgg:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    deserialize_ms: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    files_written: int = 0

    def add(self, other: "SparkAgg") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))

    def as_dict(self) -> dict[str, int]:
        return {k: getattr(self, k) for k in self.__dataclass_fields__}


@dataclass
class _LogState:
    stage_group: dict[int, str | None] = field(default_factory=dict)
    exec_group: dict[str, str | None] = field(default_factory=dict)
    files_accums: set[int] = field(default_factory=set)
    by_group: dict[str | None, SparkAgg] = field(
        default_factory=lambda: defaultdict(SparkAgg)
    )


def _plan_accums(node: dict, name: str, out: set[int]) -> None:
    for m in node.get("metrics", ()):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in node.get("children", ()):
        _plan_accums(child, name, out)


def parse_event_log(path: str) -> dict[str | None, SparkAgg]:
    """Aggregate an uncompressed Spark event log per job group."""
    st = _LogState()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                st.by_group[group].jobs += 1
                for sid in ev["Stage IDs"]:
                    st.stage_group.setdefault(sid, group)
                exec_id = props.get("spark.sql.execution.id")
                if exec_id is not None:
                    st.exec_group.setdefault(exec_id, group)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                st.by_group[st.stage_group.get(sid)].stages += 1
            elif kind == "SparkListenerTaskEnd":
                agg = st.by_group[st.stage_group.get(ev["Stage ID"])]
                agg.tasks += 1
                m = ev.get("Task Metrics") or {}
                agg.executor_run_ms += m.get("Executor Run Time", 0)
                agg.deserialize_ms += m.get("Executor Deserialize Time", 0)
                agg.gc_ms += m.get("JVM GC Time", 0)
                agg.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                sr = m.get("Shuffle Read Metrics") or {}
                agg.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                agg.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                agg.output_bytes += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                _plan_accums(ev.get("sparkPlanInfo") or {}, _WRITTEN_FILES, st.files_accums)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                group = st.exec_group.get(str(ev.get("executionId")))
                for acc_id, value in ev.get("accumUpdates", ()):
                    if acc_id in st.files_accums:
                        st.by_group[group].files_written += value
    return dict(st.by_group)


def find_event_log(log_dir: str) -> str:
    logs = [p for p in os.listdir(log_dir) if not p.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return os.path.join(log_dir, logs[0])


def by_span(groups: dict[str | None, SparkAgg]) -> dict[int, SparkAgg]:
    return {
        int(g[len(GROUP_PREFIX):]): agg
        for g, agg in groups.items()
        if g and g.startswith(GROUP_PREFIX)
    }
