"""Spans around the benchmark's calls into the package, and the Spark event
log parser that attributes engine work to them.

A span is (id, name, start, end, parent, phase). While a span is open, its
id is the thread's Spark job group, so every job the call starts carries
the span id in the event log. Timed runs use a disabled tracer: spans cost
nothing and no job group is set. Parsing uses only the stdlib `json`.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float
    parent: str | None
    phase: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; `sc=None` disables it."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.phase = "setup"
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = f"cb{next(self._ids)}"
        stack.append(sid)
        self.sc.setLocalProperty(GROUP_KEY, sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, parent)
            with self._lock:
                self.spans.append(Span(sid, name, t0, t1, parent, self.phase))

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)]


# ------------------------------------------------------------- event log

ENGINE_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "udf_exec_s", "udf_rows", "records_written", "bytes_written",
)


def _is_python_node(name: str) -> bool:
    """Plan operators that hand rows to Python workers (pandas/Arrow UDFs,
    mapInPandas and friends, batch UDFs, PythonRDD)."""
    return "Python" in name or "InPandas" in name or "InArrow" in name


def _python_row_metric_ids(plan: dict, out: set[int]) -> None:
    if _is_python_node(plan.get("nodeName", "")):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _python_row_metric_ids(child, out)


def parse_event_log(lines) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stage attempts, tasks, executor run/CPU/GC time,
    shuffle read/write bytes, spill bytes, executor time of stages that run
    Python operators (`udf_exec_s`), rows out of Python operators
    (`udf_rows`), and output records/bytes. Jobs without a group are
    filed under "". `lines` is any iterable of event-log JSON lines."""
    out: dict[str, dict[str, float]] = {}
    stage_group: dict[tuple[int, int], str] = {}
    python_stage: set[tuple[int, int]] = set()
    python_rows: set[int] = set()
    task_ends = []

    def bucket(group: str | None) -> dict[str, float]:
        return out.setdefault(group or "", dict.fromkeys(ENGINE_KEYS, 0))

    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            bucket((e.get("Properties") or {}).get(GROUP_KEY))["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            group = (e.get("Properties") or {}).get(GROUP_KEY) or ""
            stage_group[key] = group
            bucket(group)["stages"] += 1
            for rdd in info.get("RDD Info", []):
                scope = rdd.get("Scope")
                name = json.loads(scope).get("name", "") if scope else ""
                if _is_python_node(name) or rdd.get("Name") == "PythonRDD":
                    python_stage.add(key)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _python_row_metric_ids(e.get("sparkPlanInfo") or {}, python_rows)
        elif kind == "SparkListenerTaskEnd":
            task_ends.append(e)
    # task ends are folded last: a plan update can name a Python operator's
    # row metric after the first tasks that feed it have finished
    for e in task_ends:
        key = (e["Stage ID"], e["Stage Attempt ID"])
        b = bucket(stage_group.get(key, ""))
        m = e.get("Task Metrics") or {}
        b["tasks"] += 1
        run_s = m.get("Executor Run Time", 0) / 1e3
        b["executor_run_s"] += run_s
        b["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sr = m.get("Shuffle Read Metrics") or {}
        b["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        om = m.get("Output Metrics") or {}
        b["records_written"] += om.get("Records Written", 0)
        b["bytes_written"] += om.get("Bytes Written", 0)
        if key in python_stage:
            b["udf_exec_s"] += run_s
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("ID") in python_rows and acc.get("Update") is not None:
                b["udf_rows"] += int(acc["Update"])
    return out


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    with open(path) as f:
        return parse_event_log(f)


def engine_totals(per_group: dict[str, dict[str, float]], groups) -> dict[str, float]:
    """Sum the engine counters of the given job groups."""
    tot = dict.fromkeys(ENGINE_KEYS, 0.0)
    for g in groups:
        for k, v in per_group.get(g, {}).items():
            tot[k] += v
    return tot
