"""Measurement at the boundaries of the benchmark's calls into the engine.

Three sources, all read from outside the engine:

- ``/proc``: CPU seconds and peak RSS of the driver Python process, the
  Spark JVM and the JVM's Python workers.
- Spark's status stores: jobs, stages, task metrics and the SQL scan/write
  metrics of the work each span started.
- Spans: one per call the benchmark makes into an engine module, kept in
  memory and written out at the end of the run.

A span owns the Spark jobs that carry its id as their job group. The group
is set on entry in the calling thread and restored on exit, so jobs go to
the innermost span of the thread that started them. Jobs that carry no
span's group go to the operation's root span.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import re
import threading
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- /proc -------------------------------------------------------------------


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime in seconds) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), ticks / CLK_TCK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcMeter:
    """CPU of the driver Python process, the JVM and the JVM's descendants
    (the Python workers). The JVM's own figure includes the children it has
    reaped, so a worker daemon that exits still counts."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.worker_pids: set[int] = set()

    def _workers(self) -> dict[int, float]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit() and (s := _stat(int(name))) is not None:
                stats[int(name)] = s
        out: dict[int, float] = {}
        frontier = {self.jvm_pid}
        while frontier:
            frontier = {p for p, (ppid, _) in stats.items() if ppid in frontier}
            out.update({p: stats[p][1] for p in frontier})
        return out

    def sample(self) -> tuple[float, float]:
        """(total CPU seconds, Python-worker CPU seconds) so far."""
        t = os.times()
        own = t.user + t.system
        jvm = _stat(self.jvm_pid)
        workers = self._workers()
        self.worker_pids.update(workers)
        py = sum(workers.values())
        return own + (jvm[1] if jvm else 0.0) + py, py

    def peak_rss_mb(self) -> float:
        """Kernel VmHWM of the JVM plus that of the driver Python process."""
        return (_hwm_kb(self.jvm_pid) + _hwm_kb(os.getpid())) / 1024.0


# -- Spark status stores -----------------------------------------------------


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric ('16.2 MiB', '600,000', '14 ms', or
    'total (min, med, max ...)\\n3.2 s (...)')."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    m = re.match(r"([\d,.]+)\s*(\w+)?", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    return {"ms": num / 1e3, "s": num, "m": num * 60, "h": num * 3600}.get(unit, num)


# the plan node that reports what a write produced
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"
WRITE_METRICS = {
    "number of written files": "written_files",
    "written output": "written_bytes",
    "number of output rows": "written_rows",
    "number of dynamic part": "written_parts",
}


class SparkMeter:
    """Reads new jobs, stages and SQL executions from the status stores."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self.sc = spark._jsc.sc()
        self.store = self.sc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._jvm = jvm
        self.job_hwm = -1
        self.stage_hwm = -1
        self.exec_hwm = int(self.sql.executionsCount())
        self.drain()  # skip whatever ran before the meter existed

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def drain(self) -> dict:
        """Everything that finished since the last call: {"jobs", "stages",
        "execs"}, each a list of dicts."""
        self.sc.listenerBus().waitUntilEmpty()
        jobs = [j for j in self._json(self.store.jobsList(None)) if j["jobId"] > self.job_hwm]
        store = self.store
        stages = self._json(
            store.stageList(
                self._jvm.java.util.ArrayList(),
                getattr(store, "stageList$default$2")(),
                getattr(store, "stageList$default$3")(),
                getattr(store, "stageList$default$4")(),
                getattr(store, "stageList$default$5")(),
            )
        )
        stages = [s for s in stages if s["stageId"] > self.stage_hwm]
        n_exec = int(self.sql.executionsCount())
        execs = []
        if n_exec > self.exec_hwm:
            lst = self.sql.executionsList(self.exec_hwm, n_exec - self.exec_hwm)
            for i in range(lst.size()):
                e = lst.apply(i)
                values = self._json(self.sql.executionMetrics(e.executionId()))
                rec = {"id": e.executionId(), "jobs": [int(k) for k in self._json(e.jobs())],
                       "scans": []}
                for node in self._json(self.sql.planGraph(e.executionId()).allNodes()):
                    for m in node["metrics"]:
                        v = values.get(str(m["accumulatorId"]))
                        if v is None:
                            continue
                        if m["name"] == "size of files read":
                            rec["scans"].append(parse_sql_metric(v))
                        elif node["name"] == WRITE_NODE and m["name"] in WRITE_METRICS:
                            key = WRITE_METRICS[m["name"]]
                            rec[key] = rec.get(key, 0.0) + parse_sql_metric(v)
                rec["files_read_bytes"] = sum(rec["scans"])
                execs.append(rec)
            self.exec_hwm = n_exec
        if jobs:
            self.job_hwm = max(j["jobId"] for j in jobs)
        if stages:
            self.stage_hwm = max(s["stageId"] for s in stages)
        return {"jobs": jobs, "stages": stages, "execs": execs}


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
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


# -- spans -------------------------------------------------------------------


@dataclass
class Span:
    span_id: str
    trace_id: str
    parent: str | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


COUNTER_KEYS = (
    "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "files_read_bytes", "written_files", "written_bytes", "written_parts",
    "written_rows",
)


class Tracer:
    """Spans in memory. Disabled, every call is a no-op context."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.meter = SparkMeter(spark) if enabled else None
        self._enabled = enabled

    @property
    def enabled(self) -> bool:
        return self._enabled

    @enabled.setter
    def enabled(self, on: bool) -> None:
        if on and not self._enabled:
            self.meter.drain()  # work done while disabled belongs to no span
        self._enabled = on

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, parent: Span | None = None, **attrs):
        """Time one call. ``parent`` links a span opened in another thread
        (a pool thread of ``etl.run_all``) to the span that caused it."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        up = parent or (stack[-1] if stack else None)
        with self._lock:
            sid = f"s{next(self._ids)}"
        sp = Span(sid, up.trace_id if up else sid, up.span_id if up else None, name,
                  time.time(), attrs=dict(attrs))
        sc = self.spark.sparkContext
        sc.setJobGroup(sid, name)
        stack.append(sp)
        with self._lock:
            self._open.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if stack:
                sc.setJobGroup(stack[-1].span_id, stack[-1].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self._open.remove(sp)
                self.spans.append(sp)
            if sp.parent is None:
                self._attribute(sp)

    def find(self, name: str) -> Span | None:
        """The most recently opened span called ``name`` that is still
        open, in any thread."""
        with self._lock:
            return next((s for s in reversed(self._open) if s.name == name), None)

    def _attribute(self, root: Span) -> None:
        """Give each span of ``root``'s trace the Spark work it started."""
        got = self.meter.drain()
        trace = {s.span_id: s for s in self.spans if s.trace_id == root.trace_id}
        for s in trace.values():
            s.counters = dict.fromkeys(COUNTER_KEYS, 0.0)
            s.counters["job_intervals"] = []
        job_span: dict[int, Span] = {}
        for j in got["jobs"]:
            sp = trace.get(j.get("jobGroup") or "", root)
            job_span[j["jobId"]] = sp
            c = sp.counters
            c["jobs"] += 1
            if j.get("submissionTime") and j.get("completionTime"):
                c["job_intervals"].append(
                    (j["submissionTime"] / 1e3, j["completionTime"] / 1e3)
                )
        stage_job = {}
        for j in sorted(got["jobs"], key=lambda j: j["jobId"]):
            for sid in j["stageIds"]:
                stage_job.setdefault(sid, j["jobId"])
        for st in got["stages"]:
            if st["status"] == "SKIPPED":
                continue
            sp = job_span.get(stage_job.get(st["stageId"], -1), root)
            c = sp.counters
            c["stages"] += 1
            c["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
            c["exec_run_s"] += st["executorRunTime"] / 1e3
            c["exec_cpu_s"] += st["executorCpuTime"] / 1e9
            c["gc_s"] += st["jvmGcTime"] / 1e3
            c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            c["shuffle_read_bytes"] += st["shuffleReadBytes"]
            c["spill_bytes"] += st["diskBytesSpilled"]
        for ex in got["execs"]:
            sp = next((job_span[j] for j in sorted(ex["jobs"]) if j in job_span), root)
            for k in ("files_read_bytes", "written_files", "written_bytes",
                      "written_parts", "written_rows"):
                sp.counters[k] += ex.get(k, 0.0)
            sp.counters.setdefault("scans", []).extend(ex["scans"])

    def subtree(self, sp: Span) -> list[Span]:
        kids: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.parent:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.span_id, []))
        return out

    def total(self, sp: Span, key: str) -> float:
        return sum(s.counters.get(key, 0.0) for s in self.subtree(sp))

    def job_intervals(self, sp: Span) -> list[tuple[float, float]]:
        return [iv for s in self.subtree(sp) for iv in s.counters.get("job_intervals", [])]

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(max(s.start, sp.start), min(s.end, sp.end))
                for s in self.spans if s.parent == sp.span_id]
        return sp.dur - union_s([k for k in kids if k[1] > k[0]])

    def dump(self, path) -> None:
        recs = []
        for s in sorted(self.spans, key=lambda s: s.start):
            c = {k: v for k, v in s.counters.items() if k != "job_intervals"}
            recs.append({
                "trace_id": s.trace_id, "span_id": s.span_id, "parent": s.parent,
                "name": s.name, "start": s.start, "end": s.end,
                "self_s": self.self_time(s), "attrs": s.attrs, "spark": c,
            })
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(recs, indent=1, default=str))
