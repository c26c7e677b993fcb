"""Layer spans recorded from outside the engine, and Spark event-log totals.

Spans: engine methods are wrapped at run time by ``Tracer.wrap``, so the
engine carries no tracing code. A method that no longer exists is
reported as an absent layer, never as a failure. Spans stay in memory
until ``Tracer.dump`` writes them at the end of the run. Span times are
epoch seconds, so they line up with the event log's millisecond clock.

Event log: ``read_event_log`` parses the uncompressed JSON event log that
``spark.eventLog.enabled`` writes, keyed by job: its submission and
completion times and the accumulables of the stages it ran. Spans set the
job group ``<workload>.<span name>`` for the log's readers, but totals are
taken per time window (``jobs_in``): the benchmark is one closed-loop
client, so the jobs submitted inside a span are exactly that span's jobs,
including jobs the engine submits from its own worker threads, which do
not inherit the caller's job group.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing."""

    def __init__(self, workload: str, enabled: bool) -> None:
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self.absent: set[str] = set()
        self.op: int | None = None
        self.prefix = ""
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._sc = None

    @contextlib.contextmanager
    def span(self, name: str, job_group: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        full = f"{self.prefix}.{name}" if self.prefix else name
        sp = Span(full, time.time(),
                  parent=self._stack[-1] if self._stack else None,
                  op=self.op, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        prev_group = None
        if job_group and self._sc is not None:
            prev_group = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setLocalProperty("spark.jobGroup.id",
                                      f"{self.workload}.{full}")
        try:
            yield sp
        finally:
            if job_group and self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self._stack.pop()
            sp.end = time.time()

    def bind(self, spark_context) -> None:
        """Job groups are set on this SparkContext's local properties."""
        self._sc = spark_context

    def wrap(self, owner, attr: str, layer: str) -> bool:
        """Record a span (and a job group) around ``owner.attr`` calls."""
        orig = owner.__dict__.get(attr) if isinstance(owner, type) else getattr(owner, attr, None)
        if orig is None:
            self.absent.add(layer)
            return False
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(layer, job_group=True):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))
        return True

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **asdict(s)}) + "\n")


def covered_s(spans: list[Span], lo: float, hi: float) -> float:
    """Wall time in [lo, hi] covered by the union of the given spans."""
    ivs = sorted((max(s.start, lo), min(s.end, hi)) for s in spans
                 if s.end > lo and s.start < hi)
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# --- event log ----------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_UPDATE = ("org.apache.spark.sql.execution.ui."
               "SparkListenerSQLAdaptiveExecutionUpdate")
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
OUT_ROWS = "number of output rows"


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int = 0
    stage_ids: list = field(default_factory=list)
    tasks: int = 0
    acc: dict = field(default_factory=dict)       # metric name -> total
    node_acc: dict = field(default_factory=dict)  # (node, metric) -> total

    @property
    def ms(self) -> float:
        return float(max(0, self.end_ms - self.submit_ms))


def event_log_lines(log_dir: str, app_id: str):
    """Lines of one application's log, plain or rolled (``eventlog_v2_*``)."""
    rolled = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(rolled):
        parts = sorted((f for f in os.listdir(rolled) if f.startswith("events_")),
                       key=lambda f: int(f.split("_")[1]))
        paths = [os.path.join(rolled, f) for f in parts]
    else:
        paths = [os.path.join(log_dir, app_id)]
    for p in paths:
        with open(p) as fh:
            yield from fh


def read_event_log(lines) -> list[Job]:
    jobs: dict[int, Job] = {}
    stages: dict[int, tuple[int, list]] = {}
    acc_node: dict[int, tuple[str, str]] = {}

    def walk(plan) -> None:
        for m in plan.get("metrics", []):
            acc_node[m["accumulatorId"]] = (plan.get("nodeName", ""), m["name"])
        for ch in plan.get("children", []):
            walk(ch)

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = Job(ev["Job ID"], int(ev.get("Submission Time", 0)),
                                     stage_ids=list(ev.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = int(ev.get("Completion Time", 0))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]] = (int(info.get("Number of Tasks", 0)),
                                        info.get("Accumulables", []))
        elif kind in (_SQL_START, _SQL_UPDATE):
            walk(ev.get("sparkPlanInfo") or {})
    # a stage shared by several jobs ran in the first one; later ones skip it
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid].stage_ids:
            owner.setdefault(sid, jid)
    for sid, (ntasks, accs) in stages.items():
        job = jobs.get(owner.get(sid, -1))
        if job is None:
            continue
        job.tasks += ntasks
        for a in accs:
            name, val = a.get("Name"), _num(a.get("Value"))
            if name is None:
                continue
            job.acc[name] = job.acc.get(name, 0.0) + val
            if name == "internal.metrics.peakExecutionMemory":
                key = "stage_peak_exec_mem"
                job.acc[key] = max(job.acc.get(key, 0.0), val)
            node = acc_node.get(a.get("ID"))
            if node is not None:
                job.node_acc[node] = job.node_acc.get(node, 0.0) + val
    return [jobs[j] for j in sorted(jobs)]


def jobs_in(jobs: list[Job], spans: list[Span]) -> list[Job]:
    """Jobs submitted inside any of the spans."""
    wins = [(s.start * 1000.0, s.end * 1000.0) for s in spans]
    return [j for j in jobs if any(lo <= j.submit_ms <= hi for lo, hi in wins)]


def total(jobs: list[Job], name: str) -> float:
    return sum(j.acc.get(name, 0.0) for j in jobs)


def node_total(jobs: list[Job], node_substr: str, metric: str) -> float:
    return sum(v for j in jobs for (node, m), v in j.node_acc.items()
               if node_substr in node and m == metric)


def spark_totals(jobs: list[Job]) -> dict[str, float]:
    """Engine-wide totals over a set of jobs (the ``spark.*`` layer)."""
    return {
        "spark.executor_cpu_s": total(jobs, "internal.metrics.executorCpuTime") / 1e9,
        "spark.executor_run_s": total(jobs, "internal.metrics.executorRunTime") / 1e3,
        "spark.gc_s": total(jobs, "internal.metrics.jvmGCTime") / 1e3,
        "spark.shuffle_write_bytes": total(jobs, "internal.metrics.shuffle.write.bytesWritten"),
        "spark.spill_bytes": (total(jobs, "internal.metrics.memoryBytesSpilled")
                              + total(jobs, "internal.metrics.diskBytesSpilled")),
        "spark.peak_exec_mem_bytes": max(
            [j.acc.get("stage_peak_exec_mem", 0.0) for j in jobs] or [0.0]),
        "spark.jobs": float(len(jobs)),
        "spark.tasks": float(sum(j.tasks for j in jobs)),
        "arrow.bytes_to_python": total(jobs, PY_SENT),
        "arrow.bytes_from_python": total(jobs, PY_RETURNED),
    }
