"""Spans and counters recorded from outside the engine.

A :class:`Tracer` times the calls the benchmark makes into each engine
module. With tracing off every ``span`` is a bare no-op, so untraced runs
pay nothing. With tracing on, each span records (name, start, end,
parent, op id) in memory, optionally runs its body under its own Spark
job group, and afterwards reads what that group did from Spark's status
stores (they are populated with the UI disabled):

- per job: the count, and the wall time from submission to completion;
- per stage (``AppStatusStore.lastStageAttempt``): tasks, executor run
  and CPU time, GC time, shuffle read/write bytes, spilled bytes;
- per SQL plan node (``SQLAppStatusStore``): the Python-worker data
  metrics of Arrow nodes (bytes sent to / returned from Python workers);
- from ``/proc``: CPU time of the Python worker processes under the JVM.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")
# one action runs a handful of SQL executions; scanning this many of the
# latest ones finds them without walking the whole retained history
_RECENT_EXECUTIONS = 64
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int = -1
    counters: dict = field(default_factory=dict)


def _proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, command name, CPU seconds incl. reaped children)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        # fields[0] is state; utime/stime/cutime/cstime are stat fields 14-17
        cpu = sum(int(x) for x in fields[11:15]) / _CLK_TCK
        out[int(d)] = (int(fields[1]), comm, cpu)
    return out


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def python_worker_cpu(jvm_pid: int | None) -> float:
    """CPU seconds of every Python process under the JVM (daemon, forked
    workers, data-source planners), including exited children it reaped."""
    if jvm_pid is None:
        return 0.0
    table = _proc_table()
    return sum(
        table[p][2] for p in descendants(jvm_pid, table) if table[p][1].startswith("python")
    )


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` in MiB (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _parse_size(text: str) -> int:
    """A size SQLMetric's rendered value: the total on the last line."""
    tok = text.strip().splitlines()[-1].split()
    return int(float(tok[0]) * _SIZE_UNITS.get(tok[1], 1)) if len(tok) >= 2 else 0


class Tracer:
    """In-memory span recorder. ``enabled=False`` records nothing."""

    def __init__(self, spark, enabled: bool, jvm_pid: int | None) -> None:
        self.enabled = enabled
        self.spark = spark
        self.jvm_pid = jvm_pid
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = -1
        self._groups = 0
        self._sql_seen = -1  # highest SQL execution id examined

    @contextmanager
    def op(self, name: str):
        """The root span of one operation; its spans share its op id."""
        if not self.enabled:
            yield
            return
        self._op += 1
        with self._span(f"op:{name}", group=False, execution=False):
            yield

    def span(self, name: str, group: bool = False, execution: bool = False):
        """Time the body as ``name``. ``group`` runs it under a job group of
        its own and records the jobs it ran; ``execution`` also records
        stage, SQL and Python-worker metrics."""
        if not self.enabled:
            return nullcontext(None)
        return self._span(name, group, execution)

    @contextmanager
    def _span(self, name: str, group: bool, execution: bool):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        span = Span(name=name, start=0.0, parent=parent, op=self._op)
        self.spans.append(span)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        gid = None
        if group:
            self._groups += 1
            gid = f"perfbench-{self._groups}"
            sc.setJobGroup(gid, name)
        cpu0 = python_worker_cpu(self.jvm_pid) if execution else 0.0
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if gid is not None:
                # later jobs of the enclosing span go to a group of their own
                self._groups += 1
                sc.setJobGroup(f"perfbench-{self._groups}", "untraced")
                self._collect(span, gid, execution, cpu0)

    def _collect(self, span: Span, gid: str, execution: bool, cpu0: float) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(gid))
        span.counters["jobs"] = len(jobs)
        store = jsc.statusStore()
        job_s = 0.0
        for j in jobs:
            jd = store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                job_s += (done.get().getTime() - sub.get().getTime()) / 1e3
        span.counters["job_s"] = job_s
        if not execution:
            return
        c = dict.fromkeys(
            ("stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read",
             "shuffle_write", "spill", "to_python", "from_python"),
            0,
        )
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - evicted or never attempted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numTasks()
                c["run_s"] += sd.executorRunTime() / 1e3
                c["cpu_s"] += sd.executorCpuTime() / 1e9
                c["gc_s"] += sd.jvmGcTime() / 1e3
                c["shuffle_read"] += sd.shuffleReadBytes()
                c["shuffle_write"] += sd.shuffleWriteBytes()
                c["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        c["to_python"], c["from_python"] = self._python_bytes(set(jobs))
        c["python_cpu_s"] = python_worker_cpu(self.jvm_pid) - cpu0
        span.counters.update(c)

    def _python_bytes(self, jobs: set[int]) -> tuple[int, int]:
        """Bytes to / from Python workers over the SQL executions that ran
        ``jobs``, among the latest executions not examined before."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = int(sql.executionsCount())
        sent = received = 0
        it = sql.executionsList(max(0, n - _RECENT_EXECUTIONS), _RECENT_EXECUTIONS).iterator()
        while it.hasNext():
            ex = it.next()
            if ex.executionId() <= self._sql_seen:
                continue
            self._sql_seen = ex.executionId()
            keys = ex.jobs().keys().iterator()
            ran = set()
            while keys.hasNext():
                ran.add(int(keys.next()))
            if not ran & jobs:
                continue
            values = sql.executionMetrics(ex.executionId())
            nodes = sql.planGraph(ex.executionId()).allNodes().iterator()
            while nodes.hasNext():
                metrics = nodes.next().metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    name = m.name()
                    if name not in ("data sent to Python workers",
                                    "data returned from Python workers"):
                        continue
                    v = values.get(m.accumulatorId())
                    size = _parse_size(v.get()) if v.isDefined() else 0
                    if name.startswith("data sent"):
                        sent += size
                    else:
                        received += size
        return sent, received

    # ------------------------------------------------------------ reports
    def self_times(self) -> dict[str, float]:
        """Span name -> summed self time (duration minus child spans)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            key = "harness" if s.name.startswith("op:") else s.name
            out[key] = out.get(key, 0.0) + (s.end - s.start) - child[i]
        return out

    def total(self, name: str, counter: str | None = None) -> float:
        return sum(
            (s.end - s.start) if counter is None else s.counters.get(counter, 0)
            for s in self.spans
            if s.name == name
        )

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "op": s.op, **s.counters}
            for s in self.spans
        ]
