"""Spans, Spark status-store deltas and /proc readings for the benchmark.

Everything here reads state the engine already keeps; nothing adds a Spark
job. A span is recorded around one call the benchmark makes into a
``rensa_spark`` module. When a span closes it pulls, from Spark's in-process
status stores, the jobs, stages and SQL executions that started inside it:

- stages (``SparkContext.statusStore().stageList``): task counts, executor
  run and CPU time, shuffle bytes, spill, and the submit/complete times that
  give the span's driver gap (wall time with no stage running);
- SQL plan graphs (``SharedState.statusStore()``): the Python nodes' "time to
  run Python workers" and "data returned from Python workers";
- /proc: CPU seconds of the Python worker processes under the JVM.

Spans are kept in memory and written once, at exit, by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import asdict, dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")

# ---------------------------------------------------------------- /proc


def _stat(pid: int) -> tuple[int, str, float, float] | None:
    """(ppid, comm, own cpu s, reaped-children cpu s) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    ppid = int(rest[1])
    own = (int(rest[11]) + int(rest[12])) / _CLK_TCK
    kids = (int(rest[13]) + int(rest[14])) / _CLK_TCK
    return ppid, comm, own, kids


def process_table() -> dict[int, tuple[int, str, float, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = process_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie waiting to be reaped has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def java_pids(exclude: set[int] = frozenset()) -> list[int]:
    return [
        pid
        for pid, (_pp, comm, *_r) in process_table().items()
        if comm == "java" and pid not in exclude
    ]


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of every Python process under the JVM (the pyspark
    daemon and its forked workers), reaped workers included."""
    table = process_table()
    total = 0.0
    for pid in descendants(jvm_pid, table):
        _pp, comm, own, kids = table[pid]
        if comm.startswith("python"):
            total += own + kids
    return total


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of the driver JVM plus its Python worker processes."""
    pids = [jvm_pid] + descendants(jvm_pid)
    return sum(_hwm_kb(p) for p in pids) / 1024.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> list[int]:
    """System-wide CPU ticks from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU ticks between two readings that the hypervisor gave to
    other guests (steal)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total


# ---------------------------------------------------------------- Spark status

_PY_NODE = re.compile(r"Pandas|Python|Arrow")
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}


def parse_sql_metric(text: str) -> float:
    """Spark renders SQL metrics as text: "5.3 s", "10.7 MiB", or
    "total (min, med, max (stageId: taskId))\\n5.3 s (...)". Returns the
    total in seconds or bytes."""
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*(\w+)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


@dataclass
class SparkDelta:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    python_worker_s: float = 0.0
    python_bytes_out: float = 0.0
    python_cpu_s: float = 0.0
    stage_busy_s: float = 0.0
    driver_gap_s: float = 0.0


class SparkStatus:
    """Reads what happened since the last mark from Spark's status stores."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self.jvm_pid = sc._gateway.proc.pid
        self.mark()

    def _last_ids(self) -> tuple[int, int, int]:
        jobs = self._store.jobsList(None)
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        execs = self._sql.executionsList()
        return (
            max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1),
            stages.apply(0).stageId() if stages.size() else -1,
            execs.apply(execs.size() - 1).executionId() if execs.size() else -1,
        )

    def mark(self) -> None:
        self._job, self._stage, self._exec = self._last_ids()
        self._py_cpu = python_worker_cpu_s(self.jvm_pid)

    def since_mark(self, t0: float, t1: float) -> SparkDelta:
        """Delta over everything started after the last mark; t0/t1 are the
        span's epoch seconds (for the driver gap). Moves the mark."""
        d = SparkDelta()
        jobs = self._store.jobsList(None)
        d.jobs = sum(1 for i in range(jobs.size()) if jobs.apply(i).jobId() > self._job)
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        busy = []
        for i in range(stages.size()):  # newest first
            s = stages.apply(i)
            if s.stageId() <= self._stage:
                break
            if s.status().toString() == "SKIPPED":
                continue
            d.stages += 1
            d.tasks += s.numCompleteTasks() + s.numFailedTasks()
            d.executor_run_s += s.executorRunTime() / 1e3
            d.executor_cpu_s += s.executorCpuTime() / 1e9
            d.shuffle_write_bytes += s.shuffleWriteBytes()
            d.shuffle_read_bytes += s.shuffleReadBytes()
            d.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined():
                end = done.get().getTime() / 1e3 if done.isDefined() else t1
                busy.append((max(sub.get().getTime() / 1e3, t0), min(end, t1)))
        d.stage_busy_s = _union_length(busy)
        d.driver_gap_s = max(t1 - t0 - d.stage_busy_s, 0.0)
        execs = self._sql.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            eid = execs.apply(i).executionId()
            if eid <= self._exec:
                break
            w, b = self._python_node_metrics(eid)
            d.python_worker_s += w
            d.python_bytes_out += b
        d.python_cpu_s = python_worker_cpu_s(self.jvm_pid) - self._py_cpu
        self.mark()
        return d

    def _python_node_metrics(self, exec_id: int) -> tuple[float, float]:
        values = self._sql.executionMetrics(exec_id)
        nodes = self._sql.planGraph(exec_id).allNodes()
        worker_s = bytes_out = 0.0
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not _PY_NODE.search(node.name()):
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                name = m.name()
                if name not in ("time to run Python workers", "data returned from Python workers"):
                    continue
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                if name.startswith("time"):
                    worker_s += parse_sql_metric(v.get())
                else:
                    bytes_out += parse_sql_metric(v.get())
        return worker_s, bytes_out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    run_id: str
    start: float
    end: float = 0.0
    parent: str | None = None
    spark: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``status`` is None when tracing is off: spans
    then record wall time only and read no Spark state."""

    def __init__(self, run_id: str, status: SparkStatus | None) -> None:
        self.run_id = run_id
        self.status = status
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def begin(self, name: str) -> Span:
        if self.status is not None and not self._stack:
            self.status.mark()
        parent = self._stack[-1].name if self._stack else None
        span = Span(name, self.run_id, time.time(), parent=parent)
        self._stack.append(span)
        return span

    def end(self, span: Span, **counts) -> SparkDelta | None:
        span.end = time.time()
        span.counts.update(counts)
        self._stack.pop()
        delta = None
        if self.status is not None and not self._stack:
            delta = self.status.since_mark(span.start, span.end)
            span.spark = asdict(delta)
        if self.status is not None:
            self.spans.append(span)
        return delta

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f, indent=1)
