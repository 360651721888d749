"""Measurement plumbing: process-tree CPU and memory from /proc, host
stamps, spans, and Spark's in-process status stores.

Nothing here changes what the engine does. Spans wrap the benchmark's
own calls into each layer; Spark counters are read after the fact from
``statusTracker``/``statusStore`` by job group, so the untraced run pays
for none of it.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_HZ = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# /proc: the engine's process tree (driver Python -> JVM -> Python workers)
# --------------------------------------------------------------------------


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ppid, ticks / _HZ


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(st[0], []).append(int(name))
    return kids


def descendants(root: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids = _children_map() if kids is None else kids
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


@dataclass
class CpuSample:
    driver: float
    jvm: float
    workers: float

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.workers

    def __sub__(self, other: "CpuSample") -> "CpuSample":
        return CpuSample(
            self.driver - other.driver, self.jvm - other.jvm, self.workers - other.workers
        )


def cpu_sample() -> CpuSample:
    """CPU seconds so far of the driver, the JVM, and everything the JVM
    forked (the Python worker daemon and its workers). Reaped children
    stay counted through their parent's cutime/cstime."""
    me = os.getpid()
    kids = _children_map()
    driver = (_stat(me) or (0, 0.0))[1]
    jvm = workers = 0.0
    for pid in descendants(me, kids):
        st = _stat(pid)
        if st is None:
            continue
        if _comm(pid) == "java":
            jvm += st[1]
            workers += sum((_stat(w) or (0, 0.0))[1] for w in descendants(pid, kids))
    return CpuSample(driver, jvm, workers)


def peak_rss_mb() -> float:
    """Sum of per-process peak resident sets (VmHWM) over the tree."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def steal_seconds() -> float:
    """Host-wide hypervisor steal so far (all CPUs), in seconds."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / _HZ
    except (OSError, ValueError, IndexError):
        return 0.0


def machine_probe(n: int = 1_500_000) -> float:
    """Wall seconds of a fixed single-thread pure-Python loop that uses
    none of the program under test: how fast this host runs code right
    now (steal and noisy neighbours slow it down)."""
    t = time.perf_counter()
    x = 0
    for i in range(n):
        x ^= i * i
    return time.perf_counter() - t


def host_stamp() -> dict:
    return {
        "loadavg_1m": os.getloadavg()[0],
        "nproc": os.cpu_count(),
        "steal_s_total": steal_seconds(),
    }


# --------------------------------------------------------------------------
# Percentiles (a tail percentile needs >= 10 samples beyond it)
# --------------------------------------------------------------------------


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]."""
    xs = sorted(values)
    k = max(0, min(len(xs) - 1, int(-(-q * len(xs) // 100)) - 1))
    return xs[k]


def tail_pct(n: int) -> int:
    """Highest whole percentile (<= 99) that leaves >= 10 samples above
    it among ``n``; 50 when there are fewer than 20 samples."""
    if n < 20:
        return 50
    return max(50, min(99, int(100 * (n - 10) / n)))


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


@dataclass
class Tracer:
    """Records spans when enabled; a disabled tracer records nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
        return out


# --------------------------------------------------------------------------
# Spark status stores
# --------------------------------------------------------------------------

_PY_NODE = re.compile(r"Python|InPandas|InArrow|PandasWithState")
_SIZE = re.compile(r"^([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)?$")
_UNITS = {None: 1, "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _metric_total(text: str | None) -> float:
    """A SQL metric's driver-side string ('1,234', '10.0 KiB', or
    'total (min, med, max ...)\\n10.0 KiB (...)') as a number."""
    if not text:
        return 0.0
    line = text.splitlines()[-1] if "\n" in text else text
    head = line.split(" (")[0].strip()
    m = _SIZE.match(head)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _covered(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, t0), min(e, t1)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            total += 0.0 if cur_e is None else cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (0.0 if cur_e is None else cur_e - cur_s)


class SparkStats:
    """Per-operation Spark counters, read by job group after the op."""

    STAGE_FIELDS = (
        ("numTasks", "spark.tasks", 1),
        ("executorRunTime", "spark.exec_run_s", 1e-3),
        ("executorCpuTime", "spark.exec_cpu_s", 1e-9),
        ("jvmGcTime", "spark.gc_s", 1e-3),
        ("shuffleReadBytes", "spark.shuffle_read_bytes", 1),
        ("shuffleWriteBytes", "spark.shuffle_write_bytes", 1),
        ("inputBytes", "spark.input_bytes", 1),
        ("inputRecords", "spark.input_rows", 1),
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self.totals: dict[str, float] = {}
        self.job_intervals: list[tuple[float, float]] = []
        self._seen_exec = -1

    def _add(self, key: str, v: float) -> None:
        self.totals[key] = self.totals.get(key, 0.0) + v

    def op_done(self, group: str, t0: float, t1: float) -> None:
        """Fold the jobs of one operation (job group ``group``, run
        between wall-clock ``t0`` and ``t1``) into the totals."""
        intervals = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(jid)
            self._add("spark.jobs", 1)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            for sid in self.conv.asJava(job.stageIds()):
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                self._add("spark.stages", 1)
                for attr, key, scale in self.STAGE_FIELDS:
                    self._add(key, getattr(st, attr)() * scale)
                self._add("spark.spill_bytes", st.memoryBytesSpilled() + st.diskBytesSpilled())
        self.job_intervals += intervals
        self._add("spark.driver_only_s", max(0.0, (t1 - t0) - _covered(intervals, t0, t1)))

    def covered(self, windows: list[tuple[float, float]]) -> float:
        """Seconds of the given wall-clock windows during which a job of
        a traced operation was running."""
        return sum(_covered(self.job_intervals, a, b) for a, b in windows)

    def python_nodes(self, record: bool = True) -> None:
        """Fold Python-eval node metrics (ArrowEvalPython, MapInPandas,
        ... nodes) of SQL executions finished since the last call; with
        ``record=False`` only skip past them."""
        for ex in self.conv.asJava(self.sql_store.executionsList()):
            eid = ex.executionId()
            if eid <= self._seen_exec:
                continue
            self._seen_exec = max(self._seen_exec, eid)
            if not record:
                continue
            values = self.conv.asJava(self.sql_store.executionMetrics(eid))
            graph = self.sql_store.planGraph(eid)
            for node in self.conv.asJava(graph.allNodes()):
                if not _PY_NODE.search(node.name()):
                    continue
                for m in self.conv.asJava(node.metrics()):
                    v = _metric_total(values.get(m.accumulatorId()))
                    if m.name() == "data sent to Python workers":
                        self._add("python.bytes_sent", v)
                    elif m.name() in ("number of output rows", "number of rows returned"):
                        self._add("python.rows_out", v)
