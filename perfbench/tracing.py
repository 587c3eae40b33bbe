"""What the benchmark measures besides its own clocks: in-memory spans,
CPU and RSS of the process tree from ``/proc``, and Spark's own job, stage
and SQL-execution metrics from Spark's status store.

Spans are opened in the benchmark's files around calls into the program's
public functions; nothing here reaches inside the program.
"""

from __future__ import annotations

import ast
import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float  # epoch seconds: the clock Spark's status store uses
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans
    request: int | None = None
    extra: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory until the run writes them out.

    The benchmark drives one closed-loop client, so one stack of open spans
    gives every span its parent, even when a server thread opens the child
    of a span the client thread holds open."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, request: int | None = None):
        with self._lock:
            parent = self._open[-1] if self._open else None
            if request is None and parent is not None:
                request = self.spans[parent].request
            self.spans.append(Span(name, time.time(), parent=parent, request=request))
            idx = len(self.spans) - 1
            self._open.append(idx)
        try:
            yield self.spans[idx]
        finally:
            with self._lock:
                self.spans[idx].end = time.time()
                self._open.remove(idx)

    def add(self, name: str, start: float, end: float, parent: int, **extra) -> None:
        """Record a finished span measured elsewhere (a Spark execution)."""
        p = self.spans[parent]
        self.spans.append(Span(name, start, end, parent, p.request, extra))



def dump(spans: list[Span], path: str) -> None:
    """Write the spans as one JSON list (``extra`` keeps its plain numbers)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rows = [
        {
            "name": s.name,
            "start": s.start,
            "end": s.end,
            "parent": s.parent,
            "request": s.request,
            **{k: v for k, v in s.extra.items() if isinstance(v, (int, float))},
        }
        for s in spans
    ]
    with open(path, "w") as f:
        json.dump(rows, f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of its
    interval that its children cover (children clipped to the parent)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        covered = union_length(
            [
                (max(c.start, s.start), min(c.end, s.end))
                for c in kids.get(i, [])
                if c.end > s.start and c.start < s.end
            ]
        )
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


# ---------------------------------------------------------------- /proc

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[str, int, int, int, int]]:
    """pid -> (comm, ppid, own cpu ticks, reaped children's cpu ticks, rss bytes)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:  # exited between listdir and open
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        f_ = raw[raw.rindex(")") + 2 :].split()
        out[int(d)] = (
            comm,
            int(f_[1]),
            int(f_[11]) + int(f_[12]),
            int(f_[13]) + int(f_[14]),
            int(f_[21]) * _PAGE,
        )
    return out


def _descendants(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, row in table.items():
        kids.setdefault(row[1], []).append(pid)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


@dataclass
class ProcSample:
    jvm_cpu_s: float  # the JVM's own threads
    py_cpu_s: float  # pyspark daemon and workers, reaped workers included
    rss_bytes: int  # this process, the JVM and the Python workers
    pids: list[int]


def proc_sample() -> ProcSample:
    """CPU and RSS of this process's JVM and Python workers."""
    root = os.getpid()
    table = _proc_table()
    desc = _descendants(table, root)
    # only the JVM and its Python workers count: a child the JVM is
    # spawning reports the JVM's own pages until it execs (its comm is the
    # name of the forking thread), which would count the heap twice
    jvms = [p for p in desc if table[p][0] == "java" and table[table[p][1]][0] != "java"]
    workers = [p for j in jvms for p in _descendants(table, j) if table[p][0].startswith("python")]
    return ProcSample(
        jvm_cpu_s=sum(table[p][2] for p in jvms) / _TICK,
        py_cpu_s=sum(table[p][2] + table[p][3] for p in workers) / _TICK,
        rss_bytes=sum(table[p][4] for p in [root, *jvms, *workers]),
        pids=desc,
    )


class PeakRss:
    """Samples the summed RSS of the process tree on a thread until closed."""

    def __init__(self, period_s: float = 0.1) -> None:
        self.peak_bytes = 0
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, proc_sample().rss_bytes)
            self._stop.wait(self._period)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def wait_gone(pids: list[int], timeout_s: float = 60.0) -> list[int]:
    """Wait until none of ``pids`` is alive; returns the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = pids
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive


# ---------------------------------------------------------------- Spark

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def metric_value(text: str) -> float:
    """Total of one SQL metric as the status store formats it: ``'1,234'``,
    ``'12.5 KiB'`` or ``'total (min, med, max ...)\\n12.5 KiB (...)'``."""
    if "\n" in text:
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    parts = text.replace(",", "").split()
    return float(parts[0]) * (_UNITS.get(parts[1], 1) if len(parts) > 1 else 1)


class CallSites:
    """Maps a Spark call site ``'collect at FILE:LINE'`` to the name of the
    function around that line, so a job is attributed to the public function
    of the layer that started it."""

    _RE = re.compile(r" at (.+):(\d+)$")

    def __init__(self) -> None:
        self._files: dict[str, list[tuple[int, int, str]]] = {}

    def function(self, call_site: str) -> tuple[str, str]:
        m = self._RE.search(call_site or "")
        if not m:
            return "", ""
        path, line = m.group(1), int(m.group(2))
        if path not in self._files:
            try:
                with open(path) as f:
                    tree = ast.parse(f.read())
            except (OSError, SyntaxError):
                tree = ast.Module(body=[], type_ignores=[])
            self._files[path] = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
        inner = [(lo, name) for lo, hi, name in self._files[path] if lo <= line <= hi]
        return os.path.basename(path), max(inner)[1] if inner else ""


@dataclass
class Execution:
    """One SQL execution (one DataFrame action) and what it did."""

    id: int
    call_site: str
    start: float
    end: float
    jobs: int
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    arrow_to_py_bytes: float = 0.0
    arrow_from_py_bytes: float = 0.0
    rows_scanned: float = 0.0
    files_read: float = 0.0


class SparkStatus:
    """Spark's own metrics, read from Spark's status store (kept even
    with the UI off) after the listener bus has drained."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def executions(self, t0: float, t1: float) -> list[Execution]:
        """Every SQL execution submitted in ``[t0, t1]`` (epoch seconds)."""
        self._bus.waitUntilEmpty()
        job_stages = self._job_stages()
        out = []
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            start = e.submissionTime() / 1000.0
            if not t0 <= start <= t1:
                continue
            done = e.completionTime()
            end = done.get().getTime() / 1000.0 if done.isDefined() else t1
            job_ids = _seq(e.jobs().keys().toSeq())
            x = Execution(int(e.executionId()), e.description(), start, end, len(job_ids))
            self._add_stages(x, {s for j in job_ids for s in job_stages.get(int(j), [])})
            self._add_sql_metrics(x)
            out.append(x)
        return sorted(out, key=lambda x: x.start)

    def _job_stages(self) -> dict[int, list[int]]:
        jobs = self._store.jobsList(None)
        out = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            out[int(j.jobId())] = [int(s) for s in _seq(j.stageIds())]
        return out

    def _add_stages(self, x: Execution, stage_ids: set[int]) -> None:
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":  # shuffle output reused: no task ran
                continue
            x.tasks += st.numTasks()
            x.failed_tasks += st.numFailedTasks()
            x.shuffle_write_bytes += st.shuffleWriteBytes()
            x.spill_bytes += st.diskBytesSpilled()
            x.output_bytes += st.outputBytes()

    def _add_sql_metrics(self, x: Execution) -> None:
        values = self._sql.executionMetrics(x.id)
        nodes = self._sql.planGraph(x.id).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            scan = name.startswith("Scan parquet")
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                mname = m.name()
                field_ = {
                    "data sent to Python workers": "arrow_to_py_bytes",
                    "data returned from Python workers": "arrow_from_py_bytes",
                    "number of files read": "files_read" if scan else None,
                    "number of output rows": "rows_scanned" if scan else None,
                }.get(mname)
                if not field_:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    setattr(x, field_, getattr(x, field_) + metric_value(v.get()))


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]
