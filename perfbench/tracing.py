"""Process-tree counters, spans around the engine's public calls, and
per-job accounting read from Spark's status store.

Only the benchmark's own files install the spans: ``Tracer.install``
swaps each traced public function for a wrapper in every engine module
that holds a reference to it, and ``uninstall`` puts the originals
back, so untraced passes run the unmodified code.
"""

from __future__ import annotations

import contextlib
import os
import sys
import threading
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class ProcSample:
    cpu_s: float  # user+system of the whole tree, reaped children included
    python_cpu_s: float  # the PySpark worker processes under the JVM
    rss_bytes: int
    pids: list[int]
    # resident bytes of the driver, the JVM and everything else
    rss_by: dict[str, int] = field(default_factory=dict)


def _read_stat(pid: str) -> tuple[int, str, str, float, int] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    comm = s[s.index("(") + 1: s.rindex(")")]
    f = s[s.rindex(")") + 2:].split()
    # fields 3.. of proc(5): state, ppid, ..., utime(14), stime, cutime, cstime, ..., rss(24)
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return int(f[1]), comm, f[0], ticks / CLK_TCK, int(f[21]) * PAGE


def sample_tree(root: int | None = None) -> ProcSample:
    """CPU and RSS of ``root`` (default: this process) and its descendants."""
    root = os.getpid() if root is None else root
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(name)
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    cpu = py = 0.0
    rss = 0
    pids = []
    rss_by = {"driver": 0, "jvm": 0, "workers": 0}
    todo = [(root, False)]
    while todo:
        pid, under_jvm = todo.pop()
        st = stats.get(pid)
        if st is None:
            continue
        _, comm, _, cpu_s, rss_b = st
        pids.append(pid)
        cpu += cpu_s
        rss += rss_b
        rss_by["driver" if pid == root else "jvm" if comm == "java" else "workers"] += rss_b
        if under_jvm and comm.startswith("python"):
            py += cpu_s
        is_jvm = under_jvm or comm == "java"
        todo.extend((c, is_jvm) for c in children.get(pid, ()))
    return ProcSample(cpu, py, rss, pids, rss_by)


def alive(pid: int) -> bool:
    st = _read_stat(str(pid))
    return st is not None and st[2] not in ("Z", "X")


class RssSampler:
    """Peak resident memory of the process tree, sampled in a thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            sample = sample_tree()
            self.peak = max(self.peak, sample.rss_bytes)
            for k, v in sample.rss_by.items():
                self.peak_by[k] = max(self.peak_by.get(k, 0), v)
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


@dataclass
class Span:
    name: str  # the traced function, e.g. "operators.merge.execute_merge"
    phase: str  # the workload phase or query it ran under
    start: float
    end: float = 0.0
    parent: int | None = None
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


@dataclass
class Tracer:
    """Spans and Spark job groups for one traced pass."""

    spark: object
    workload: str
    phase: str = ""
    spans: list[Span] = field(default_factory=list)
    # seconds spent in the tracing code itself, outside the traced calls
    own_s: float = 0.0
    _stack: list[int] = field(default_factory=list)
    _patches: list[tuple[object, str, object]] = field(default_factory=list)

    @property
    def sc(self):
        return self.spark.sparkContext

    @contextlib.contextmanager
    def job_group(self, key: str, phase: str):
        """Tag the jobs started inside with ``<workload>/<key>/<phase>``."""
        t = time.perf_counter()
        sc = self.sc
        prev = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        group = f"{self.workload}/{key}/{phase}"
        sc.setJobGroup(group, group)
        self.own_s += time.perf_counter() - t
        try:
            yield
        finally:
            t = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", prev)
            sc.setLocalProperty("spark.job.description", prev_desc)
            self.own_s += time.perf_counter() - t

    @contextlib.contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        sp = Span(name, self.phase, time.perf_counter(),
                  parent=self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.own_s += time.perf_counter() - t
        try:
            yield sp
        finally:
            sp.end = t = time.perf_counter()
            self._stack.pop()
            if sp.parent is not None:
                self.spans[sp.parent].child_s += sp.dur
            self.own_s += time.perf_counter() - t

    def wrap(self, owner, attr: str, name: str, group=None) -> None:
        """Replace ``owner.attr`` (and every engine-module alias of it)
        with a spanned version. ``group(args, kwargs)`` names the job
        group as ``(key, phase)``, or None to keep the caller's."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            t = time.perf_counter()
            tag = group(args, kwargs) if group else None
            tracer.own_s += time.perf_counter() - t
            with tracer.span(name), (
                tracer.job_group(*tag) if tag else contextlib.nullcontext()
            ):
                return orig(*args, **kwargs)

        targets = [owner] if isinstance(owner, type) else [
            m for n, m in list(sys.modules.items())
            if n.startswith("dso_import_spark") and m is not None
        ]
        for mod in targets:
            for a, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, a, traced)
                    self._patches.append((mod, a, orig))

    def uninstall(self) -> None:
        for mod, a, orig in reversed(self._patches):
            setattr(mod, a, orig)
        self._patches.clear()

    def total(self, name: str, phase: str | None = None, self_time: bool = False) -> float:
        return sum(
            s.self_s if self_time else s.dur for s in self.spans
            if s.name == name and (phase is None or s.phase == phase)
        )


@dataclass
class JobRow:
    job_id: int
    group: str
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


def last_job_id(spark) -> int:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def jobs_after(spark, after: int) -> list[JobRow]:
    """Jobs with id > ``after``, with the stages each ran (skipped
    stages excluded), read from the status store by job group."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    rows: dict[int, JobRow] = {}
    # a stage runs in the first job that needs it; later jobs skip it
    stage_owner: dict[int, int] = {}
    for j in sorted((jobs.apply(i) for i in range(jobs.size())), key=lambda j: j.jobId()):
        ids = j.stageIds()
        for k in range(ids.size()):
            stage_owner.setdefault(ids.apply(k), j.jobId())
        if j.jobId() > after:
            g = j.jobGroup()
            rows[j.jobId()] = JobRow(j.jobId(), g.get() if g.isDefined() else "")
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    stages = store.stageList(None, False, False, no_quantiles, None)
    mb = 1024.0 * 1024.0
    for i in range(stages.size()):
        s = stages.apply(i)
        owner = stage_owner.get(s.stageId())
        if owner not in rows or str(s.status()) == "SKIPPED":
            continue
        r = rows[owner]
        r.stages += 1
        r.tasks += s.numTasks()
        r.executor_run_s += s.executorRunTime() / 1e3
        r.executor_cpu_s += s.executorCpuTime() / 1e9
        r.gc_s += s.jvmGcTime() / 1e3
        r.input_mb += s.inputBytes() / mb
        r.shuffle_read_mb += s.shuffleReadBytes() / mb
        r.shuffle_write_mb += s.shuffleWriteBytes() / mb
        r.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / mb
    return sorted(rows.values(), key=lambda r: r.job_id)


EXEC_FIELDS = (
    "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)


def sum_jobs(rows: list[JobRow]) -> dict[str, float]:
    out = {"jobs": len(rows)}
    for f in EXEC_FIELDS:
        out[f] = sum(getattr(r, f) for r in rows)
    return out
