"""Shared benchmark machinery: the Spark session, the tracer that sees each
layer from outside, the driver+JVM memory sampler, run conditions, and
result checksums.

Nothing here imports pyspark at module level; ``run.py`` sets the
process environment (temp and Spark local dirs inside the checkout)
before the first pyspark import."""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import subprocess
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

import numpy as np


# ---------------------------------------------------------------------------
# workload interface
# ---------------------------------------------------------------------------

class Workload:
    """One closed-loop workload.  ``requests`` are its distinct requests;
    ``run`` performs one op through the public API (every call bracketed
    by the tracer) and returns what was handed to Python; ``canon`` turns
    that into the canonical form that is checksummed; ``expected`` computes
    the independent reference and ``check`` compares against it."""

    name = ""
    requests: list = []

    def generate(self) -> None:
        """Make the seeded inputs (before the session starts)."""

    def load(self, spark) -> None:
        """Load and cache the inputs in Spark."""

    def run(self, req: dict, tr: "Tracer"):
        raise NotImplementedError

    def canon(self, req: dict, out):
        return out

    def expected(self, req: dict):
        raise NotImplementedError

    def check(self, req: dict, got, exp) -> bool:
        raise NotImplementedError

    def rows(self, req: dict) -> int:
        """Input rows one op of ``req`` processes."""
        raise NotImplementedError

    def label(self, req: dict) -> str:
        return json.dumps(req, sort_keys=True)

    def order(self, seed: int) -> list:
        """The seeded op order (indices into ``requests``); the warm-up and
        every timed cycle follow it."""
        rng = np.random.default_rng([seed, 99])
        return [int(i) for i in rng.permutation(len(self.requests))]

    def reset(self) -> None:
        """Restore state an op cycle changed (untimed)."""


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def spark_confs(work: str, cores: int) -> dict:
    """Every Spark conf the benchmark sets (recorded in the run record)."""
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": "1g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the aggregates here are small: one reduce task per shuffle
        "spark.sql.shuffle.partitions": "1",
        "spark.sql.adaptive.enabled": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.session.timeZone": "UTC",
    }


def start_session(confs: dict):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in confs.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> Optional[int]:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop Spark, shut the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone
            pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# peak RSS of the Python driver plus its JVM child, sampled from /proc
# ---------------------------------------------------------------------------

def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(c) for c in f.read().split()]
            except OSError:
                kids = []
            out.extend(kids)
            todo.extend(kids)
    return out


class RssSampler:
    """Samples VmRSS of this process plus the JVM and its descendants every
    ``period`` seconds; ``peak_mb`` is the largest sum seen.  Helper
    processes of the benchmark itself are not counted.
    ``getrusage(RUSAGE_CHILDREN)`` only covers children that have exited,
    so it cannot see a live JVM.

    A child the JVM has spawned but that has not yet exec'd reports the
    JVM's whole resident set as its own: the JVM starts helper processes
    (Hadoop's ``chmod`` on every file it writes) through ``posix_spawn``,
    whose child shares the JVM's address space until it execs.  So
    descendants still running the JVM's executable are skipped; counting
    them added 0.4-0.9 GB to a sample now and then."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_kb = 0
        self.jvm_pid: Optional[int] = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> None:
        pids = [os.getpid()]
        if self.jvm_pid is not None:
            jvm = _exe(self.jvm_pid)
            pids += [self.jvm_pid, *(p for p in _descendants(self.jvm_pid)
                                     if _exe(p) != jvm)]
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# tracer: spans + counters at each layer boundary, seen from outside
# ---------------------------------------------------------------------------

@dataclass
class Span:
    name: str  # layer-qualified, e.g. "plans.histogram.histogram"
    kind: str  # "op" | "build" | "plan" | "exec"
    op_id: int
    span_id: int
    parent: Optional[int]
    start: float
    end: float = 0.0
    py4j: int = 0
    jobs: list = field(default_factory=list)  # JobStat
    gc_ms: float = 0.0
    notes: dict = field(default_factory=dict)  # workload-measured ratios


@dataclass
class JobStat:
    job_id: int
    start: float  # epoch seconds (status store, ms resolution)
    end: float
    stages: int
    tasks: int
    failed_tasks: int
    shuffle_write_bytes: int


class Tracer:
    """Brackets every call the benchmark makes into the program.

    Untraced (``enabled=False``) every bracket is a plain call, so the
    timed path is exactly what a user runs.  Traced, each bracket records
    a span, the py4j round trips made inside it (by wrapping the gateway
    client's ``send_command``), the Spark jobs it launched (a job group
    per bracket, resolved through the app status store) and JVM GC time.
    The tracer's own py4j traffic is excluded from the counts."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self._py4j = 0
        self._mute = 0
        self._client = self.sc._gateway._gateway_client
        self._send = self._client.send_command

        def counting_send(*a, **kw):
            if self._mute == 0:
                self._py4j += 1
            return self._send(*a, **kw)

        self._counting_send = counting_send
        self._jvm = self.sc._jvm
        self._jsc = self.sc._jsc

    def set_traced(self, on: bool) -> None:
        """Turn tracing on or off; off, no wrapper stays on the py4j path."""
        self.enabled = on
        self._client.send_command = self._counting_send if on else self._send

    # -- JVM-side reads, excluded from py4j counts --
    def _quiet(self, fn: Callable[[], Any]) -> Any:
        self._mute += 1
        try:
            return fn()
        finally:
            self._mute -= 1

    def _gc_ms(self) -> float:
        def read():
            beans = self._jvm.java.lang.management.ManagementFactory \
                .getGarbageCollectorMXBeans()
            return float(sum(b.getCollectionTime() for b in beans))
        return self._quiet(read)

    def _set_group(self, group: Optional[str]) -> None:
        def setg():
            if group is None:
                self._jsc.clearJobGroup()
            else:
                self._jsc.setJobGroup(group, group, False)
        self._quiet(setg)

    def _resolve_jobs(self, group: str) -> list[JobStat]:
        def read():
            sc = self._jsc.sc()
            sc.listenerBus().waitUntilEmpty()
            store = sc.statusStore()
            out = []
            for jid in self.sc.statusTracker().getJobIdsForGroup(group):
                j = store.job(jid)
                st, en = j.submissionTime(), j.completionTime()
                stage_ids = j.stageIds()
                shuffle = 0
                for i in range(stage_ids.size()):
                    for sd in _seq(store.stageData(
                            stage_ids.apply(i), False,
                            getattr(store, "stageData$default$3")(), False,
                            getattr(store, "stageData$default$5")())):
                        shuffle += sd.shuffleWriteBytes()
                out.append(JobStat(
                    job_id=jid,
                    start=st.get().getTime() / 1e3 if st.isDefined() else 0.0,
                    end=en.get().getTime() / 1e3 if en.isDefined() else 0.0,
                    stages=j.numCompletedStages() + j.numSkippedStages()
                    + j.numFailedStages(),
                    tasks=j.numTasks(),
                    failed_tasks=j.numFailedTasks(),
                    shuffle_write_bytes=shuffle,
                ))
            return out
        return self._quiet(read)

    # -- brackets --
    def _open(self, name: str, kind: str, op_id: int) -> Span:
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(name, kind, op_id, self._next_id, parent, 0.0)
        self._next_id += 1
        self._set_group(f"pb{sp.span_id}")
        sp.gc_ms = -self._gc_ms()
        sp.py4j = -self._py4j
        self._stack.append(sp)
        sp.start = time.time()
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack.pop()
        sp.py4j += self._py4j
        sp.gc_ms += self._gc_ms()
        sp.jobs = self._resolve_jobs(f"pb{sp.span_id}")
        self._set_group(f"pb{self._stack[-1].span_id}" if self._stack else None)
        self.spans.append(sp)

    def call(self, name: str, kind: str, fn: Callable, *args, **kw):
        """Run ``fn(*args, **kw)`` inside a span ``name`` of ``kind``."""
        if not self.enabled:
            return fn(*args, **kw)
        sp = self._open(name, kind, self._stack[0].op_id)
        try:
            return fn(*args, **kw)
        finally:
            self._close(sp)

    def note(self, name: str, value: float) -> None:
        """Attach a workload-measured per-op value to the current op."""
        if self.enabled and self._stack:
            self._stack[0].notes[name] = value

    def plan(self, df) -> None:
        """Force Catalyst analysis, optimization and physical planning of
        ``df`` (traced only: untraced, planning happens inside the exec
        call, as it does for a user)."""
        if self.enabled:
            self.call("catalyst.plan", "plan",
                      lambda: df._jdf.queryExecution().executedPlan())

    @contextlib.contextmanager
    def op(self, op_id: int):
        """The root span of one op; every bracket inside belongs to it."""
        if not self.enabled:
            yield
            return
        sp = self._open("op", "op", op_id)
        try:
            yield
        finally:
            self._close(sp)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


# ---------------------------------------------------------------------------
# per-layer summaries of one op's spans
# ---------------------------------------------------------------------------

def union_ms(intervals: list[tuple[float, float]]) -> float:
    tot, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                tot += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        tot += cur_e - cur_s
    return tot * 1e3


def dur_ms(sp: Span) -> float:
    return (sp.end - sp.start) * 1e3


def job_ms(spans: list[Span]) -> float:
    """Wall time covered by Spark jobs launched inside ``spans``."""
    return union_ms([(j.start, j.end) for sp in spans for j in sp.jobs
                     if j.end >= j.start > 0])


def median(xs: list[float]) -> float:
    return float(np.median(np.asarray(xs, dtype=float))) if xs else 0.0


# ---------------------------------------------------------------------------
# checksums
# ---------------------------------------------------------------------------

def checksum(obj) -> str:
    """Exact digest of a handed-off result (NumPy array, pandas frame,
    list of rows, or a tuple/dict of those)."""
    h = hashlib.sha256()
    _feed(h, obj)
    return h.hexdigest()[:24]


def _feed(h, obj) -> None:
    import pandas as pd

    if isinstance(obj, np.ndarray):
        h.update(repr((obj.dtype.str, obj.shape)).encode())
        if obj.dtype == object:  # bytes of an object array are pointers
            h.update(repr(obj.tolist()).encode())
        else:
            h.update(np.ascontiguousarray(obj).tobytes())
    elif isinstance(obj, pd.DataFrame):
        h.update(repr(list(obj.columns)).encode())
        for c in obj.columns:
            _feed(h, obj[c].to_numpy())
    elif isinstance(obj, dict):
        for k in sorted(obj):
            h.update(repr(k).encode())
            _feed(h, obj[k])
    elif isinstance(obj, (list, tuple)):
        h.update(b"[")
        for x in obj:
            _feed(h, x)
        h.update(b"]")
    else:
        h.update(repr(obj).encode())


# ---------------------------------------------------------------------------
# run conditions (recorded only; never used to drop, retry or rescale)
# ---------------------------------------------------------------------------

def git_commit(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
        )
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def cpu_ticks() -> dict:
    """Cumulative CPU time of the machine by state, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"busy": sum(v[:3]) + sum(v[4:7]), "idle": v[3], "steal": v[7]}


def loadavg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return []
