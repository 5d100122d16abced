"""Shared machinery of the benchmark: environment pinning, the Spark
session, the tracer that times calls into each layer, Spark job
accounting, result checks against DuckDB, and summary statistics.

Everything here runs inside the benchmark process; nothing patches the
program's files. Tracing wraps the program's public functions at run
time and only when a run asks for it, so an untraced run executes the
program exactly as a caller would.
"""

from __future__ import annotations

import contextlib
import math
import os
import signal
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable


# ------------------------------------------------------------ environment

def pin_env(root: str, work: str, seed: int) -> dict:
    """Fix the knobs that change Spark's behaviour between hosts and
    keep every file the run writes inside ``work``. Returns the values
    as recorded in the run's output."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    # the session's 16g default can exceed physical memory; a quarter
    # of RAM, capped at 4g, holds every workload's data several times
    driver_mem_mb = max(1024, min(4096, mem_kb // 1024 // 4))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_mb}m",
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # Python workers (mapInArrow kernels, the tail data source)
            # import the program from the checkout
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
        }
    )
    return {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "seed": seed,
        "load1_at_start": os.getloadavg()[0],
        "mem_total_mb": mem_kb // 1024,
    }


def start_session():
    from zestdb_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM and the JVM's Python workers
    have ended; kill whatever is still alive after a grace period."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = _descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    alive = started
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for p in alive:
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids: list[int] = []
        with contextlib.suppress(OSError):
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    kids += [int(k) for k in f.read().split()]
        out += kids
        todo += kids
    return out


def peak_rss_mb() -> float:
    """Sum of ``VmHWM`` over this process and its descendants (the JVM
    and any live Python workers), in MiB."""
    total_kb = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        with contextlib.suppress(OSError, StopIteration):
            with open(f"/proc/{pid}/status") as f:
                line = next(l for l in f if l.startswith("VmHWM"))
            total_kb += int(line.split()[1])
    return total_kb / 1024.0


# ------------------------------------------------------------- statistics

def pct(values: "list[float]", q: float) -> float:
    """The ``q``-th percentile (0-100) by linear interpolation between
    closest ranks."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q / 100.0
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def med(values) -> float:
    v = list(values)
    return statistics.median(v) if v else 0.0


#: time charged to a failed operation: longer than any operation of
#: these workloads takes, so a failure misses every latency limit while
#: every reported figure stays a finite number
FAILED_OP_S = 60.0


@dataclass
class Op:
    """One timed operation of a workload."""

    kind: str
    seconds: float
    ok: bool = True
    traced: bool = False

    def charged(self) -> float:
        return self.seconds if self.ok else max(FAILED_OP_S, self.seconds)


@dataclass
class Outcome:
    """What a workload hands back to the runner."""

    ops: "list[Op]"
    measured_s: float
    setup_s: float
    #: one kind's representative time from its operations' times
    kind_stat: "Callable[[list[float]], float]" = med
    checks_attempted: int = 0
    checks_failed: int = 0
    failures: "list[str]" = field(default_factory=list)
    per_layer: "dict[str, float]" = field(default_factory=dict)
    detail: "dict[str, Any]" = field(default_factory=dict)


class Checks:
    """Counts output checks and keeps the first few failure messages."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.messages) < 20:
                self.messages.append(what)
        return ok


# ----------------------------------------------------------------- tracing

class Tracer:
    """In-memory spans ``(id, name, start, end, parent, op)``. Disabled
    tracers record nothing and patch nothing. An enabled tracer records
    only while ``on``: a traced run switches it off for every other
    operation, so the run's untraced operations give the reference for
    the tracer's overhead.

    Parents come from a per-thread span stack. A span opened with an
    empty stack on another thread (the server's request thread) takes
    the client's open round-trip span as its parent, so one request's
    spans form one tree across the socket."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []
        self.op: "int | None" = None
        self.remote_parent: "int | None" = None
        self.on = enabled
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> "int | None":
        """Id of this thread's innermost open span."""
        st = self._stack() if self.enabled else None
        return st[-1] if st else None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        st = self._stack()
        parent = st[-1] if st else self.remote_parent
        with self._lock:
            sid = len(self.spans)
            self.spans.append(None)
        st.append(sid)
        op = self.op
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            st.pop()
            self.spans[sid] = (sid, name, start, end, parent, op)

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        before: "Callable[[], None] | None" = None,
        after: "Callable[[Any], None] | None" = None,
    ) -> None:
        """Replace ``owner.attr`` by a spanned call. ``before()`` runs on
        every call of a traced run; the span and ``after(result)`` only
        while the tracer is on."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            if before is not None:
                before()
            if not tracer.on:
                return orig(*a, **kw)
            with tracer.span(name):
                out = orig(*a, **kw)
            if after is not None:
                after(out)
            return out

        traced.__wrapped__ = orig
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---- span queries
    def done(self) -> "list[tuple]":
        return [s for s in self.spans if s is not None]

    def durations(self, name: str, ops: "set | None" = None) -> "list[float]":
        return [
            s[3] - s[2]
            for s in self.done()
            if s[1] == name and (ops is None or s[5] in ops)
        ]

    def self_times(self, name: str, ops: "set | None" = None) -> "list[float]":
        """Per span named ``name``: its duration minus its children's."""
        done = self.done()
        child: dict[int, float] = {}
        for s in done:
            if s[4] is not None:
                child[s[4]] = child.get(s[4], 0.0) + (s[3] - s[2])
        return [
            (s[3] - s[2]) - child.get(s[0], 0.0)
            for s in done
            if s[1] == name and (ops is None or s[5] in ops)
        ]

    def dump(self, path: str, extra: dict) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "fields": ["id", "name", "start", "end", "parent", "op"],
                    "spans": self.done(),
                    **extra,
                },
                f,
            )


class JobCounter:
    """Spark jobs and tasks per operation, through one job group per op
    and the status tracker. Job groups are thread-local, so a caller on
    another thread (the server) calls :meth:`enter` itself."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled

    def enter(self, op: int) -> None:
        if self.enabled:
            self.sc.setJobGroup(f"perfbench-{op}", f"op {op}")

    def collect(self, op: int) -> "tuple[int, int]":
        """(jobs, tasks) run under ``op``'s group so far."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(f"perfbench-{op}")
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                sinfo = st.getStageInfo(sid)
                tasks += sinfo.numTasks if sinfo else 0
        return len(jobs), tasks


# -------------------------------------------------------- result checking

def _as_tuple(v):
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_as_tuple(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _as_tuple(x)) for k, x in v.items()))
    return v


def _normalize(pdf) -> list:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.astype(object).where(pdf.notnull(), None)
    rows = [tuple(_as_tuple(v) for v in r) for r in pdf.itertuples(index=False, name=None)]
    return sorted(rows, key=lambda t: tuple((v is None, str(v)) for v in t))


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb or abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return a == b


def frames_match(spark_pdf, oracle_pdf) -> "tuple[bool, str]":
    """Same columns, same row count, same rows in any order; floats equal
    to 1e-9 relative (summation order may differ between engines)."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return False, f"columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return False, f"rows {len(spark_pdf)} != {len(oracle_pdf)}"
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    for ra, rb in zip(a, b):
        if not all(_close(x, y) for x, y in zip(ra, rb)):
            return False, f"row {ra!r} != {rb!r}"[:300]
    return True, ""


def duckdb_over(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'"
            )
    return con
