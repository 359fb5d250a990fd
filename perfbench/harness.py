"""Run-time plumbing shared by the workloads: the hermetic environment,
the SparkSession lifecycle (cold starts included), process-tree memory
sampling, host facts, spans and Spark's own job/stage counters."""

from __future__ import annotations

import os
import signal
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TICK = os.sysconf("SC_CLK_TCK")
# untimed load before each measurement: after a cold start the JVM is
# still compiling the hot paths, and dashboard request latency falls ~3x
# over the first ~15 s of traffic on a 4-core host
WARM_S = 20.0
SMALL_WARM_S = 3.0  # the smoke test's tiny inputs


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """Driver heap for a local-mode session: a quarter of physical
    memory, capped at 4 GiB (local mode runs every task in this heap)."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{min(4096, total_kb // 4096)}m"


def hermetic_env(tmp: str, traced: bool) -> None:
    """Point every scratch location Spark, the JVM and Python use at
    ``tmp`` and make the package importable from any worker.  A traced
    run keeps every job and stage in the status store, so the per-group
    counters can still find them at the end."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    retained = "100000" if traced else "1000"
    os.environ.pop("SPARK_GRAFT_CACHE_TABLES", None)  # measure the default read path
    os.environ.update(
        {
            "PYTHONDONTWRITEBYTECODE": "1",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "TMPDIR": os.path.join(tmp, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
            "SPARK_GRAFT_CPUS": str(nproc()),
            "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
                    f"--conf spark.ui.retainedJobs={retained}",
                    f"--conf spark.ui.retainedStages={retained}",
                    "pyspark-shell",
                ]
            ),
        }
    )


# --------------------------------------------------------------------------
# session lifecycle
# --------------------------------------------------------------------------


def start_session(first_query) -> tuple[object, float, float]:
    """Cold-start a session through ``get_spark`` and run
    ``first_query(spark)``.  Returns (spark, start_s, setup_s): the
    ``get_spark`` call alone, and ``get_spark`` through the first
    finished query."""
    from market_insights_app_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    first_query(spark)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t0


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds() -> float:
    """CPU time (user + system, own and reaped children's) of this
    process and every descendant: the driver, its JVM and the Python
    workers.  Stolen time is not in it."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop the session AND its JVM, and wait until every process the
    session started has ended, so the next start is a cold one."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - escalate below
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    reap(procs)


def reap(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for p in pids:  # collect our own zombies
        try:
            os.waitpid(p, os.WNOHANG)
        except ChildProcessError:
            pass


# --------------------------------------------------------------------------
# memory and host facts
# --------------------------------------------------------------------------


# HotSpot's JIT compiler threads, by the 15-character thread name Linux keeps
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _task_cpu(pid: int, tid: str) -> tuple[str, float]:
    with open(f"/proc/{pid}/task/{tid}/stat") as fh:
        st = fh.read()
    name = st[st.index("(") + 1 : st.rindex(")")]
    f = st.rsplit(")", 1)[1].split()
    return name, (int(f[11]) + int(f[12])) / _TICK


class TreeSampler:
    """Samples this process's descendants (the driver JVM and the Python
    workers it forks) on a thread: peak memory, counting each process's
    proportional set size so pages the forked workers share count once,
    and the CPU time of the JVM's JIT compiler threads.  Compiler
    threads come and go, so each one's CPU is tracked while it lives."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_bytes = 0
        self._jit: dict[tuple[int, str], float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        total = 0
        with self._lock:
            for pid in descendants(os.getpid()):
                try:
                    with open(f"/proc/{pid}/smaps_rollup") as fh:
                        total += next(int(line.split()[1]) * 1024 for line in fh
                                      if line.startswith("Pss:"))
                    tids = os.listdir(f"/proc/{pid}/task")
                except (OSError, StopIteration):
                    continue
                for tid in tids:
                    try:
                        name, cpu = _task_cpu(pid, tid)
                    except (OSError, ValueError):
                        continue
                    if name.startswith(JIT_THREADS):
                        self._jit[(pid, tid)] = max(cpu, self._jit.get((pid, tid), 0.0))
            self.peak_bytes = max(self.peak_bytes, total)

    def jit_seconds(self) -> float:
        """CPU time the JIT compiler threads have used so far."""
        self.sample()
        with self._lock:
            return sum(self._jit.values())

    def work_cpu_seconds(self) -> float:
        """``cpu_seconds()`` less JIT compilation: the CPU the process
        tree spends on the work itself, a warm-up artifact removed."""
        return cpu_seconds() - self.jit_seconds()

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    steal = f[7] if len(f) > 7 else 0
    return sum(f[:8]), steal


class HostProbe:
    """Load average and CPU steal over the run, so a noisy host shows
    up in the run's own record."""

    def __init__(self):
        self.start_load = os.getloadavg()[0]
        self._j0 = _cpu_jiffies()

    def finish(self) -> dict:
        total, steal = _cpu_jiffies()
        d_total = max(1, total - self._j0[0])
        return {
            "loadavg_1m_start": self.start_load,
            "loadavg_1m_end": os.getloadavg()[0],
            "steal_pct": 100.0 * (steal - self._j0[1]) / d_total,
        }


def session_facts(spark) -> dict:
    import platform

    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "nproc": nproc(),
        "master": conf.get("spark.master"),
        "driver_memory": conf.get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "python_version": platform.python_version(),
    }


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------

LAYERS = ("session", "sources", "operators", "plans", "pipelines", "storage", "streaming")


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    req: str | None = None


@dataclass
class Tracer:
    """In-memory spans around the benchmark's calls into each layer.
    Disabled, ``span`` is a no-op context and records nothing."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)

    def span(self, layer: str, name: str, req: str | None = None):
        return _SpanCtx(self, layer, name, req) if self.enabled else _NULL

    def self_ms(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part its
        children cover (children of one span run on its thread, so
        they do not overlap)."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_ms[s.parent] = child_ms.get(s.parent, 0.0) + (s.end - s.start) * 1e3
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) * 1e3 - child_ms.get(
                s.span_id, 0.0
            )
        return out

    def durations_ms(self, name: str) -> list[float]:
        return [(s.end - s.start) * 1e3 for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str, req: str | None):
        self.t, self.layer, self.name, self.req = tracer, layer, name, req

    def __enter__(self):
        stack = getattr(self.t._local, "stack", None)
        if stack is None:
            stack = self.t._local.stack = []
        parent = stack[-1] if stack else None
        with self.t._lock:
            sid = len(self.t.spans)
            self.s = Span(
                sid, self.name, self.layer, time.perf_counter(),
                parent=parent.span_id if parent else None,
                req=self.req or (parent.req if parent else None),
            )
            self.t.spans.append(self.s)
        stack.append(self.s)
        return self.s

    def __exit__(self, *exc):
        self.s.end = time.perf_counter()
        self.t._local.stack.pop()


class _NullCtx:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return None


_NULL = _NullCtx()


# --------------------------------------------------------------------------
# Spark's own counters
# --------------------------------------------------------------------------

STAGE_FIELDS = (
    "numTasks", "executorRunTime", "jvmGcTime", "memoryBytesSpilled",
    "diskBytesSpilled", "inputBytes", "inputRecords", "shuffleWriteBytes",
)


class StageCounters:
    """Jobs, tasks and per-stage task metrics of one job group, read
    from ``statusTracker()`` and the JVM status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def flush(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the group's finished stages."""
        self._bus.waitUntilEmpty()

    def group(self, group_id: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group_id))
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = {"jobs": len(jobs), "stages": len(stages)}
        for f in STAGE_FIELDS:
            out[f] = 0
        for sid in stages:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stages have no attempt
                continue
            for f in STAGE_FIELDS:
                out[f] += int(getattr(sd, f)())
        return out


def add_counts(total: dict, part: dict) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v


def spark_layer_counts(totals: dict, units: int, wall_s: float) -> dict:
    """session and sources counters per operation (a request, a merged
    micro-batch or a build), from the stage metrics summed over the
    traced operations."""
    n = max(1, units)
    return {
        "session.jobs_per_op": totals.get("jobs", 0) / n,
        "session.tasks_per_op": totals.get("numTasks", 0) / n,
        "session.busy_share": totals.get("executorRunTime", 0) / (wall_s * 1e3 * nproc()),
        "session.gc_ms": totals.get("jvmGcTime", 0) / n,
        "session.spill_mb": (totals.get("memoryBytesSpilled", 0)
                             + totals.get("diskBytesSpilled", 0)) / 1e6 / n,
        "sources.input_rows": totals.get("inputRecords", 0) / n,
        "sources.input_mb": totals.get("inputBytes", 0) / 1e6 / n,
        "session.shuffle_write_mb": totals.get("shuffleWriteBytes", 0) / 1e6 / n,
    }
