"""Measurement core: engine set-up, spans, Spark job statistics, memory.

Everything here observes the engine from outside. The engine is only
entered through its public functions (``session.get_spark``, the query
registry, ``sources.batch.load_table``, ``caching.release_caches`` and
the ``streaming.price_alerts`` runners); a traced run wraps those
functions in spans before the registry is imported, an untraced run
leaves them alone.
"""

from __future__ import annotations

import contextlib
import functools
import gc
import glob
import hashlib
import json
import os
import platform
import signal
import subprocess
import sys
import threading
import time
from collections import defaultdict

PKG = "kafka_streams_homework_spark"
# Driver heap for the bench's small inputs (Spark's default size), fixed
# (initial = max) and touched in full at JVM start: a heap the JVM may
# grow -- to the engine's default 8g, or from a small initial size -- or
# whose pages GC touches as it goes makes peak memory follow GC timing,
# not the work. peak_rss_mb is this size plus the memory outside the
# heap.
DRIVER_MEM = "1g"


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent, query), kept in memory and written
    out once the run ends. A disabled tracer records nothing and costs
    one attribute test per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._next_id = 0
        self._lock = threading.Lock()
        self.query: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack.__dict__.setdefault("ids", [])
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end,
                     "parent": parent, "query": self.query}
                )

    def wrap(self, fn, name: str):
        """``fn`` with every call recorded as span ``name``."""

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ---------------------------------------------------------------------------
# Spark job statistics (status tracker + status store)
# ---------------------------------------------------------------------------


class JobStats:
    """Per job-group totals read from the driver's status store.

    The store is fed asynchronously by the listener bus, so ``read``
    first waits for the bus to drain. Only a traced run reads it.
    """

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._tracker = spark.sparkContext.statusTracker()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def read(self, group: str) -> dict:
        self._bus.waitUntilEmpty()
        out = defaultdict(float)
        intervals = []
        for jid in self._tracker.getJobIdsForGroup(group):
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            out["jobs"] += 1
            sids = job.stageIds()
            for i in range(sids.size()):
                try:
                    st = self._store.lastStageAttempt(sids.apply(i))
                except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                    continue
                if str(st.status().toString()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["task_s"] += st.executorRunTime() / 1000.0
                out["input_mb"] += st.inputBytes() / 2**20
                out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        out["intervals"] = intervals
        return out


# ---------------------------------------------------------------------------
# Memory: summed PSS of the engine's processes
# ---------------------------------------------------------------------------


class MemorySampler:
    """Samples the summed proportional set size (PSS) of this process --
    the PySpark driver, with the bench's own state -- and the engine's
    processes below it: the JVM this process launched and the Python
    workers the JVM forks, every ``interval_s``. PSS splits each shared
    page among the processes that map them, so forked workers are not
    counted once per copy of their parent's pages. ``peak_mb`` is the
    peak above this process's PSS when sampling began, which leaves out
    the interpreter and the generated inputs: start it once the inputs
    are written and freed, and run the oracles after it stops."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.own_cpu_s = 0.0  # this sampler thread's CPU time
        self.probes: list[tuple[float, float]] = []  # (time, speed_probe())
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        gc.collect()
        self.base_kb = pss_kb(os.getpid())
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()
            self.probes.append((time.time(), speed_probe()))
            self.own_cpu_s = time.thread_time()

    def sample(self) -> None:
        # A child the JVM spawns (posix_spawn, a vfork) runs in the JVM's
        # memory until it execs, showing the JVM's virtual size and
        # resident pages exactly; counting it would count the JVM twice.
        me = os.getpid()
        procs = processes()
        kids = {
            p for p in descendants(me, procs)
            if procs[p][1] != procs.get(procs[p][0], (0, (0, 0), 0))[1]
        }
        total_kb = sum(pss_kb(pid) for pid in kids | {me})
        self.peak_mb = max(self.peak_mb, (total_kb - self.base_kb) / 1024)


# ---------------------------------------------------------------------------
# CPU time of the engine's processes
# ---------------------------------------------------------------------------

CLK_TCK = os.sysconf("SC_CLK_TCK")


class CpuMeter:
    """CPU seconds used so far by this process -- the PySpark driver --
    and every process below it: the JVM and the Python workers it forks,
    with the workers that already exited and were reaped. The memory
    sampler's own thread is left out.

    The kernel charges a task only for the time it ran: time it spent
    waiting for a CPU is not counted, nor, in a guest whose kernel does
    paravirtual steal-time accounting (``CONFIG_PARAVIRT_TIME_ACCOUNTING``,
    usual on KVM), time the hypervisor stole from the virtual CPU. So on
    a shared host the CPU time of a piece of work varies less from run to
    run than its wall time, which stretches by a multiple of the stolen
    share when the work is a chain of short hand-offs between threads and
    processes; it still grows somewhat when the host is loaded.

    ``read`` splits the total into the JIT compiler threads' share and the
    rest. The JVM compiles on those threads in the background, in an order
    and at a time its queue decides, so which query or micro-batch a
    compilation lands in varies from run to run; a third of a warm
    stream's CPU time was compilation. The compiler threads are found
    once, by name; the JVM runs with a fixed set of them
    (``-XX:-UseDynamicNumberOfCompilerThreads``, see ``engine_env``), so
    none exits and takes its time into the process total."""

    def __init__(self, sampler: "MemorySampler | None" = None):
        self.sampler = sampler
        self._jit: dict[str, int] = {}  # compiler thread's stat path -> ticks

    def read(self) -> tuple[float, float]:
        """(CPU seconds outside the JIT compiler, CPU seconds compiling)."""
        me = os.getpid()
        procs = processes()
        kids = descendants(me, procs)
        if not self._jit:
            self._find_compilers(kids)
        for path in self._jit:
            try:
                with open(path) as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
                self._jit[path] = int(f[11]) + int(f[12])
            except (OSError, IndexError, ValueError):
                pass  # the JVM has exited: keep the last reading
        own = self.sampler.own_cpu_s if self.sampler is not None else 0.0
        jit = sum(self._jit.values()) / CLK_TCK
        total = sum(procs[p][2] for p in kids | {me} if p in procs) / CLK_TCK
        return total - own - jit, jit

    def _find_compilers(self, pids) -> None:
        for pid in pids:
            for comm in glob.glob(f"/proc/{pid}/task/*/comm"):
                try:
                    with open(comm) as fh:
                        name = fh.read().strip()
                except OSError:
                    continue
                if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    self._jit[comm[: -len("comm")] + "stat"] = 0


_PROBE_BUF = bytes(range(256)) * 4096  # 1 MiB


def speed_probe() -> float:
    """CPU milliseconds this thread takes to hash a fixed 4 MiB: the same
    instructions every time, so it reads how fast the host runs them right
    now (another guest on the same core or cache slows them)."""
    c0 = time.thread_time()
    for _ in range(4):
        hashlib.sha256(_PROBE_BUF).digest()
    return (time.thread_time() - c0) * 1e3


def pss_kb(pid: int) -> int:
    """PSS of one process in KiB; 0 once it has exited."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            return next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
    except (OSError, StopIteration, ValueError):
        return 0


def processes() -> dict[int, tuple[int, tuple[int, int], int]]:
    """pid -> (parent pid, (virtual size, resident pages), CPU clock ticks
    of the process and its reaped children) from /proc."""
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
            out[int(stat.split("/")[2])] = (int(f[1]), (int(f[20]), int(f[21])), ticks)
        except (OSError, IndexError, ValueError):
            continue  # the process has exited
    return out


def descendants(pid: int, procs=None) -> set[int]:
    """Every live process below ``pid``."""
    procs = processes() if procs is None else procs
    family = {pid}
    while kids := {p for p, (pp, *_) in procs.items() if pp in family} - family:
        family |= kids
    return family - {pid}


# ---------------------------------------------------------------------------
# Engine set-up and tear-down
# ---------------------------------------------------------------------------


class StderrLog:
    """Sends file descriptor 2 -- this process's and, once launched, the
    JVM's -- to a log file, so ERROR lines can be counted and a failed
    run can show its tail."""

    def __init__(self, path: str):
        self.path = path
        self._saved = None

    def __enter__(self):
        sys.stderr.flush()
        self._saved = os.dup(2)
        fd = os.open(self.path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)
        return self

    def __exit__(self, *exc):
        sys.stderr.flush()
        os.dup2(self._saved, 2)
        os.close(self._saved)

    def error_lines(self) -> int:
        with open(self.path, errors="replace") as fh:
            return sum(1 for line in fh if " ERROR " in line)

    def tail(self, n: int = 40) -> str:
        with open(self.path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])


def engine_env(root: str, work: str, cpus: int) -> None:
    """Environment for the engine and its workers, before the JVM starts.

    Python workers import the package from the checkout root, and every
    scratch file the engine, Spark and the JVM write lands under
    ``work`` -- nothing outside the checkout. The JVM keeps its JIT
    compiler threads for its whole life, so ``CpuMeter`` can tell their
    CPU time apart.
    """
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch '
        '-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads" '
        "pyspark-shell"
    )
    os.environ["TZ"] = "UTC"
    time.tzset()


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the engine's public layer entry points in spans.

    Must run before the query registry is imported: the query modules
    bind ``load_table`` and ``tracked_checkpoint`` by name at import.
    """
    import importlib

    batch = importlib.import_module(f"{PKG}.sources.batch")
    caching = importlib.import_module(f"{PKG}.caching")
    runners = importlib.import_module(f"{PKG}.streaming.price_alerts")
    package = importlib.import_module(f"{PKG}.streaming")  # re-exports runners
    batch.load_table = tracer.wrap(batch.load_table, "sources.load")
    caching.tracked_checkpoint = tracer.wrap(caching.tracked_checkpoint, "caching.checkpoint")
    for name in ("run_upsert", "run_append", "run_replace", "run_batch_transform"):
        wrapped = tracer.wrap(getattr(runners, name), "streaming.runner")
        for mod in (runners, package):
            if hasattr(mod, name):
                setattr(mod, name, wrapped)


def stop_engine(spark) -> None:
    """Stop the session and the JVM behind it, and wait until it exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # Python workers exit with the JVM: wait for them, and kill any that
    # outlive it
    deadline = time.time() + 10
    while (left := descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.1)
    for pid in left:
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)
    while descendants(os.getpid()) and time.time() < deadline + 5:
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# Run description
# ---------------------------------------------------------------------------


def source_digest(root: str) -> str:
    """sha256 over the engine's source files -- identifies the program
    even where the checkout is not a git repository."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, PKG, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies summed over all CPUs."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, idle, iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq, steal, sum(f)


def cpu_share(since: tuple[int, int, int]) -> dict[str, float]:
    """Share of all CPUs busy, and stolen by the hypervisor, since the
    ``cpu_ticks()`` reading ``since``."""
    b0, s0, t0 = since
    b1, s1, t1 = cpu_ticks()
    total = max(1, t1 - t0)
    return {"busy": (b1 - b0) / total, "steal": (s1 - s0) / total}


def cpu_busy(interval_s: float = 0.5) -> dict[str, float]:
    """CPU use over a short window before the run. Unlike the load
    average this does not lag: a run that just ended does not make the
    box look loaded."""
    since = cpu_ticks()
    time.sleep(interval_s)
    return cpu_share(since)


def steal_accounting() -> bool | None:
    """Whether the kernel leaves time stolen by the hypervisor out of the
    tasks' CPU time (None when its configuration cannot be read)."""
    import gzip

    try:
        with gzip.open("/proc/config.gz", "rt") as fh:
            return any(line.strip() == "CONFIG_PARAVIRT_TIME_ACCOUNTING=y" for line in fh)
    except OSError:
        return None


BUSY_LIMIT = 0.25
STEAL_LIMIT = 0.10


def describe_run(root: str, args, cpus: int, load_start, load_end, busy: dict,
                 during: dict, extra: dict) -> dict:
    """What ran, where, and whether the run may serve as a baseline.

    A run whose engine parallelism differs from the cores it has, or
    that started on a loaded box -- other work keeping more than a
    quarter of the CPUs busy, or the hypervisor stealing more than a
    tenth -- or that lost more than a tenth of its CPU time to the
    hypervisor while it ran, is flagged; ``baseline_ok`` is false for it. The load
    averages are recorded, not judged: they lag, and the one at the end
    includes the run's own load."""
    import pyspark

    nproc = len(os.sched_getaffinity(0))
    flags = []
    if cpus != nproc:
        flags.append(f"SPARK_GRAFT_CPUS={cpus} != nproc={nproc}")
    if busy["busy"] > BUSY_LIMIT:
        flags.append(f"loaded at start: {busy['busy']:.0%} of the CPUs busy")
    if busy["steal"] > STEAL_LIMIT:
        flags.append(f"loaded at start: {busy['steal']:.0%} of the CPU time stolen")
    if during["steal"] > STEAL_LIMIT:
        flags.append(f"loaded host: {during['steal']:.0%} of the CPU time stolen during the run")
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "spark_graft_cpus": cpus,
        "git_sha": git_sha(root),
        "source_digest": source_digest(root),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "cpu_at_start": busy,
        "cpu_during_run": during,
        "cpu_time_excludes_steal": steal_accounting(),
        "flags": flags,
        "baseline_ok": not flags,
        **extra,
    }
