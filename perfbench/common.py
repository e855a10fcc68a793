"""Shared plumbing for the benchmark: the box record, the Spark session,
the RSS sampler, state release between operations, and statistics.

Everything here lives outside the package under test and reaches it only
through its public functions and the environment that
``session.get_spark`` already reads.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_NAME = ".perfbench_work"


# ----------------------------------------------------------------- box

def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_probe_mops(reps: int = 3, n: int = 400_000) -> float:
    """Single-core probe: million pure-Python loop iterations per second,
    best of ``reps``.  Taken in the same process as the measurement so a
    slow or contended box shows next to the numbers it produced."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(n):
            acc = (acc + i * i) & 0xFFFF
        best = min(best, time.perf_counter() - t0)
    return n / best / 1e6


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` clock ticks of all CPUs so far, from
    ``/proc/stat``.  Steal is the time a virtual machine's CPUs were
    ready but the host ran something else: other tenants' load, which
    moves every timing of a run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def box_record() -> dict:
    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_total_mb(),
        "cpu_probe_mops": round(cpu_probe_mops(), 3),
    }


def heap_mb(mem_mb: int) -> int:
    """Driver heap sized from the box: a fifth of physical memory, kept
    between 1 GiB and 8 GiB.  In local mode the driver is the only
    executor, so this heap holds every task; the rest of the box is left
    to the Python workers, the page cache and other tenants."""
    return max(1024, min(8192, (mem_mb // 5) // 256 * 256))


# ------------------------------------------------------------- session

@dataclass
class Session:
    spark: object
    work: Path
    cores: int
    heap_mb: int
    start_s: float
    jvm_pid: int | None


def prepare_environment(work: Path, heap: int) -> None:
    """Point every scratch location of the JVM, Spark and the Python
    workers into ``work`` and size the heap, before the JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap}m"
    # A fixed heap (-Xms = -Xmx) keeps the collector from growing it in
    # timing-dependent steps, which made peak RSS wander between runs; it
    # is not pre-touched, which would cost set-up time and memory the box
    # shares.  -XX:-UsePerfData keeps the JVM from writing its perf file
    # outside the work directory.
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-Xms{heap}m -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        f"-Dderby.system.home={work / 'derby'}"
    )
    # The short-lived JVM spark-submit runs to build the command line.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_session(work: Path, app: str) -> Session:
    import tempfile

    cores = len(os.sched_getaffinity(0))
    heap = heap_mb(mem_total_mb())
    prepare_environment(work, heap)
    tempfile.tempdir = None  # re-read TMPDIR
    t0 = time.perf_counter()
    from crawler_apple_podcast_spark.session import get_spark

    spark = get_spark(
        app_name=app,
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.local.dir": str(work / "spark-local"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return Session(spark, work, cores, heap, start_s, proc.pid if proc else None)


def stop_session(sess: Session) -> None:
    """Stop Spark and wait for the JVM (and with it every Python worker
    it forked) to exit."""
    from pyspark import SparkContext

    sc = sess.spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    sess.spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # the gateway may already be closed
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def fresh_work_dir(tag: str) -> Path:
    work = ROOT / WORK_NAME / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    return work


def remove_work_dir(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        work.parent.rmdir()  # only when no other run shares it
    except OSError:
        pass


# ---------------------------------------------------------- RSS sampler

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it.  Summed over a tree, a page that a
    fork shares with its parent counts once, where RSS would count it in
    both (a JVM that forks a shell command would read as twice its size
    until the child execs)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    kids = _children_map()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += _pss_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total / 1024


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and every
    process below it.  A process that has exited is counted through its
    parent's ``cutime``/``cstime`` once the parent has reaped it.

    Unlike wall time, CPU time does not grow while a virtual machine's
    CPUs are stolen by other tenants, so it is the steadier measure of an
    operation's work on a shared box."""
    kids = _children_map()
    ticks, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        stack.extend(kids.get(pid, ()))
    return ticks * _TICK_S


class RssSampler:
    """Resident memory (as PSS) of the driver JVM plus every process it
    forks (the PySpark daemon and its Python workers), read from
    ``/proc`` by a thread of the benchmark's own process, which is
    outside that tree."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.samples: list[tuple[float, float]] = []  # (perf_counter, MB)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.samples.append((time.perf_counter(), tree_rss_mb(self.root_pid)))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def peak_within(self, windows) -> float:
        """Peak over the samples taken while an operation ran, so set-up
        and the output checks do not count."""
        return max(
            (mb for t, mb in self.samples if any(a <= t <= b for a, b in windows)),
            default=0.0,
        )


# ------------------------------------------------------- state release

def persisted_frames(spark) -> int:
    """Persisted RDDs that back a persisted DataFrame (the session cache
    names them after their plan).  Unnamed ones, such as the wave loop's
    local checkpoints, are left out: Spark drops those only after the JVM
    has collected the RDDs nothing references any more."""
    return sum(
        rdd.name() is not None
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values()
    )


def release_state(spark) -> int:
    """Drop what a long-lived crawler drops between operations: every
    module persist registry and the session cache; then collect garbage
    on both sides of the py4j bridge so unreferenced local checkpoints
    can be cleaned.  Returns ``persisted_frames`` afterwards."""
    from crawler_apple_podcast_spark.operators import similarity as S
    from crawler_apple_podcast_spark.operators.dedupe import release_dedupe_cache
    from crawler_apple_podcast_spark.operators.politeness import release_rank_cache
    from crawler_apple_podcast_spark.operators.redirects import release_redirect_cache

    release_rank_cache()
    release_dedupe_cache()
    release_redirect_cache()
    S.release_similarity_cache()
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return persisted_frames(spark)


# ----------------------------------------------------------- statistics

def median(xs) -> float:
    return float(statistics.median(xs))


@dataclass
class OpLog:
    """Closed-loop operation record: one entry per wave or batch."""
    durations: list[float] = field(default_factory=list)
    cpu: list[float] = field(default_factory=list)  # CPU seconds of the JVM tree
    units: list[int] = field(default_factory=list)
    windows: list[tuple[float, float]] = field(default_factory=list)  # perf_counter
    attempted: int = 0
    failed: int = 0
    checks: list[dict] = field(default_factory=list)

    def add(self, seconds: float, cpu_s: float, units: int) -> None:
        self.durations.append(seconds)
        self.cpu.append(cpu_s)
        self.units.append(units)
        self.attempted += 1

    def fail(self, n: int, detail: str) -> None:
        """``n`` operations that raised: attempted, failed, no timing."""
        self.attempted += n
        self.failed += n
        self.checks.append({"ok": False, "detail": detail})

    def fail_check(self, n: int, detail: str) -> None:
        """The last ``n`` recorded operations ran but their output check
        failed: they keep their timing and count as failed."""
        self.failed += n
        self.checks.append({"ok": False, "detail": detail})
