"""Shared plumbing: the Spark session, process-tree memory, statistics.

Importing this module starts nothing.
"""

from __future__ import annotations

import os
import signal
import statistics
import threading
import time
from dataclasses import dataclass, field

SETUP_REPS = 3


@dataclass
class Ctx:
    """One benchmark invocation: what to run and where it may write."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str  # repository checkout (holds the engine package)
    work: str  # scratch directory of this run, inside the checkout
    cpus: int
    marks: dict[str, float] = field(default_factory=dict)  # phase -> wall clock

    def mark(self, phase: str) -> None:
        self.marks[phase] = time.perf_counter()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Outcome:
    """What a workload hands back to `run.py`: end-to-end and per-layer
    metrics as name -> (value, unit), operation counts, output checks
    (name -> "ok" or the first difference) and the live session."""

    metrics: dict[str, tuple[float, str]]
    layer: dict[str, tuple[float, str]]
    attempted: int
    failed: int
    checks: dict[str, str]
    spark: object
    detail: dict = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return all(v == "ok" for v in self.checks.values())


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------

def start_session(ctx: Ctx):
    """Start (or restart) the engine's session on `local[cpus]`.

    Goes through the engine's own factory (`session.get_spark`) so the
    confs match the CLI's; the extras keep every file inside the run's
    scratch directory and the console quiet.

    The driver JVM runs with tiered compilation stopped at C1, the serial
    collector and its heap fixed at the driver memory. With the default
    C2 tier the JIT kept recompiling for about 90 s: one session's query
    times fell by 40% over ten passes, so a run's timings said how far
    the JIT had got, which depends on how much CPU the host left it.
    With C1 they level off by the third pass. The serial collector works
    in one thread while the program waits, so its CPU time follows the
    allocations; with G1's concurrent threads the CPU time of the
    pipeline's re-run varied by 40% from run to run.
    """
    from legendary_data_pipeline_spark.session import get_spark

    tmp = ctx.path("tmp")
    heap = os.environ.get("LDP_DRIVER_MEM", "2g")
    spark = get_spark(
        app_name=f"perfbench-{ctx.workload}",
        master=f"local[{ctx.cpus}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": ctx.path("spark-warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Xms{heap}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    if spark is not None:
        spark.stop()


def shutdown_jvm(timeout: float = 30.0) -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=timeout)
            except Exception:
                proc.kill()
                proc.wait(timeout=timeout)


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # ppid is the 2nd field after the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it, so forked Python workers do not count
    the daemon's pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reap_descendants(timeout: float = 20.0) -> None:
    """Wait for every process this run started to end; kill stragglers."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while descendants(me) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(me):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for _ in range(50):
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and every descendant: the benchmark's Python, the gateway
    JVM and its Python workers. Time the host hands to other guests is
    accounted as steal and charged to no process, so unlike wall time
    this does not grow when other guests contend for the host."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


class Meter:
    """Wall seconds and process-tree CPU seconds of a block."""

    def __enter__(self) -> "Meter":
        self.cpu_s = self.wall_s = 0.0
        self._cpu = tree_cpu_s()
        self._wall = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._wall
        self.cpu_s = tree_cpu_s() - self._cpu


class RssSampler:
    """Samples the resident memory (PSS) of this process and all its
    descendants (the gateway JVM and Python workers) from /proc; keeps
    the peak of the sum."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = _pss_kb(me) + sum(_pss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# timing and statistics
# ---------------------------------------------------------------------------

class JobGroups:
    """A unique Spark job group per timed call, so jobs and stages can be
    attributed to exactly one call (reused names merge their job lists)."""

    def __init__(self, spark, prefix: str):
        self.spark = spark
        self.prefix = prefix
        self.n = 0

    def next(self, label: str) -> str:
        self.n += 1
        group = f"{self.prefix}-{self.n:05d}-{label}"
        self.spark.sparkContext.setJobGroup(group, label)
        return group

    def clear(self) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile (q in 0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def repeat_setup(ctx: Ctx, setup_once) -> tuple[object, Meter, list[float]]:
    """Run `setup_once(ctx, rep) -> (spark, start_s)` SETUP_REPS times,
    stopping the previous session in between; returns the last session,
    a Meter holding the median wall and CPU seconds of a set-up, and the
    session-start times.

    The first rep also launches the gateway JVM; later reps start a new
    SparkContext in it, which is what a restarted Spark application pays.
    """
    meters, starts = [], []
    for rep in range(SETUP_REPS):
        with Meter() as m:
            spark, start_s = setup_once(ctx, rep)
        meters.append(m)
        starts.append(start_s)
        if rep < SETUP_REPS - 1:
            stop_session(spark)
    setup = Meter()
    setup.wall_s = median([m.wall_s for m in meters])
    setup.cpu_s = median([m.cpu_s for m in meters])
    return spark, setup, starts
