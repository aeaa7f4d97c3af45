"""Host facts, work-directory hygiene and the Spark session lifecycle.

Everything the benchmark writes lives under one work directory inside
the checkout: inputs, output roots, SPARK_LOCAL_DIRS, the JVM and
Python temp dirs. Nothing is written outside the checkout.
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import sys
import threading
import time


def cpu_count() -> int:
    """CPUs this process may run on (never Spark's own default)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def versions() -> dict:
    import duckdb
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "pandas": pandas.__version__,
    }


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class StealMeter:
    """Fraction of host CPU time stolen by the hypervisor between
    construction and `fraction()` (from /proc/stat)."""

    def __init__(self) -> None:
        self._t0 = _cpu_times()

    def fraction(self) -> float:
        d = [b - a for a, b in zip(self._t0, _cpu_times())]
        total = sum(d[:8])
        return d[7] / total if total > 0 and len(d) > 7 else 0.0


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(x) for x in fh.read().split())
    except OSError:
        pass
    return out


def tree_pids(root: int) -> list[int]:
    seen, todo = [], [root]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime of a process plus the cutime + cstime of its
    children that it has already waited for."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the Spark JVM and its Python workers). A guest kernel charges time
    the hypervisor steals to `steal`, not to the process, so this
    counts the work the program did, not how long it waited for a CPU."""
    return _TICK_S * sum(_cpu_ticks(p) for p in tree_pids(os.getpid()))


# HotSpot's JIT compiler threads ("C2 CompilerThread0", cut to 15 chars)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pids: list[int]) -> dict[tuple[int, int], int]:
    out = {}
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            name, rest = raw[raw.index("(") + 1 :].rsplit(")", 1)
            if name.startswith(_JIT_THREADS):
                f = rest.split()
                out[(pid, int(tid))] = int(f[11]) + int(f[12])
    return out


class WorkCpu:
    """CPU seconds of the process tree between `start()` and `stop()`,
    less what the JVM's JIT compiler threads used meanwhile. Compiling
    is warm-up: HotSpot still compiles during the operations that follow
    a minute of warm-up, by an amount that differs from one JVM to the
    next, and a long-running job pays it once. A compiler thread that
    exits between the two samples is taken to have idled (HotSpot
    retires only idle ones)."""

    def start(self) -> None:
        pids = tree_pids(os.getpid())
        self._tree = sum(_cpu_ticks(p) for p in pids)
        self._jit = _jit_ticks(pids)

    def stop(self) -> float:
        pids = tree_pids(os.getpid())
        tree = sum(_cpu_ticks(p) for p in pids) - self._tree
        jit = sum(t - self._jit.get(k, 0) for k, t in _jit_ticks(pids).items())
        return _TICK_S * (tree - jit)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    Spark JVM and its Python workers), sampled on a daemon thread."""

    def __init__(self, period_s: float = 0.5) -> None:
        self.peak_kb = 0
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self._period)

    def sample(self, me: int | None = None) -> None:
        total = sum(_rss_kb(p) for p in tree_pids(me or os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


class WorkDir:
    """A fresh work directory per run, with per-repetition subdirs."""

    def __init__(self, root: str) -> None:
        self.root = os.path.abspath(root)
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        self._n = 0
        self.tmp = self.path("tmp")
        # Python temp files (the shipped package zip among them) and
        # Spark's scratch space stay inside the checkout
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        import tempfile

        tempfile.tempdir = self.tmp

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def fresh(self, prefix: str) -> str:
        """A new, not-yet-existing path for one repetition's output."""
        self._n += 1
        return os.path.join(self.path("reps"), f"{prefix}{self._n:04d}")

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def start_spark(app: str, cores: int, work: WorkDir):
    """The package's session factory, with its task slots sized from this
    process's CPU affinity. Benchmark-only settings: no console progress
    bars, and the warehouse and JVM temp dir inside the work directory."""
    from curator_spark.engine.session import get_spark

    spark = get_spark(
        app,
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": work.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work.tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM gateway process and wait for
    it (the JVM exits when its stdin closes)."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except (Py4JError, OSError):  # gateway already gone; the wait below decides
            pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def now() -> float:
    return time.perf_counter()
