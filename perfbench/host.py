"""Host-fit pinned configuration, the Spark session's lifetime, and
process-tree CPU / RSS readings from ``/proc``.

Everything here runs in the benchmark process; the engine is imported and
called unmodified. ``pin_environment`` must run before pyspark starts the
JVM, because the JVM and its Python workers inherit the environment.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A sixteenth of physical memory, clamped to [1, 4] GiB: the engine's
    session default (48g) is sized for a large driver box."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return max(1024, min(4096, total_kb // 1024 // 16))


def pin_environment(root: str, work: str) -> dict:
    """Unset every ``BORIS_*`` variable (the engine's switches for
    alternate paths and side-channel timing, so its default path is what
    runs), keep Spark's scratch and temp files under *work*, and make the
    repo importable in Python workers. Returns the configuration record
    printed with the results."""
    cleared = sorted(k for k in os.environ if k.startswith("BORIS_"))
    for k in cleared:
        del os.environ[k]
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM, including spark-submit's launcher: no perf-data files and
    # no temp files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}") if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "cores": host_cores(),
        "driver_memory_mb": driver_memory_mb(),
        "shuffle_partitions": host_cores(),
        "spark_local_dirs": os.path.relpath(local, root),
        "boris_env": "all BORIS_* unset",
        "boris_env_cleared": cleared,
    }


def start_spark(config: dict, work: str):
    from boris_spark.engine.session import get_spark

    return get_spark(
        "perfbench",
        cores=config["cores"],
        shuffle_partitions=config["shuffle_partitions"],
        extra={
            "spark.driver.memory": f"{config['driver_memory_mb']}m",
            # the whole heap committed from the start: the peak RSS then
            # does not follow the collector's heap resizing from run to run
            "spark.driver.defaultJavaOptions": f"-Xms{config['driver_memory_mb']}m",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    pids = tree_pids(proc.pid)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
        deadline = time.time() + timeout
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
            time.sleep(0.05)


# ------------------------------------------------------------------ /proc


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()  # fields from #3 (state) on


def tree_pids(root_pid: int) -> list[int]:
    """*root_pid* and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def cpu_seconds(root_pid: int) -> float:
    """User+system CPU of the benchmark process itself plus the whole JVM
    tree (JVM, Python daemon, workers, and workers they already reaped).
    Child processes of the benchmark process other than the JVM (the live
    server) are not counted."""
    total = 0.0
    own = _stat_fields(os.getpid())
    total += (int(own[11]) + int(own[12])) / _CLK
    for p in tree_pids(root_pid):
        f = _stat_fields(p)
        if f is not None:
            total += sum(int(x) for x in f[11:15]) / _CLK
    return total


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def rss_mb(root_pid: int) -> list[float]:
    """RSS in MB of *root_pid* and each live descendant (root first). A
    child that still runs the root's program is a fork caught before its
    exec; it shares the root's pages, so it is skipped."""
    out = []
    root_exe = _exe(root_pid)
    for p in tree_pids(root_pid):
        if p != root_pid and _exe(p) == root_exe:
            continue
        try:
            with open(f"/proc/{p}/statm") as f:
                out.append(int(f.read().split()[1]) * _PAGE / 2**20)
        except OSError:
            pass
    return out


class RssSampler:
    """Background peak of the JVM tree's summed RSS; ``at_peak`` keeps the
    per-process split of the peak sample."""

    def __init__(self, root_pid: int, period: float = 0.2):
        self.root_pid = root_pid
        self.period = period
        self.peak = 0.0
        self.at_peak: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        rss = rss_mb(self.root_pid)
        if sum(rss) > self.peak:
            self.peak, self.at_peak = sum(rss), rss

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
