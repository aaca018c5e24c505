"""Process set-up shared by the workloads: host sizing, a private temp
dir inside the checkout, Spark sessions, and peak-RSS sampling."""

from __future__ import annotations

import os
import shutil
import subprocess
import statistics
import tempfile
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))


def driver_heap_mb() -> int:
    """A quarter of physical memory, at most 2 GiB: the inputs are a few
    MB, and the library's 16g default is larger than small hosts."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return int(min(2048, phys // 4))


class Env:
    """Owns the run's temp dir and its Spark session. Use as a context
    manager: on exit the session stops and the temp dir is removed."""

    def __init__(self):
        self.nproc = os.cpu_count() or 1
        self.heap_mb = driver_heap_mb()
        self.base = os.path.join(ROOT, ".perfbench_tmp")
        os.makedirs(self.base, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="run-", dir=self.base)
        self.spark = None
        self.event_log_dir: str | None = None
        # before the first import of the library: session.py reads these
        # when it is imported, and Python workers inherit the environment
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{self.heap_mb}m"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def start_session(self, cores: int | None = None, event_log: bool = False):
        """Stop the current session (if any) and start a fresh one on
        ``local[cores]`` (all cores by default)."""
        from slipstream_async_spark.session import get_spark

        self.stop_session()
        cores = cores or self.nproc
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.shuffle.partitions": str(cores),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.local.dir": self.path("spark-local"),
            # the whole heap from the start: a heap that grows on demand
            # put the peak RSS of runs alike 25% apart
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -Xms{self.heap_mb}m",
        }
        self.event_log_dir = None
        if event_log:
            self.event_log_dir = tempfile.mkdtemp(prefix="events-", dir=self.tmp)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log_dir,
                # zstd is the default codec and its Python reader is not
                # installed; the log is parsed as plain JSON lines
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        try:
            self.stop_session()
            _stop_jvm()
        finally:
            shutil.rmtree(self.tmp, ignore_errors=True)
            try:
                os.rmdir(self.base)
            except OSError:  # another run still uses it
                pass


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for its JVM to exit, so no
    process of the run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds (user plus system) used so far by this process and
    every process under it: the driver JVM, the Python workers it forks,
    and those already reaped. The kernel leaves time the host stole from
    the VM out of these counts, so a slow host inflates them far less
    than it inflates wall time."""
    children: dict[int, list[int]] = {}
    used: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process exited meanwhile
            continue
        # fields after the ")" that closes the command name: ppid is the
        # 2nd, utime stime cutime cstime the 12th to 15th
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(entry))
        used[int(entry)] = sum(int(f) for f in fields[11:15])
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += used.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return ticks / _TICK


class PeakRss:
    """Samples the RSS of the driver JVM plus this Python process every
    50 ms while the ``with`` block runs; ``peak_mb`` is the largest sum."""

    def __init__(self, spark):
        self.pids = [os.getpid(), int(spark._jvm.ProcessHandle.current().pid())]
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, sum(_rss_mb(p) for p in self.pids))

    def _run(self) -> None:
        while not self._stop.wait(0.05):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
