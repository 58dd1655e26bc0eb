"""Host hygiene and /proc samplers for the benchmark launcher.

Everything the benchmark writes (Spark local dirs, JVM and Python temp
files, event logs, stores) stays under one work directory inside the
checkout, and the Spark session is sized to this host rather than to the
engine's defaults.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
CLK_TCK = os.sysconf("SC_CLK_TCK")


def local_cores() -> int:
    """Cores for ``local[N]``: at most 4, never more than this process may use."""
    try:
        avail = len(os.sched_getaffinity(0))
    except AttributeError:
        avail = os.cpu_count() or 1
    return max(1, min(avail, 4))


def driver_mem() -> str:
    """A driver heap well below physical RAM (the engine's default is 24g)."""
    try:
        total_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    except (ValueError, OSError):
        total_mb = 8192
    return f"{max(1024, min(3072, total_mb // 4))}m"


def prepare_env(work: str) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark at
    ``work`` (a fresh directory) before pyspark starts its gateway."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_DRIVER_MEM=driver_mem(),
        SPARK_LAUNCHER_OPTS=java_opts,
        SPARK_SUBMIT_OPTS=java_opts,
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def spark_conf(work: str, cores: int, event_log: bool) -> dict:
    """Fixed session settings: shuffle partitions pinned (AQE may still
    coalesce, never start wider), no UI, everything inside ``work``."""
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(cores),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    if event_log:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
        })
    return conf


# ---------------------------------------------------------------------------
# /proc samplers
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_mb(root: int) -> float:
    """Resident set of ``root`` and all its descendants (the driver Python,
    the Spark JVM, the pyspark daemon and its workers), in MB."""
    kids = _children_map()
    todo, total_pages = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total_pages += int(f.read().split()[1])
        except OSError:
            continue
    return total_pages * PAGE_KB / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants, counting children they have reaped."""
    kids = _children_map()
    todo, ticks = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    todo, out = list(kids.get(root, ())), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """Polls the process tree's RSS on a daemon thread; ``peak_mb`` is the
    maximum seen between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all cpus from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


class HostWindow:
    """Steal share and load average over one run: evidence printed with the
    result, never a reason to drop or repeat a run."""

    def __init__(self):
        self._t0 = time.monotonic()
        self._a = _cpu_ticks()
        self._load0 = os.getloadavg()[0]

    def stamp(self) -> dict:
        steal, total = _cpu_ticks()
        dt = max(total - self._a[1], 1)
        try:
            with open("/proc/pressure/cpu") as f:
                psi = f.readline().split()[2].split("=")[1]  # "some avg60=.."
        except (OSError, IndexError):
            psi = None
        return {
            "steal_share": round((steal - self._a[0]) / dt, 4),
            "cpu_pressure_some_avg60": psi,
            "load1_start": round(self._load0, 2),
            "load1_end": round(os.getloadavg()[0], 2),
            "window_s": round(time.monotonic() - self._t0, 1),
        }
