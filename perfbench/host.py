"""Host facts and host-fit run settings, read from /proc.

Settings reach the engine only through the environment variables that
``geoclimate_spark.session.get_spark`` already reads (``SPARK_GRAFT_CPUS``,
``SPARK_GRAFT_DRIVER_MEM``) plus ``PYSPARK_SUBMIT_ARGS`` for the scratch
directories, so the benchmark changes no engine default.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_gib(ram: int) -> int:
    """A sixth of the host's RAM, 1 to 4 GiB: far below RAM on a shared
    host, enough for the benchmark's input sizes."""
    return max(1, min(4, ram // (6 << 30)))


def apply_settings(work: Path) -> dict:
    """Export host-fit settings before the JVM starts; return them."""
    cores, ram = nproc(), ram_bytes()
    mem = driver_mem_gib(ram)
    local, tmp = work / "spark-local", work / "tmp"
    local.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem}g"
    os.environ["TMPDIR"] = str(tmp)
    # No JVM writes outside the work directory (-XX:-UsePerfData: HotSpot
    # would put its perf-data file in /tmp whatever java.io.tmpdir says).
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm
    # A fixed, pre-touched heap: otherwise the driver's RSS follows when the
    # garbage collector chose to grow the heap, which varies by tens of
    # percent between identical runs.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.local.dir={local} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '{jvm} -Xms{mem}g -XX:+AlwaysPreTouch' pyspark-shell")
    return {"nproc": cores, "ram_bytes": ram, "driver_mem": f"{mem}g"}


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7]


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return (t1[1] - t0[1]) / max(1, t1[0] - t0[0])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def driver_rss(root: int) -> int:
    """Summed RSS of the driver JVM (a direct child of ``root``) and the
    Python workers it forks. Other descendants are left out: a process the
    JVM forks to run a shell command shares the JVM's pages until it execs,
    and counting it would add the whole JVM a second time."""
    kids = _children()
    total, todo = 0, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        if pid in kids.get(root, ()) or b"pyspark.daemon" in _cmdline(pid):
            total += _rss(pid)
        todo.extend(kids.get(pid, []))
    return total


class RssSampler:
    """Background thread that tracks the peak of ``driver_rss``."""

    def __init__(self, interval_s: float = 0.1):
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, driver_rss(me))
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
