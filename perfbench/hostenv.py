"""Host-true Spark session, process lifetime and /proc sampling.

Every benchmark process runs from the root of a checkout: the package
under test is imported from there, and everything Spark, the JVM and
Python write goes under ``.bench_cache/`` in that checkout.
"""

from __future__ import annotations

import os
import signal
import sys
import threading
import time

ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".bench_cache")


def require_checkout() -> None:
    """Exit non-zero unless the package under test sits in the cwd."""
    if not os.path.isfile(os.path.join(ROOT, "osmnightwatch_spark", "__init__.py")):
        print("perfbench: run from the repository root (osmnightwatch_spark/ not found)",
              file=sys.stderr)
        sys.exit(2)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb() -> int:
    """Driver heap: a sixth of the host, clamped to 1-2 GiB (the library
    default of 48g assumes a much larger machine)."""
    return max(1024, min(2048, mem_total_mb() // 6))


def host_info() -> dict:
    import pyspark

    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {"cores": cores(), "mem_total_mb": mem_total_mb(),
            "driver_mem_mb": driver_mem_mb(), "spark": pyspark.__version__,
            "loadavg_1_5_15": load}


def configure_env() -> None:
    local = os.path.join(CACHE, "spark-local")
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    os.environ["TMPDIR"] = tmp
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def start_spark(app: str, n_cores: int):
    from osmnightwatch_spark.session import get_spark

    tmp = os.path.join(CACHE, "tmp")
    # the heap is committed and touched at launch (-Xms = -Xmx, pre-touch),
    # so the JVM's share of the RSS does not drift with G1's run-to-run
    # heap sizing; what peak_rss_mb then moves with is off-heap memory,
    # loaded code and the Python workers
    heap = f"-Xms{driver_mem_mb()}m -XX:+AlwaysPreTouch"
    return get_spark(app, cores=n_cores, extra={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {heap}",
    })


def descendants(pid: int | None = None) -> list[int]:
    """All live descendant pids of ``pid`` (default: this process)."""
    root = os.getpid() if pid is None else pid
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    its Python workers), sampled from /proc on a background thread.
    ``window_mb`` is the peak since the last ``start_window()``."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.window_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids, n = [], 0
        while not self._stop.is_set():
            if n % 10 == 0:  # the pid scan costs ~10x a sample: refresh it less often
                pids = descendants()
            n += 1
            v = rss_mb(pids)
            self.peak_mb = max(self.peak_mb, v)
            self.window_mb = max(self.window_mb, v)
            self._stop.wait(self.interval_s)

    def start_window(self) -> None:
        self.window_mb = rss_mb(descendants())

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def stop_spark(spark, wait_s: float = 20.0) -> None:
    """Stop the session, then end the JVM and every process under it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is None:
        return
    left = descendants()
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone; the JVM is handled below
        pass
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=wait_s)
    except Exception:
        proc.kill()
        proc.wait(timeout=wait_s)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + wait_s
    killed = False
    while True:
        alive = [p for p in left if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} outlived SIGKILL")
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + wait_s
        time.sleep(0.05)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants
    (the driver JVM, the Python daemon and its workers), each with its
    reaped children."""
    ticks = 0
    for p in descendants():
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime, stime, cutime, cstime
    t = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + t.user + t.system


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7]


def process_start_time() -> float:
    """Epoch seconds at which this process was started (/proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")
