"""Host-derived session settings, session lifetime and /proc sampling.

Everything the benchmark writes lands under ``WORK`` inside the checkout:
Spark's local dirs, the JVM's and Python's temp files, generated inputs,
sink outputs and span files.
"""

from __future__ import annotations

import os
import signal
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_settings(cores: int | None = None) -> dict:
    """Session settings derived from the host.

    * cores: the CPUs this process may run on (what ``nproc`` prints).
    * heap: 30% of RAM, clamped to [2, 8] GB — the Python workers, the
      JVM's off-heap and the page cache need the rest, and other tenants
      share the machine. It is committed at start (-Xms = -Xmx).
    * local dir: on disk inside the checkout, never ``/dev/shm``, whose
      pages come out of the same RAM as the heap.
    """
    nproc = len(os.sched_getaffinity(0))
    mem = mem_total_gb()
    heap_gb = max(2, min(8, int(mem * 0.3)))
    c = cores or nproc
    return {
        "nproc": nproc,
        "cores": c,
        "mem_total_gb": round(mem, 1),
        "driver_memory": f"{heap_gb}g",
        "shuffle_partitions": 2 * c,
        "local_dir": str(WORK / "spark-local"),
    }


def start_session(settings: dict, ui: bool, app_name: str):
    """Start a local SparkSession from ``settings``; returns (spark, seconds).

    The repo root goes on PYTHONPATH so Python workers can import the
    package (Arrow kernels, applyInPandas functions). The UI, and with it
    the REST API, is on only when ``ui`` is set.
    """
    tmp = WORK / "tmp"
    for d in (tmp, Path(settings["local_dir"])):
        d.mkdir(parents=True, exist_ok=True)
    env_pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + env_pp if env_pp else "")
    os.environ["TMPDIR"] = str(tmp)
    # SPARK_LOCAL_DIRS would override spark.local.dir; the master would
    # override the core count
    os.environ["SPARK_LOCAL_DIRS"] = settings["local_dir"]
    os.environ.pop("SPARK_GRAFT_MASTER", None)

    from go_html_transform_spark.session import get_spark

    conf = {
        "spark.driver.memory": settings["driver_memory"],
        "spark.local.dir": settings["local_dir"],
        "spark.driver.extraJavaOptions": (
            f"-Xms{settings['driver_memory']} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.showConsoleProgress": "false",
    }
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=app_name,
        cores=settings["cores"],
        shuffle_partitions=settings["shuffle_partitions"],
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, the JVM it runs in and every process under it, and wait
    until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while True:
        left = [p for p in tree_pids() if p != os.getpid()]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.2)


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may hold spaces: split after its closing parenthesis
    return s[s.rfind(")") + 2 :].split()


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """utime+stime of the process tree, including reaped children."""
    total = 0
    for p in tree_pids():
        st = _stat(p)
        if st is not None:
            # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _CLK_TCK


def tree_pss_mb(pids: list[int] | None = None) -> float:
    """Resident memory of the process tree (or of ``pids``) as proportional
    set size: pages that forked Python workers share with their parent
    count once, where summing RSS would count them in every process."""
    kb = 0
    for p in tree_pids() if pids is None else pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            pass
    return kb / 1024


def cpu_probe_s(reps: int = 3) -> float:
    """Median seconds of a fixed single-threaded Python loop.

    An annotation of how fast the host ran at that moment, to tell a shift
    of the host's speed (which steal does not always show) from a change
    in the program. It corrects no metric.
    """
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return sorted(times)[reps // 2]


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    idle = vals[3] + vals[4]
    return sum(vals) - idle, vals[7] if len(vals) > 7 else 0


class PssSampler:
    """Background thread recording the process tree's peak PSS while armed.

    The tree's pids are rescanned from /proc once a second, not on every
    sample. ``cpu_s`` is the CPU time the sampling thread itself has spent
    while armed, so callers can take it out of the tree's CPU time.
    """

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self._armed = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def arm(self) -> None:
        self._armed = True

    def disarm(self) -> None:
        self._armed = False

    def _loop(self) -> None:
        pids: list[int] = []
        scanned = 0.0
        while not self._stop.wait(self.interval_s):
            if not self._armed:
                scanned = 0.0
                continue
            t0 = time.thread_time()
            now = time.monotonic()
            if now - scanned >= 1.0:
                pids, scanned = tree_pids(), now
            self.peak_mb = max(self.peak_mb, tree_pss_mb(pids))
            self.cpu_s += time.thread_time() - t0
