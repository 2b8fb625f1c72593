"""Spark session and process-tree memory sampling for the benchmark.

Spark runs ``local[N]`` with N = min(4, usable cores) from this single
driver process. Every scratch file Spark or its Python workers write goes
under the benchmark's work directory inside the checkout.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Optional

SLOTS_MAX = 4
# one sample of the process tree takes a few milliseconds; sampling often
# catches short peaks (an Arrow batch in a worker) on every run
RSS_INTERVAL_S = 0.1
# the driver heap's cap, committed as the heap grows (not up front), so heap
# growth up to the cap shows in peak_rss_mb; the program's own default (8g)
# lets G1 grow the heap to 2-3 GB on some runs and not on others, which makes
# the peak a matter of GC timing rather than of the work
DRIVER_MEMORY = "1g"


def slots() -> int:
    return max(1, min(SLOTS_MAX, len(os.sched_getaffinity(0))))


def prepare_env(work: str) -> None:
    """Point temp files of the driver, JVM and workers into ``work``. Must
    run before the first Spark session starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    n = str(slots())
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = n
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Python workers import odinson_spark from the checkout root
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )


def start_spark(work: str, ui: bool):
    from odinson_spark.session import get_spark

    n = slots()
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if ui else "false",
    }
    if ui:
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
            "spark.sql.ui.retainedExecutions": "10000",
        })
    spark = get_spark(
        app_name="kgbench", master=f"local[{n}]", shuffle_partitions=2 * n,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait until the JVM
    (and with it every Python worker it forked) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _tree_rss_kb(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants, from /proc:
    the sum of each process's proportional set size, so that pages a forked
    Python worker still shares with its parent count once, not per fork."""
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    keep = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    total = 0
    for pid in keep:
        # The JVM starts helpers (chmod, rm) with vfork: until the child
        # execs, it shares the JVM's address space, and counting its PSS
        # would count the whole JVM a second time.
        if pid != root_pid and _is_java(pid) and _is_java(parent[pid]):
            continue
        try:
            total += _pss_kb(pid)
        except OSError:  # the process ended meanwhile
            pass
    return total


def _is_java(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java"
    except OSError:
        return False


class RssSampler:
    """Background thread sampling the process tree's resident memory; the
    peak is the maximum seen between :meth:`start` and :meth:`stop`."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self._stop.wait(RSS_INTERVAL_S)

    def start(self) -> None:
        self.peak_kb = _tree_rss_kb(os.getpid())
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
        return self.peak_kb / 1024.0


def now() -> float:
    return time.perf_counter()
