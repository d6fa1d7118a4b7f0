"""Process-level plumbing: the Spark session sized from the core count,
JVM shutdown, peak-memory sampling from outside and calibration burns."""

from __future__ import annotations

import os
import subprocess
import threading
import time

DRIVER_MEM = "1g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write under
    ``work``; must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SKEWER_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SKEWER_DRIVER_MEM"] = DRIVER_MEM
    # few malloc arenas: the JVM's off-heap (Arrow, Netty) RSS otherwise
    # grows with per-thread arena fragmentation, not with the workload
    os.environ["MALLOC_ARENA_MAX"] = "2"
    import tempfile

    tempfile.tempdir = None


def session_conf(work: str, event_log: bool = False) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        path = os.path.join(work, "eventlog")
        os.makedirs(path, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + path,
            "spark.eventLog.compress": "false",
        })
    return conf


def build(session_mod, work: str, cores: int, event_log: bool = False):
    """``session.build_session`` at ``local[cores]`` with one shuffle
    partition per core, the setting measured best in local mode."""
    spark = session_mod.build_session(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=session_conf(work, event_log),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it: the
    JVM exits when its stdin closes, and its Python workers with it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss(pid: int) -> int:
    """Proportional resident set: pages shared between processes (forked
    Python workers, the JVM's short-lived spawn children) are split
    among them instead of being counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class PeakRss:
    """Samples the summed resident memory (PSS) of this process's
    descendants — the JVM and its Python workers — every ``interval``
    seconds."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak,
                            sum(_pss(p) for p in descendants(me)))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False


def reap_children(timeout: float = 30.0) -> None:
    """Wait for every process this one started; kill what outlives
    ``timeout``."""
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def alu_burn_s(n: int = 5_000_000) -> float:
    """Single-thread pure-Python loop: CPU-grant context, never a divisor."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t0


def mem_burn_s() -> float:
    """Single-thread 64 MB streaming pass: memory-bandwidth context."""
    import numpy as np

    a = np.arange(8_000_000, dtype=np.float64)
    t0 = time.perf_counter()
    for _ in range(3):
        a += 1.0
        float(a.sum())
    return time.perf_counter() - t0
