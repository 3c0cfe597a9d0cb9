"""Host sizing, the Spark session, process accounting and teardown.

The benchmark process makes itself the child subreaper of everything it
starts, so a Python worker orphaned when its pyspark daemon or the JVM
exits is re-parented here rather than to init; teardown kills and reaps
every such process before the result line is printed.

Everything the session writes (shuffle and spill files, the warehouse, JVM
and Python temp files) lands under the benchmark's work directory inside
the checkout. ``k`` is read from the CPU affinity mask at run time (less
one), and the driver heap is sized from ``/proc/meminfo``.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

#: JVM heap share of host memory, clamped to [1, 4] GiB: the local-mode
#: driver also hosts the executor, and the Python workers live outside it
_HEAP_SHARE = 16
_PR_SET_CHILD_SUBREAPER = 36


def host_cores() -> int:
    """Spark task slots: the usable cores less one, which is left to the
    driver JVM's own threads and this process. On a shared 4-core host,
    ``local[4]`` spread docs/s over five seeds about 2.6 times as widely
    as ``local[3]`` (IQR/median 0.171 against 0.066) for 12% more docs/s."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def driver_memory_mb() -> int:
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 1024 // _HEAP_SHARE))


def become_subreaper() -> None:
    """Orphaned descendants are re-parented to this process (Linux)."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def prepare_env(work: str, root: str) -> None:
    """Environment the JVM and its Python workers inherit: the program on
    the path, and every temp/local dir inside the work directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no /tmp/hsperfdata_* from the launcher JVM that builds the java command
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def build_session(k: int, work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    heap = driver_memory_mb()
    spark = (
        SparkSession.builder.master(f"local[{k}]")
        .appName("layerbench")
        .config("spark.driver.memory", f"{heap}m")
        # a fixed-size heap: its resident size stops depending on when the
        # collector decides to grow it, which steadies worker_peak_rss_mb
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap}m -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(max(k, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    """The launched JVM (``spark-submit`` execs into ``java``), or None."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssPeak:
    """Peak resident set of the driver JVM plus its Python workers, from
    each process's ``VmHWM`` in ``/proc`` (high-water marks, so a poll after
    every action sees the peak even between polls)."""

    def __init__(self) -> None:
        self._peak_kb: dict[int, int] = {}

    def poll(self) -> None:
        proc = jvm_process()
        if proc is None:
            return
        for pid in [proc.pid, *descendants(proc.pid)]:
            kb = _hwm_kb(pid)
            if kb > self._peak_kb.get(pid, 0):
                self._peak_kb[pid] = kb

    def mb(self) -> float:
        return sum(self._peak_kb.values()) / 1024.0


def shutdown(spark, timeout: float = 30.0) -> int:
    """Stop Spark, close the gateway, then wait until every process this
    one started — the JVM, its Python workers and any orphan re-parented
    here — has exited, and reap them (SIGKILL after ``timeout``). Returns
    the number reaped here."""
    from pyspark import SparkContext

    proc = jvm_process()
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 — teardown must go on
            pass
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(10)
    return reap_all(timeout)


def _reap(reaped: list[int]) -> bool:
    """Reap exited children into ``reaped``; False once no child is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True
        reaped.append(pid)


def reap_all(timeout: float) -> int:
    """Wait for every descendant of this process to exit and reap each one;
    SIGKILL the ones still alive after ``timeout``. A descendant whose
    parent exits is re-parented here, so no child left means none left.
    Returns how many were reaped."""
    deadline = time.monotonic() + timeout
    reaped: list[int] = []
    while _reap(reaped):
        now = time.monotonic()
        if now >= deadline:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            if now >= deadline + 10:
                raise RuntimeError("child processes survive SIGKILL")
        time.sleep(0.02)
    return len(reaped)
