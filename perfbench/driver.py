"""Driver lifecycle for one benchmark run: the work directory inside the
checkout, the engine's SparkSession, and a clean stop of every process
the run started."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

CORES = 4
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
EVENT_LOG = os.path.join(WORK, "eventlog")


def prepare_work_dir() -> None:
    """Start from an empty work directory and keep every scratch file of
    the engine, Spark and the JVM inside it. Must run before pyspark is
    imported."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse", "state", "eventlog", "data"):
        os.makedirs(os.path.join(WORK, sub))
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_GRAFT_LOCAL_DIR=os.path.join(WORK, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(WORK, "warehouse"),
        SPARK_GRAFT_STATE_DIR=os.path.join(WORK, "state"),
        # a fixed heap: the default sizes it from MemAvailable, which
        # other tenants of the host move from run to run
        SPARK_GRAFT_DRIVER_MEM="2g",
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def purge_work_dir() -> None:
    shutil.rmtree(WORK, ignore_errors=True)


def start_session(event_log: bool = False):
    from communitydetection_jl_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + EVENT_LOG,
            # zstd is Spark's default codec; its Python reader is absent
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", cores=CORES, shuffle_partitions=CORES,
                     extra_conf=conf)


def free_cached(spark) -> None:
    """Drop every cached table and persisted RDD, localCheckpoint bases
    included (``clearCache`` alone leaves those in the block manager)."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw.proc.pid if gw is not None else None


def jvm_peak_rss_mb() -> float:
    """VmHWM of the driver JVM (local mode: the executors live in it)."""
    with open(f"/proc/{jvm_pid()}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the driver JVM")


def cpu_seconds() -> float:
    """CPU time used so far by this process, the driver JVM and every
    process under it (Python workers), user + system, including reaped
    children."""
    total = sum(os.times()[:2])
    pid = jvm_pid()
    if pid is not None:
        tick = os.sysconf("SC_CLK_TCK")
        for p in [pid] + _descendants(pid):
            try:
                with open(f"/proc/{p}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += sum(int(x) for x in fields[11:15]) / tick
    return total


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[1]) == pid:
                out.append(int(entry))
    return out


def _descendants(pid: int) -> list[int]:
    found, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        found += kids
        todo += kids
    return found


def _wait_gone(pids: list[int], seconds: float) -> list[int]:
    deadline = time.time() + seconds
    alive = pids
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
    return alive


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


def stop_driver(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM
    and every process it started (Python workers) have exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    kids = _descendants(proc.pid)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the gateway JVM exits when its stdin closes
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    for pid in _wait_gone(kids, 30):
        os.kill(pid, signal.SIGKILL)
    _wait_gone(kids, 10)
