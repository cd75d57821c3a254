"""Spark session sized from the machine, with every scratch file under the
benchmark's work directory.

Cores come from the CPU affinity mask (what ``nproc`` prints); the driver
heap is an eighth of physical memory, clamped to 1-4 GiB, so the benchmark
fits beside other tenants.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

__all__ = [
    "machine_cores", "heap_mb", "start_session", "stop_session", "jvm_and_worker_rss_mb",
    "cpu_seconds",
]


def machine_cores() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_mb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0]) // 1024
    return out


def heap_mb() -> int:
    """An eighth of physical memory, clamped to 1-4 GiB.  The heap depends
    on the machine only, not on what happens to be free, so runs on one
    host get the same heap; a host with too little free memory is refused."""
    mem = _meminfo_mb()
    heap = max(1024, min(4096, mem["MemTotal"] // 8))
    if mem["MemAvailable"] < 2 * heap:
        raise RuntimeError(
            f"perfbench: {mem['MemAvailable']} MB available, need {2 * heap} MB "
            f"for a {heap} MB driver heap plus Python workers"
        )
    return heap


def start_session(work: Path, *, event_log: bool):
    """Start a ``local[cores]`` session."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")

    from pyspark.sql import SparkSession

    cores = machine_cores()
    # C1 only: every op builds its rule forests anew, so Spark generates new
    # classes per op and C2 recompiles them; that recompilation was 40-50% of
    # a warm op's CPU time and most of its run-to-run variance
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work / 'derby'} "
        "-XX:TieredStopAtLevel=1"
    )
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mb()}m")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", str(local))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true" if event_log else "false")
    )
    if event_log:
        logdir = work / "eventlog"
        logdir.mkdir(parents=True, exist_ok=True)
        builder = builder.config("spark.eventLog.dir", logdir.as_uri()).config(
            "spark.eventLog.compress", "false"
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the first job loads the executor side
    return spark


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then end its JVM and wait until the JVM and its
    Python worker tree have exited.  The JVM exits when its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    pids = _tree(proc.pid)
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        # an exited worker is gone or a zombie its new parent has not reaped
        if all(_stat_fields(pid)[:1] in ([], ["Z"]) for pid in pids):
            return
        time.sleep(0.1)
    raise RuntimeError(f"perfbench: processes of the session still running: {pids}")


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _stat_fields(pid: int) -> list[str]:
    """``/proc/<pid>/stat`` from the field after the command name (state)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return []


def _tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                parents.setdefault(int(fields[1]), []).append(int(entry))
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(parents.get(p, []))
    return out


def jvm_and_worker_rss_mb(jvm_pid: int) -> float:
    """Peak RSS (VmHWM) of the driver JVM plus its Python worker tree."""
    return sum(_status_kb(pid, "VmHWM") for pid in _tree(jvm_pid)) / 1024.0


def cpu_seconds(jvm_pid: int) -> float:
    """User + system CPU time used so far by this process, the driver JVM
    and its Python worker tree, including exited children their parents
    have reaped.  Time the hypervisor steals is not in it, so it stays put
    when other tenants load the host; wall time does not."""
    ticks = 0
    for pid in _tree(jvm_pid):
        fields = _stat_fields(pid)
        if fields:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            ticks += sum(int(f) for f in fields[11:15])
    return time.process_time() + ticks / _CLK_TCK
