"""The environment stamp every artifact carries, and process bookkeeping.

A figure without the core count and the machine's load behind it cannot be
compared with another, so each run records ``nproc``, the Spark master,
``SPARK_GRAFT_CPUS``, the load average before and after, and a fixed
CPU-bound sentinel job timed at both ends.  On a virtual machine the
steal time (CPU time the hypervisor gave to other guests) says directly
whether a slow run was a contended one.
"""

from __future__ import annotations

import glob
import os
import platform
import subprocess
import time


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def steal_s() -> float:
    """Steal seconds since boot, summed over the machine's CPUs; 0 where
    ``/proc/stat`` has no steal column."""
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()
    except OSError:
        return 0.0
    return int(f[8]) / os.sysconf("SC_CLK_TCK") if len(f) > 8 else 0.0


def before(cpus: int) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "spark_master": f"local[{cpus}]",
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_before": list(os.getloadavg()),
        "steal_before_s": steal_s(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "started_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def after(stamp: dict) -> dict:
    return {
        "loadavg_after": list(os.getloadavg()),
        "steal_s": steal_s() - stamp["steal_before_s"],
    }


def sentinel(spark) -> float:
    """Min-of-3 wall seconds of a fixed CPU-bound job (16 codegen tasks, no
    IO, no shuffle): its time moves only with CPU contention."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 16_000_000, 1, 16).selectExpr("sum(id % 7)").collect()
        best = min(best, time.perf_counter() - t0)
    return best


def _children(pid: int) -> "list[int]":
    """Children of every thread of ``pid``: the JVM forks from worker threads."""
    out = []
    for f in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(f) as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            pass  # the thread exited
    return out


def _descendants(pid: int) -> "list[int]":
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
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


def _stat_ticks(path: str) -> int:
    """utime + stime from a ``/proc/.../stat`` file; 0 once it is gone."""
    try:
        with open(path) as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return int(f[11]) + int(f[12])


def _compiler_ticks(pid: int) -> int:
    """CPU ticks of ``pid``'s JIT compiler threads (HotSpot names them
    ``C1 CompilerThre…``/``C2 CompilerThre…``)."""
    total = 0
    for task in glob.glob(f"/proc/{pid}/task/*"):
        try:
            with open(f"{task}/comm") as fh:
                if "CompilerThre" not in fh.read():
                    continue
        except OSError:
            continue
        total += _stat_ticks(f"{task}/stat")
    return total


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants
    (the Spark JVM and any Python workers), less the JIT compiler threads'.

    Steal time is not in it.  The compiler threads are left out because
    their work follows how warm the JVM is, not the operation; the run keeps
    their number fixed (``-XX:-UseDynamicNumberOfCompilerThreads``), so none
    exits and takes its ticks out of the subtraction."""
    me = os.getpid()
    ticks = 0
    for p in [me] + _descendants(me):
        ticks += _stat_ticks(f"/proc/{p}/stat") - _compiler_ticks(p)
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak RSS of this process plus its descendants (the Spark JVM), in MiB:
    the sum of each process's own high-water mark."""
    me = os.getpid()
    return sum(_hwm_kb(p) for p in [me] + _descendants(me)) / 1024.0


def stop(spark, timeout: float = 60.0) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout)
