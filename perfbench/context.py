"""Run context recorded next to every result: core count, load
average, the driver-side memory read from ``/proc``, and the probe, a
short fixed Spark job timed after every operation, against whose
median the gated operation latency is expressed."""

from __future__ import annotations

import os
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue  # the thread or process ended while we read it
    return out


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants:
    the Spark driver JVM and the Python workers it forks."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        try:
            todo.extend(_children(pid))
        except OSError:
            continue
    return seen


def peak_rss_mb(pids: list[int] | None = None) -> float:
    """Sum of ``VmHWM`` (peak resident set) over the process tree."""
    total_kb = 0
    for pid in pids or process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


# SQL settings the probe job depends on, pinned so that a change to the
# engine's session settings does not move the probe
PROBE_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.codegen.wholeStage": "true",
    "spark.sql.shuffle.partitions": "4",
}


def probe_session(spark):
    """A session of its own on ``spark``'s context (same JVM and cores)
    with ``PROBE_CONF`` set, warmed by three untimed probes."""
    session = spark.newSession()
    for k, v in PROBE_CONF.items():
        session.conf.set(k, v)
    for _ in range(3):
        probe_s(session)
    return session


def probe_s(session) -> float:
    """One run of a fixed CPU-bound Spark job (no I/O, no Python
    workers, 4 tasks); its time tracks the host's effective speed at
    this moment."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        session.range(0, 4_000_000, 1, 4)
        .select((F.col("id") % 997).alias("k"), (F.col("id") * 2654435761 % 2**31).alias("h"))
        .groupBy("k")
        .agg(F.sum("h"), F.count("*"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def run_context(spark, probe_median_s: float) -> dict:
    return {
        "nproc": nproc(),
        "spark_cores": int(spark.sparkContext.defaultParallelism),
        "loadavg_1m": os.getloadavg()[0],
        "probe_s": probe_median_s,
    }
