"""Run-condition and work meters shared by every workload.

Stage work volumes and the steal meter come from the project's own
``bench.py`` (imported, not copied); this module only adds the stage
fields the layered report needs and the run-condition stamp.
"""

from __future__ import annotations

import os
import platform
import resource
import time

import bench

work_delta = bench._work_delta


def stage_snapshot(spark) -> dict | None:
    """bench's per-stage snapshot, plus the GC time and spill the layered
    report needs: bench._stage_snapshot reads bench._WORK_FIELDS at call
    time, so the two fields join that table (idempotently) before the
    first snapshot."""
    bench._WORK_FIELDS.setdefault("gc_ms", "jvmGcTime")
    bench._WORK_FIELDS.setdefault("spill_bytes", "diskBytesSpilled")
    return bench._stage_snapshot(spark)


def ncpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class StealMeter:
    """Steal % of non-idle CPU over a window (bench's /proc/stat reader)."""

    def __init__(self) -> None:
        self.t0 = bench._cpu_ticks()
        self.load0 = os.getloadavg()[0]

    def pct(self) -> float:
        t1 = bench._cpu_ticks()
        if self.t0 is None or t1 is None:
            return 0.0
        busy = (t1[1] - t1[2]) - (self.t0[1] - self.t0[2])
        return 100.0 * (t1[0] - self.t0[0]) / busy if busy > 0 else 0.0


def stage_metrics(delta: dict | None, wall_s: float) -> dict[str, float]:
    """Stage-metric delta -> the ``exec.*``/``shuffle.*``/``scan.*`` layer
    metrics (times in seconds)."""
    d = delta or {}
    run = d.get("task_time_ms", 0) / 1e3
    cpu = d.get("cpu_time_ms", 0) / 1e3
    return {
        "exec.wall_s": wall_s,
        "exec.stages": d.get("num_stages", 0),
        "exec.tasks": d.get("num_tasks", 0),
        "exec.task_run_s": run,
        "exec.task_cpu_s": cpu,
        "exec.task_parked_s": max(run - cpu, 0.0),
        "exec.gc_s": d.get("gc_ms", 0) / 1e3,
        "shuffle.read_bytes": d.get("shuffle_read_bytes", 0),
        "shuffle.write_bytes": d.get("shuffle_write_bytes", 0),
        "shuffle.spill_bytes": d.get("spill_bytes", 0),
        "scan.input_rows": d.get("input_rows", 0),
        "scan.input_bytes": d.get("input_bytes", 0),
    }


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def _hwm_kb(pid: int | None) -> int:
    if pid is None:
        return 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver python process plus the JVM."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (own + _hwm_kb(jvm_pid(spark))) / 1024.0


def run_conditions(spark, seed: int, steal: StealMeter, tables: dict | None) -> dict:
    """The stamp every result carries, so a host change or an input change
    is not read as a regression."""
    sc = spark.sparkContext
    import pyspark

    return {
        "seed": seed,
        "nproc": ncpus(),
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "steal_pct": steal.pct(),
        "load_1m": os.getloadavg()[0],
        "load_1m_at_start": steal.load0,
        "pyspark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "tables": tables or {},
        "unix_time": time.time(),
    }


def host_metrics(cond: dict) -> dict[str, float]:
    return {
        "host.cpus": cond["nproc"],
        "host.default_parallelism": cond["default_parallelism"],
        "host.steal_pct": cond["steal_pct"],
        "host.load_1m": cond["load_1m"],
    }
