"""Traced-mode instruments, read from outside the program.

- ``EventLogTotals`` parses a Spark event log (uncompressed JSON lines,
  stdlib only) and sums executor task metrics per job group.
- ``catalyst_phases`` reads the analysis / optimization / planning times a
  DataFrame's ``queryExecution().tracker()`` recorded.
- ``jobs_in_group`` counts the Spark jobs a job group launched.
- ``jvm_peak_rss_mb`` and ``host_info`` describe the process and machine.
"""

from __future__ import annotations

import glob
import json
import os
import platform
from collections import defaultdict

EXEC_KEYS = (
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.tasks", "exec.stages",
)
PHASES = ("analysis", "optimization", "planning")


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session config that writes one plain-JSON event log file to
    ``log_dir``. Spark 4 compresses event logs with zstd by default, which
    the standard library cannot read, and rolls them into a directory."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class EventLogTotals:
    """Executor metrics of one application's event log, summed per job
    group. Read it after ``spark.stop()``, which flushes and closes the log."""

    def __init__(self, log_dir: str):
        paths = glob.glob(os.path.join(log_dir, "*"))
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
        stage_group: dict[int, str | None] = {}
        self.by_group: dict[str | None, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(EXEC_KEYS, 0.0)
        )
        with open(paths[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Failure Reason" not in info:
                        self.by_group[stage_group.get(info["Stage ID"])]["exec.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    t = self.by_group[stage_group.get(ev["Stage ID"])]
                    t["exec.tasks"] += 1
                    t["exec.run_s"] += m.get("Executor Run Time", 0) / 1e3
                    t["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    t["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    r = m.get("Shuffle Read Metrics", {})
                    t["exec.shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get(
                        "Local Bytes Read", 0
                    )
                    w = m.get("Shuffle Write Metrics", {})
                    t["exec.shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)

    def total(self, groups) -> dict[str, float]:
        """Sum over the given job groups."""
        out = dict.fromkeys(EXEC_KEYS, 0.0)
        for g in groups:
            for k, v in self.by_group.get(g, {}).items():
                out[k] += v
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Seconds of each Catalyst phase recorded on the DataFrame's own
    QueryExecution. Forces planning if it has not happened yet."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for p in PHASES:
        opt = phases.get(p)
        out[p] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def jvm_peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid``, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def load_average() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed over
    CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_info(spark, load_start: list[float], steal_start: float) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "load_start": load_start,
        "load_end": load_average(),
        "steal_s": round(steal_seconds() - steal_start, 2),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
    }
