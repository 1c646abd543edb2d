"""Shared helpers: statistics, memory readings, Spark start-up."""

from __future__ import annotations

import math
import os
import statistics


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` (0-100) of a list (0 when empty)."""
    if not values:
        return 0.0
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_mean(values: list[float], share: float = 0.10) -> float:
    """Mean of the slowest ``share`` of a non-empty list (at least one
    value). Averaging the tail, rather than reading one order statistic
    from it, keeps the figure steady when a run holds about a hundred
    operations of very different sizes."""
    xs = sorted(values, reverse=True)
    top = xs[:max(1, math.ceil(share * len(xs)))]
    return sum(top) / len(top)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _status_mb(pid: int | str, field: str) -> float:
    """A memory field of ``/proc/<pid>/status`` (``VmHWM``, ``VmRSS``) in
    MiB, 0 when the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_mb(pid: int | None) -> float:
    """Resident-set high-water mark of this process plus ``pid`` in MiB."""
    return _status_mb("self", "VmHWM") + (_status_mb(pid, "VmHWM")
                                          if pid else 0.0)


def reset_peak(pid: int | None) -> None:
    """Restart the high-water marks of this process and ``pid`` from their
    current RSS (Linux ``clear_refs``)."""
    for p in ("self", pid) if pid else ("self",):
        with open(f"/proc/{p}/clear_refs", "w") as f:
            f.write("5")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        # user nice system idle iowait irq softirq steal (guest time is
        # already counted in user and nice)
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def jvm_pid(spark) -> int | None:
    """Process id of the JVM behind ``spark`` (the gateway's child)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def bench_confs(tmp: str) -> dict[str, str]:
    """Spark confs that keep a run's files under ``tmp``."""
    java_tmp = os.path.join(tmp, "java")
    os.makedirs(java_tmp, exist_ok=True)
    return {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={java_tmp} "
            f"-Dderby.system.home={os.path.join(tmp, 'derby')}",
        "spark.ui.showConsoleProgress": "false",
    }
