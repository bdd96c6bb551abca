"""Host telemetry recorded with every result, so that a throttled or
oversubscribed run identifies itself: configured cores against the
cores this process may use, a load-average bracket, a fixed-work CPU
probe before and after the timed phase, and peak memory."""

from __future__ import annotations

import os
import resource
import time


def usable_cores() -> int:
    """What ``nproc`` prints: the CPUs this process may run on (not
    ``os.cpu_count()``, which counts the whole machine)."""
    return len(os.sched_getaffinity(0))


def cpu_quota() -> float | None:
    """The cgroup v2 CPU limit in cores, when one is set."""
    try:
        with open("/sys/fs/cgroup/cpu.max") as fh:
            quota, period = fh.read().split()
    except (OSError, ValueError):
        return None
    return None if quota == "max" else int(quota) / int(period)


def cpu_probe_ms() -> float:
    """Wall time of a fixed amount of single-core Python work.  Compared
    across runs on the same interpreter, a probe well above the usual
    figure marks a throttled or contended host."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return (time.perf_counter() - t0) * 1000.0


def load1() -> float:
    return os.getloadavg()[0]


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this Python driver plus the Spark JVM
    (read before the JVM exits)."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = _vm_hwm_kb(jvm_pid) if jvm_pid else 0
    return (own_kb + jvm_kb) / 1024.0


class Telemetry:
    """Collects the host figures for one run."""

    def __init__(self, cores: int):
        self.info = {
            "cores_configured": cores,
            "nproc": usable_cores(),
            "os_cpu_count": os.cpu_count(),
            "cgroup_cpu_quota": cpu_quota(),
            "load1": {"start": load1()},
            "cpu_probe_ms": {"start": cpu_probe_ms()},
        }

    def mark(self, label: str) -> None:
        self.info["load1"][label] = load1()
        self.info["cpu_probe_ms"][label] = cpu_probe_ms()


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit (it exits when its stdin,
    the pipe from this process, closes)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)
