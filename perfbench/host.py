"""Host stamp and driver-JVM memory, read from /proc and the environment."""

from __future__ import annotations

import os
import platform
import subprocess


def cpus() -> int:
    """CPUs this process may run on (the affinity mask, not the host)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def task_slots() -> int:
    """Spark's local parallelism: one task thread per CPU of the
    affinity mask but one. The driver JVM's own threads (scheduler, GC,
    JIT), the Python driver and the Arrow UDF workers need a CPU too;
    perfbench/README.md gives the measurement behind this."""
    return max(1, cpus() - 1)


def loadavg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return []


def mem_available_bytes() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def cpu_steal_s() -> float | None:
    """CPU time the hypervisor gave to other guests since boot."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def peak_rss_bytes(pid: int) -> int | None:
    """Peak resident set (VmHWM) of a live process."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def git_commit(root: str) -> str:
    """HEAD of the checkout, or "unknown" outside a git work tree."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30, check=False
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    # the JVM prints "Picked up JAVA_TOOL_OPTIONS: ..." before the version
    lines = [ln for ln in (out.stderr or out.stdout).splitlines()
             if not ln.startswith("Picked up ")]
    return lines[0] if lines else "unknown"


def stamp(root: str) -> dict:
    import pyspark

    return {
        "cpus_affinity": cpus(),
        "task_slots": task_slots(),
        "cpus_host": os.cpu_count(),
        "loadavg": loadavg(),
        "cpu_steal_s": cpu_steal_s(),
        "mem_available_bytes": mem_available_bytes(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java_version(),
        "git_commit": git_commit(root),
        "platform": platform.platform(),
    }
