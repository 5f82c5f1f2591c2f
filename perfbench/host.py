"""Host health around a run, and resident memory read from /proc.

The host may be shared. A short CPU-rate probe and a memory-bandwidth
probe before and after the run, with the load average, put a co-tenant
stall into the run's artifact instead of silently widening the spread."""

from __future__ import annotations

import os


def probe() -> dict:
    """bench.host_probe (CPU-loop rate, memory-copy bandwidth) plus the
    one-minute load average."""
    from bench import host_probe

    return {"loadavg_1m": os.getloadavg()[0], **host_probe()}


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_info() -> dict:
    """nproc, RAM and /dev/shm size, stated beside every artifact."""
    info = {"nproc": len(os.sched_getaffinity(0))}
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                info["ram_gb"] = round(int(line.split()[1]) / 1024 ** 2, 1)
    if os.path.isdir("/dev/shm"):
        st = os.statvfs("/dev/shm")
        info["dev_shm_gb"] = round(st.f_blocks * st.f_frsize / 1024 ** 3, 1)
    return info
