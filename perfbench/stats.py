"""Small measurement helpers: median, process start time and peak resident
memory from /proc."""

from __future__ import annotations

import os
import statistics
import time
from typing import Optional, Sequence


def median(xs: Sequence[float]) -> Optional[float]:
    return statistics.median(xs) if xs else None


def process_start_time() -> float:
    """Wall-clock time at which this process started, from /proc (10 ms
    resolution)."""
    with open("/proc/self/stat") as fh:
        # the command name may contain spaces; fields resume after ')'
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - age


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MiB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
