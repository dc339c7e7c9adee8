"""Host readings recorded beside every run: CPU steal, load, peak RSS.

Steal and load are kept for diagnosis only; no run is dropped because of
them. The steal reading is the one ``bench.py`` takes from ``/proc/stat``.
"""

from __future__ import annotations

import os


def loadavg() -> list[float]:
    """1/5/15-minute load averages, [] where unavailable."""
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except (OSError, ValueError):
        return []


def cpu_ticks() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate line of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class HostWindow:
    """Steal % and load averages over the interval from creation to ``close``."""

    def __init__(self) -> None:
        self.load_start = loadavg()
        self._steal0, self._total0 = cpu_ticks()

    def close(self) -> dict:
        steal1, total1 = cpu_ticks()
        span = total1 - self._total0
        return {
            "steal_pct": round(100.0 * (steal1 - self._steal0) / span, 3)
            if span > 0
            else 0.0,
            "loadavg_start": self.load_start,
            "loadavg_end": loadavg(),
        }


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))
