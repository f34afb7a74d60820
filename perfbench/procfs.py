"""Process-group views read from ``/proc`` (Linux)."""

from __future__ import annotations

import os

CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def group_stats(pgid: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name (field 3 on),
    for every process in process group ``pgid``."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed
            continue
        if int(fields[2]) == pgid:
            out[int(entry)] = fields
    return out


def live_members(pgid: int) -> list[int]:
    """Processes of the group that have not ended (zombies have)."""
    return [pid for pid, f in group_stats(pgid).items() if f[0] != "Z"]


def group_cpu_s(pgid: int) -> float:
    """User plus system CPU time of the group's live processes: the
    driver's Python, its JVM and the JVM's Python workers."""
    return sum(int(f[11]) + int(f[12]) for f in group_stats(pgid).values()) / CLOCK_TICKS


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host's vCPUs since boot: steal is
    time the hypervisor ran something else while this machine wanted to
    run."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)
