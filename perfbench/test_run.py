"""The host-speed probe of ``run.py`` (no Spark needed)."""

from __future__ import annotations

import os

import run


def _children() -> list[str]:
    """Pids of this process's living children."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                ppid = next(line.split()[1] for line in fh if line.startswith("PPid:"))
        except (OSError, StopIteration):
            continue
        if int(ppid) == os.getpid():
            out.append(pid)
    return out


def test_host_rate_counts_and_reaps_its_processes():
    assert run.host_rate() > 0
    assert _children() == []  # every probe process has been waited for
