"""Measurement helpers shared by the workloads: order statistics, disk
accounting from outside the program, and the JVM's peak resident memory."""

from __future__ import annotations

import os
import statistics


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def p90(xs) -> float:
    """90th percentile by linear interpolation between order statistics.

    The guide's tail (the highest percentile with ten samples beyond it)
    needs more samples than a run of this engine completes on a small box,
    so the tail is pinned at p90 and the sample count goes to stderr."""
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def snapshot(root: str) -> dict[str, int]:
    """path -> size of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:  # removed by a concurrent compaction sweep
                pass
    return out


def bytes_written(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes in files that are new or changed size between two snapshots."""
    return sum(n for p, n in after.items() if before.get(p) != n)


def layer_count(table_root: str) -> int:
    """Live LSM layer directories of a KeyedTable root, counted the way the
    table's own listing does (base-/delta- dirs, no in-flight .tmp)."""
    try:
        names = os.listdir(table_root)
    except FileNotFoundError:
        return 0
    return sum(
        1 for n in names if n.startswith(("base-", "delta-")) and not n.endswith(".tmp")
    )


def tree_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of a process and all its live
    descendants (the JVM and the Python workers it forked)."""
    ppid, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        ppid[int(d)] = int(f[1])
        ticks[int(d)] = int(f[11]) + int(f[12])
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        total += ticks.get(p, 0)
        todo += [c for c, pp in ppid.items() if pp == p]
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
