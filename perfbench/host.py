"""Host-side measurements read from /proc: CPU time of the whole process
tree, CPU steal, peak resident memory, and the host fingerprint.

Spark's ``executorCpuTime`` counts only JVM task threads, so it misses the
Python workers that run every pandas/Arrow UDF. The benchmark therefore
charges CPU to the process tree rooted at its own process: the driver, the
JVM it launches, the Python worker daemon and its forked workers.
"""

from __future__ import annotations

import os
import platform
import sys

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited while the tree was being walked
        return None
    # the command name sits in parentheses and may itself contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> dict[str, list[str]]:
    """Stat fields of ``root`` and all its live descendants, keyed by pid."""
    stats = {}
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        fields = _stat_fields(pid)
        if fields is None:
            continue
        stats[pid] = fields
        children.setdefault(fields[1], []).append(pid)
    out = {}
    todo = [str(root)]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the live process tree under ``root``,
    including reaped children (cutime/cstime), so a worker that exits
    between two readings is still charged through its parent."""
    total = 0
    for fields in _tree(root or os.getpid()).values():
        # utime, stime, cutime, cstime are fields 14-17 of /proc/pid/stat
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak resident set (VmHWM) of every live process in the
    tree under ``root``."""
    kb = 0
    for pid in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def filesystem_of(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (``tmpfs`` or a disk
    filesystem such as ``ext4``)."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, fstype = mnt, parts[2]
    return fstype


def fingerprint(out_dir: str) -> dict:
    """Core count, affinity, library versions and output location."""
    import pyarrow
    import pyspark

    return {
        "cpu_count": os.cpu_count(),
        "affinity": sorted(os.sched_getaffinity(0)),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "machine": platform.machine(),
        "output_fs": filesystem_of(out_dir),
    }
