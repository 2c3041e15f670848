"""Settings derived from the machine, provenance, and peak-RSS sampling."""

from __future__ import annotations

import os
import platform
import subprocess
import threading

GiB = 1 << 30


def cores() -> int:
    """CPUs this process may run on (what ``nproc`` reports)."""
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """Spark driver heap: an eighth of RAM, between 1 GiB and 8 GiB.  In
    local mode the driver JVM also runs every task, and the Python
    workers and page cache need the rest."""
    mb = min(max(ram_bytes() // 8, GiB), 8 * GiB) // (1 << 20)
    return f"{mb}m"


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (longest prefix)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, typ = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) \
                    and len(mnt) > len(best):
                best, kind = mnt, typ
    return kind


def _git(root: str, *args: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", root, *args], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def provenance(root: str, workdir: str) -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark
    commit = _git(root, "rev-parse", "HEAD")
    status = _git(root, "status", "--porcelain", "--untracked-files=no")
    return {
        "git_commit": commit,
        "git_dirty": None if status is None else bool(status),
        "nproc": cores(),
        "ram_bytes": ram_bytes(),
        "driver_memory": driver_memory(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "duckdb": duckdb.__version__,
        "workdir_fs": fs_type(workdir),
    }


def _descendants(root_pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        for child in children.get(frontier.pop(), ()):
            if child not in tree:
                tree.add(child)
                frontier.append(child)
    return tree


def tree_memory(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants, summed as
    PSS: a page shared by forked Python workers counts once, not once per
    worker."""
    total = 0
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the resident memory of this process tree (driver, JVM,
    Python workers) from a single background thread and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="rss-sampler")

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_memory(pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
