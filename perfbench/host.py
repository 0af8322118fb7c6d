"""Process-tree accounting from /proc, the host burn probe, and run provenance.

The benchmark's driver process is the root of the tree: the Spark JVM is
its child and the Python workers are the JVM's children, so summing over
the tree covers every process the engine runs on.
"""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import subprocess
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children
    (cutime/cstime), so a worker that exits inside a window still counts."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(v) for v in fields[11:15])
    return total / _CLK_TCK


def tree_rss_mb(root: int) -> float:
    """Resident memory of the tree, with each shared page counted once:
    the sum of every process's proportional set size (PSS). Summing RSS
    instead counts copy-on-write pages once per sharer, so a forked
    Python worker's inherited pages, or a JVM caught between fork and
    exec of a helper command, would read as memory twice."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


class PeakRss:
    """Samples the tree's resident memory on a daemon thread while active."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root, self.interval_s = root, interval_s
        self.peak_mb = 0.0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self._on.is_set():
                self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))

    def resume(self) -> None:
        self._on.set()

    def pause(self) -> None:
        self._on.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs, since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK


def burn_s(n: int = 400_000) -> float:
    """Fixed pure-Python work. It moves no engine metric; a slow reading
    marks a run that shared the processor with someone else."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i % 7
    return time.perf_counter() - t


def wait_for_children(root: int, timeout_s: float = 30.0) -> list[int]:
    """Wait until ``root`` has no live descendants; return any left."""
    deadline = time.monotonic() + timeout_s
    left = [p for p in tree_pids(root) if p != root]
    while left and time.monotonic() < deadline:
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)
        left = [p for p in tree_pids(root) if p != root]
    return left


def provenance(root: str, seed: int) -> dict:
    """What a reader needs to tell whether two runs are comparable."""
    import pyspark

    commit = None
    if os.path.exists(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    # the checkout may not be a git repository: a digest of the engine's
    # sources identifies the code either way
    h = hashlib.sha256()
    pkg = os.path.join(root, "glre_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return {
        "git_commit": commit,
        "source_sha256": h.hexdigest(),
        "nproc": len(os.sched_getaffinity(0)),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "seed": seed,
    }


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")
