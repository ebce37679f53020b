"""Peak resident memory of a whole process tree, sampled from ``/proc``.

``getrusage(RUSAGE_CHILDREN)`` only sees children that have exited and
been waited for, so it misses the JVM and the Python workers while they
run; this sampler walks the tree instead and classifies each process as
the driver (the root), the JVM or a Python worker. Each process counts
its proportional set size (PSS): Python workers are forked from one
daemon and share its pages, which plain RSS would count once per worker.
"""

from __future__ import annotations

import os
import threading


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # Field 4 (ppid) follows the parenthesised command name.
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass  # exited while sampling
    return 0


def _kind(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
    except OSError:
        return "other"
    return "jvm" if comm == "java" else "worker"


def tree_pss_kb(root: int) -> dict[str, int]:
    """Current PSS (KiB) of ``root`` and its descendants, by kind."""
    kids = _children()
    out = {"driver": _pss_kb(root), "jvm": 0, "worker": 0}
    stack = list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        kind = _kind(pid)
        if kind in out:
            out[kind] += _pss_kb(pid)
        stack.extend(kids.get(pid, []))
    return out


class TreeSampler:
    """Polls ``tree_pss_kb`` of this process on a daemon thread and
    keeps the peaks (total and per kind). Use as a context manager."""

    INTERVAL_S = 0.1

    def __init__(self):
        self.root = os.getpid()
        self.peak_kb = {"total": 0, "driver": 0, "jvm": 0, "worker": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        now = tree_pss_kb(self.root)
        now["total"] = sum(now.values())
        for k, v in now.items():
            self.peak_kb[k] = max(self.peak_kb[k], v)

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def __enter__(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def peak_mb(self, kind: str = "total") -> float:
        return self.peak_kb[kind] / 1024.0
