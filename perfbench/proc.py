"""Process-tree CPU, split by process role, and peak resident memory.

The harness takes process-tree totals from ``bench.tree_cpu_stats`` (the
repository's existing /proc bracket); this module adds the split by
command line that the totals cannot give: the Spark JVM, the Python
workers it forks (where the Arrow merge kernel runs), and this driver
process.
"""

from __future__ import annotations

import os
import threading

ROLES = ("jvm", "py_workers", "driver", "other")


def classify(pid: int, self_pid: int, cmdline: bytes) -> str:
    """Role of one process from its NUL-separated command line."""
    if pid == self_pid:
        return "driver"
    argv = cmdline.split(b"\0")
    exe = os.path.basename(argv[0]) if argv and argv[0] else b""
    if exe.startswith(b"java"):
        return "jvm"
    # workers forked by pyspark.daemon keep the daemon's command line
    if b"pyspark.daemon" in cmdline or b"pyspark.worker" in cmdline:
        return "py_workers"
    return "other"


def _read(path: str) -> bytes | None:
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        return None


def scan_tree(root: int | None = None) -> dict[int, dict]:
    """One /proc pass over ``root`` and its descendants: per pid its role,
    user/sys CPU seconds (own plus reaped children) and resident bytes."""
    root = os.getpid() if root is None else root
    tick = os.sysconf("SC_CLK_TCK")
    page = os.sysconf("SC_PAGE_SIZE")
    ppid: dict[int, int] = {}
    raw: dict[int, list[str]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        s = _read(f"/proc/{p}/stat")
        if s is None:
            continue
        s = s.decode(errors="replace")
        rest = s[s.rindex(")") + 2:].split()
        ppid[int(p)] = int(rest[1])
        raw[int(p)] = rest
    fam = {root}
    changed = True
    while changed:
        changed = False
        for pid, pp in ppid.items():
            if pp in fam and pid not in fam:
                fam.add(pid)
                changed = True
    out = {}
    for pid in fam:
        rest = raw.get(pid)
        if rest is None:
            continue
        cmd = _read(f"/proc/{pid}/cmdline") or b""
        out[pid] = {
            "role": classify(pid, root, cmd),
            # stat fields after comm: 11 utime 12 stime 13 cutime 14 cstime 21 rss
            "user": (int(rest[11]) + int(rest[13])) / tick,
            "sys": (int(rest[12]) + int(rest[14])) / tick,
            "rss": int(rest[21]) * page,
        }
    return out


def cpu_split(tree: dict[int, dict]) -> dict[str, float]:
    """User CPU per role plus all system CPU, in seconds.

    A reaped process's CPU lands in its parent's c-fields, so it is
    charged to the parent's role: Python workers reaped by
    ``pyspark.daemon`` stay under ``py_workers``."""
    out = {f"{r}_s": 0.0 for r in ROLES}
    out["sys_s"] = 0.0
    for p in tree.values():
        out[f"{p['role']}_s"] += p["user"]
        out["sys_s"] += p["sys"]
    return out


def delta(after: dict[str, float], before: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before.get(k, 0.0) for k in after}


class RssSampler:
    """Samples the tree's summed resident set on a daemon thread and keeps
    the peak. Summed RSS counts pages shared between forked workers once
    per process, so it is an upper bound of the true footprint."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        total = sum(p["rss"] for p in scan_tree().values())
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
