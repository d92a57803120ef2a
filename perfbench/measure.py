"""Outside-in measurements: process-tree memory and bytes written.

Both read the operating system's view (``/proc`` and the target
directories), so neither touches the program under test.
"""

from __future__ import annotations

import os
import threading

import pyarrow.parquet as pq


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant, via /proc children lists."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
            except OSError:
                continue
    return out


def _footprint_pids(root: int) -> list[int]:
    """The tree minus JVM children that have not yet replaced the JVM
    image: the JVM starts helper commands (file permission changes,
    for one) by vfork-then-exec, and until the exec such a child
    reports the whole JVM's resident set as its own."""
    pids = tree_pids(root)
    parent = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                parent[pid] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            parent[pid] = 0
    keep = []
    for pid in pids:
        exe = _exe(pid)
        if os.path.basename(exe) == "java" and exe == _exe(parent[pid]):
            continue
        keep.append(pid)
    return keep


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident set of this process and all its descendants (the
    Python driver, the JVM and Spark's Python workers), sampled on a
    background thread every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = sum(_rss_kb(p) for p in _footprint_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


class WriteMeter:
    """Bytes (and parquet rows) of files newly created under a
    directory since the last call.  A file is new when its
    (path, inode, mtime, size) was not present at the previous scan,
    so a table rewritten in place counts in full, every time."""

    def __init__(self, root: str) -> None:
        self.root = root
        self._seen: set = set()

    def _scan(self) -> set:
        found = set()
        for d, _dirs, files in os.walk(self.root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                found.add((p, st.st_ino, st.st_mtime_ns, st.st_size))
        return found

    def reset(self) -> None:
        self._seen = self._scan()

    def delta(self, rows: bool = False) -> tuple[int, int]:
        """``(bytes, parquet_rows)`` of files new since the last call;
        rows are read from parquet footers only when asked for."""
        cur = self._scan()
        new = cur - self._seen
        self._seen = cur
        n_bytes = sum(e[3] for e in new)
        n_rows = 0
        if rows:
            for p, *_ in new:
                if p.endswith(".parquet") and os.path.exists(p):
                    n_rows += pq.read_metadata(p).num_rows
        return n_bytes, n_rows
