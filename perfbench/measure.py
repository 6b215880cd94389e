"""Measurement helpers: percentiles, the streaming checkpoint logs, and
a /proc peak-RSS sampler. Nothing here imports Spark."""

from __future__ import annotations

import json
import os
import statistics
import threading

MIN_BEYOND = 10


def tail_percentile(values, min_beyond: int = MIN_BEYOND):
    """The highest percentile of ``values`` that leaves at least
    ``min_beyond`` samples strictly above it.

    Returns ``(value, percentile, n)``. The value is the sample at
    nearest rank ``n - min_beyond`` (1-based) and the percentile is that
    rank as a share of ``n``; with ties at the top the rank moves down
    until ``min_beyond`` samples lie strictly above. ``None`` replaces
    value and percentile when no sample qualifies."""
    xs = sorted(values)
    n = len(xs)
    rank = n - min_beyond
    while rank >= 1 and sum(1 for x in xs if x > xs[rank - 1]) < min_beyond:
        rank -= 1
    if rank < 1:
        return None, None, n
    return xs[rank - 1], 100.0 * rank / n, n


def median(values) -> float:
    return float(statistics.median(values))


class StreamLog:
    """What a finished streaming query left in its checkpoint: per batch
    the offset-log write (batch start), the commit-log write (batch end,
    after the sink committed) and the files the file source handed it.

    The commit log is written only after ``foreachBatch`` returns, so
    its mtime is the downstream commit time of the batch. Reading the
    checkpoint instead of a progress listener counts the last batch
    too: ``awaitTermination`` can return before the listener bus has
    delivered the final progress event."""

    def __init__(self, checkpoint_dir: str):
        self.start = self._mtimes(os.path.join(checkpoint_dir, "offsets"))
        self.end = self._mtimes(os.path.join(checkpoint_dir, "commits"))
        self.files = self._file_batches(
            os.path.join(checkpoint_dir, "sources", "0"))

    @staticmethod
    def _mtimes(d: str) -> dict[int, float]:
        out = {}
        for name in os.listdir(d) if os.path.isdir(d) else ():
            if name.isdigit():
                out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e9
        return out

    @staticmethod
    def _file_batches(d: str) -> dict[str, int]:
        """File path -> batch id, from the file source's metadata log
        (plain and ``.compact`` entries alike)."""
        out = {}
        for name in os.listdir(d) if os.path.isdir(d) else ():
            if not name.split(".")[0].isdigit():
                continue
            with open(os.path.join(d, name)) as fh:
                for line in fh:
                    line = line.strip()
                    if line.startswith("{"):
                        entry = json.loads(line)
                        out[entry["path"]] = int(entry["batchId"])
        return out

    def committed(self) -> list[int]:
        return sorted(self.end)

    def batch_of(self) -> dict[str, int]:
        """Committed file -> batch id."""
        return {p: b for p, b in self.files.items() if b in self.end}


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss bytes) for every readable process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        out[int(name)] = (int(fields[1]), int(fields[21]) * page)
    return out


def tree_rss(root: int, exclude: set[int] = frozenset()) -> int:
    """Summed RSS of ``root`` and its descendants, minus the subtrees
    rooted at ``exclude``."""
    procs = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in exclude or pid not in procs:
            continue
        total += procs[pid][1]
        stack.extend(children.get(pid, ()))
    return total


class PeakRss:
    """Samples the RSS of this process tree (driver Python, the Spark
    JVM it launched and the JVM's Python workers) on a thread and keeps
    the peak. Use as a context manager around the timed section."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss(me, self.exclude))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
