"""Pure measurement helpers of the benchmark: percentiles, the mapping from
a file's publish time to the batch that committed it, spans and their self
times, and process-tree memory read from ``/proc``.  Nothing here imports
Spark."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime, timezone
from typing import Iterable

#: A tail percentile must leave at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def tail_percentile(values: Iterable[float]) -> tuple[float, float, int]:
    """The highest percentile that has at least ``TAIL_MIN_BEYOND`` samples
    beyond it: ``(value, percentile, n)``.  With ``n`` samples that is the
    ``n - TAIL_MIN_BEYOND``-th smallest, the ``100 * (n - 10) / n``-th
    percentile.  With ``TAIL_MIN_BEYOND`` samples or fewer no percentile
    qualifies; then the maximum is returned with percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= TAIL_MIN_BEYOND:
        return xs[-1], 100.0, n
    rank = n - TAIL_MIN_BEYOND  # 1-based rank of the tail sample
    return xs[rank - 1], 100.0 * rank / n, n


def iso_s(stamp: str) -> float:
    """Epoch seconds of a progress timestamp (``2026-01-01T00:00:00.123Z``)."""
    ts = datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return ts.timestamp()


def progress_span_s(progress: dict) -> tuple[float, float]:
    """(start, end) epoch seconds of a micro-batch: its trigger start
    (``timestamp``) and that plus ``durationMs.triggerExecution``."""
    start = iso_s(progress["timestamp"])
    return start, start + progress["durationMs"]["triggerExecution"] / 1000.0


#: Phases of a micro-batch in the order the engine runs them.
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def batch_phase_spans(progress: dict) -> list[tuple[str, float, float]]:
    """The phases of one micro-batch laid end to end from its trigger
    start, as ``(phase, start, end)``.  Progress records give only each
    phase's duration; laying them out in run order places each inside the
    trigger span, which is all the self-time arithmetic needs."""
    t, _ = progress_span_s(progress)
    out = []
    for ph in BATCH_PHASES:
        ms = progress["durationMs"].get(ph)
        if ms:
            out.append((ph, t, t + ms / 1000.0))
            t += ms / 1000.0
    return out


def source_log_batches(source_log_dir: str) -> dict[str, int]:
    """File basename -> batch id, read from a file-source checkpoint log
    (``<checkpoint>/sources/0``): one JSON entry per file after a version
    line, in plain ``N`` files and the ``N.compact`` files that fold them."""
    out: dict[str, int] = {}
    if not os.path.isdir(source_log_dir):
        return out
    for entry in sorted(os.listdir(source_log_dir)):
        if entry.startswith(".") or entry.endswith(".tmp"):
            continue
        with open(os.path.join(source_log_dir, entry)) as fh:
            for line in fh.read().splitlines()[1:]:
                if line.strip():
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def file_times(
    file_batches: list[dict[str, int]], batch_times: list[dict[int, float]]
) -> dict[str, float]:
    """When each file was handled in EVERY query of a job.

    ``file_batches[q]`` maps file -> batch id in query ``q`` and
    ``batch_times[q]`` maps batch id -> a time (its end for completion, its
    start for consumption).  A file's time is the latest over queries; a
    file not yet handled in some query is left out."""
    done: dict[str, float] = {}
    names = set().union(*file_batches) if file_batches else set()
    for name in names:
        times = []
        for fb, bt in zip(file_batches, batch_times):
            b = fb.get(name)
            if b is None or b not in bt:
                break
            times.append(bt[b])
        else:
            done[name] = max(times)
    return done


def max_lag(published: dict[str, float], consumed: dict[str, float]) -> int:
    """The most files that were published but not yet consumed at any one
    moment.  A file never consumed stays in the backlog to the end."""
    events = [(t, 1) for t in published.values()]
    events += [(consumed[f], -1) for f in published if f in consumed]
    lag = peak = 0
    # at equal times count consumption first: a file read in the same
    # instant it lands was never waiting
    for _, d in sorted(events, key=lambda e: (e[0], e[1])):
        lag += d
        peak = max(peak, lag)
    return peak


# --- spans ----------------------------------------------------------------------


class Tracer:
    """In-memory spans ``{id, name, start, end, parent}``, written out as
    JSON at the end of a traced run.  ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = self.add(name, time.time(), None, self._stack[-1] if self._stack else None)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            self.spans[rec]["end"] = time.time()

    def add(self, name: str, start: float, end: float | None, parent: int | None) -> int:
        """Record a span (e.g. one progress record of a query); returns its id."""
        if not self.enabled:
            return -1
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end, "parent": parent})
        return sid

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    that its children cover (children clipped to the parent, overlaps
    counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        ps = by_id.get(s["parent"])
        if ps is not None:
            lo, hi = max(s["start"], ps["start"]), min(s["end"], ps["end"])
            if hi > lo:
                kids.setdefault(ps["id"], []).append((lo, hi))
    return {s["id"]: (s["end"] - s["start"]) - _covered(kids.get(s["id"], [])) for s in spans}


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    """Summed self time per span name."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


# --- process-tree memory ------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def tree_pids(root: int, exclude: Iterable[int] = ()) -> list[int]:
    """``root`` and all its descendants, skipping the subtrees at ``exclude``."""
    skip = set(exclude)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in skip:
            continue
        out.append(pid)
        todo.extend(_children(pid))
    return out


PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def resident_kb(pid: int) -> int:
    """Resident memory of ``pid``.  For the JVM, its RSS from
    ``/proc/<pid>/statm``: a counter read that does not walk (and stall)
    its large address space, and it shares no pages with the rest of the
    tree.  For the other processes, their PSS from ``smaps_rollup``, which
    splits a page shared by forked Python workers among them instead of
    counting it once per fork."""
    try:
        with open(f"/proc/{pid}/comm") as fh:
            if fh.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as fh2:
                    return int(fh2.read().split()[1]) * PAGE_KB
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, IndexError, ValueError):
        pass
    return 0


class MemorySampler:
    """Samples the resident memory of this process's tree every
    ``interval_s`` in a thread and keeps the peak."""

    def __init__(self, exclude: Iterable[int] = (), interval_s: float = 0.2):
        self.exclude = set(exclude)
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(resident_kb(p) for p in tree_pids(me, self.exclude))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval_s)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0
