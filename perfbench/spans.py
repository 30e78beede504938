"""Measurement helpers: span recorder, streaming progress listener, process
tree memory sampler and percentile helpers.

Spans are kept in memory and written out once, at the end of a run. All
spans of one run share its ``run_id``. The listener reads Spark's
``StreamingQueryProgress`` in full (per-phase durations, per-operator state
store counters), which the program's own progress capture does not keep.
"""

from __future__ import annotations

import bisect
import json
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone


def percentile(values, q: float) -> float:
    """Linearly interpolated percentile, ``q`` in [0, 100]."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def progress_start_s(p: dict) -> float:
    """Epoch seconds of a progress record's batch start."""
    return datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ") \
        .replace(tzinfo=timezone.utc).timestamp()


class Tracer:
    """In-memory span recorder. A no-op when disabled, so untraced runs pay
    one attribute check per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._stack = threading.local()

    def _parents(self) -> list:
        st = getattr(self._stack, "ids", None)
        if st is None:
            st = self._stack.ids = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        parents = self._parents()
        sid = uuid.uuid4().hex[:16]
        rec = {"run_id": self.run_id, "id": sid, "name": name,
               "parent": parents[-1] if parents else None,
               "start": time.time(), "end": None}
        parents.append(sid)
        self.overhead_s += time.perf_counter() - c0
        try:
            yield rec
        finally:
            c1 = time.perf_counter()
            rec["end"] = time.time()
            parents.pop()
            with self._lock:
                self.spans.append(rec)
            self.overhead_s += time.perf_counter() - c1

    def add(self, name: str, start: float, end: float,
            parent: str | None = None, **attrs) -> str:
        """Record a span whose interval was measured elsewhere (a
        micro-batch and its phases, from Spark's progress report)."""
        sid = uuid.uuid4().hex[:16]
        with self._lock:
            self.spans.append({"run_id": self.run_id, "id": sid, "name": name,
                               "parent": parent, "start": start, "end": end,
                               **attrs})
        return sid

    def self_times_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the part of each span's
        interval that its children cover."""
        kids: dict[str, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] = out.get(s["name"], 0.0) + \
                (s["end"] - s["start"] - covered) * 1000.0
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def make_progress_listener(tracer: Tracer):
    """A ``StreamingQueryListener`` that keeps every progress record (as
    parsed JSON, keyed by query name) and, while tracing, adds one span per
    micro-batch with a child span per progress phase."""
    from pyspark.sql.streaming import StreamingQueryListener

    phases = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
              "addBatch", "commitOffsets")

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.by_query: dict[str, list[dict]] = {}
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def onQueryProgress(self, event):
            c0 = time.perf_counter()
            p = json.loads(event.progress.json)
            with self._lock:
                self.by_query.setdefault(p.get("name") or p["id"], []).append(p)
            start = progress_start_s(p)
            dur = p.get("durationMs", {})
            bid = tracer.add("streaming.batch", start,
                             start + dur.get("triggerExecution", 0) / 1000.0,
                             query=p.get("name"), batch=p["batchId"])
            t = start
            for ph in phases:
                if ph in dur:
                    tracer.add(f"streaming.{ph}", t, t + dur[ph] / 1000.0, bid)
                    t += dur[ph] / 1000.0
            tracer.overhead_s += time.perf_counter() - c0

        def wait_for(self, name: str, last_batch: int,
                     timeout_s: float = 10.0) -> list[dict]:
            """Progress of query ``name`` once the record for
            ``last_batch`` has been delivered (delivery is asynchronous)."""
            end = time.time() + timeout_s
            while time.time() < end:
                with self._lock:
                    got = list(self.by_query.get(name, []))
                if any(p["batchId"] >= last_batch for p in got):
                    return got
                time.sleep(0.02)
            return got

    return ProgressLog()


def process_tree(root: int, exclude=()) -> list[int]:
    """``root`` and every live process descended from it, from /proc,
    leaving out the subtrees rooted at ``exclude``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid not in exclude:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


class RssSampler:
    """Samples the summed resident memory of a process tree (this Python
    process, the JVM it launched and the JVM's Python workers) on a background
    thread and keeps the peak. Subtrees rooted at ``exclude`` pids (the
    benchmark's own generator) are left out."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root = root_pid
        self.interval = interval_s
        self.exclude: set[int] = set()
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in process_tree(self.root, self.exclude):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_bytes / (1024 * 1024)


def backlog_series(due_ms: list[int], consumed: list[tuple[float, int]]
                   ) -> tuple[float, float]:
    """Mean backlog (events due but not yet consumed) at each batch end and
    its least-squares slope in events per second. ``due_ms`` is sorted;
    ``consumed`` is (batch end epoch s, cumulative rows consumed)."""
    pts = [(t, bisect.bisect_right(due_ms, t * 1000.0) - c)
           for t, c in consumed]
    if not pts:
        return 0.0, 0.0
    mean_b = sum(b for _, b in pts) / len(pts)
    if len(pts) < 2:
        return mean_b, 0.0
    mt = sum(t for t, _ in pts) / len(pts)
    var = sum((t - mt) ** 2 for t, _ in pts)
    slope = sum((t - mt) * (b - mean_b) for t, b in pts) / var if var else 0.0
    return mean_b, slope
