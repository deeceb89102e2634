"""Spans, per-call timings and hop statistics for the benchmark.

Spans are recorded from the benchmark's own files, around each call into an
engine module; they stay in memory and are written out when the run ends.
Hop-batch spans are rebuilt afterwards from each streaming query's
``StreamingQueryProgress`` records and become the parents of the call spans
made inside that batch (matched by query and batch id).
"""

from __future__ import annotations

import itertools
import json
import resource
import statistics
import threading
import time
from contextlib import contextmanager
from datetime import datetime, timezone


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sequence."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100 * len(s) + 0.5)) - 1))
    return float(s[k])


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


class Tracer:
    """Records spans when ``enabled``; always a no-op otherwise, so untraced
    runs pay nothing for it. A span is (id, name, start, end, parent, ids,
    hop, batch): ``ids`` are the ODS file ids or the query id it serves."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, ids=(), hop: str | None = None, batch: int | None = None):
        """Yields the span record; the block may set ``rec["ids"]`` once it
        knows which files or query it served."""
        rec = {"name": name, "ids": list(ids), "hop": hop, "batch": batch}
        if not self.enabled:
            yield rec
            return
        rec["id"] = next(self._ids)
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec["parent"] = stack[-1] if stack else None
        stack.append(rec["id"])
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000 for s in self.spans if s["name"] == name]

    def p50_ms(self, name: str) -> float:
        return median(self.durations_ms(name))

    def add_hop_spans(self, hop: str, progress: list[dict]) -> None:
        """Rebuild one span per micro-batch of ``hop`` from its progress
        records and re-parent that batch's root call spans under it."""
        by_batch = {}
        for p in progress:
            t0 = progress_start(p)
            sid = next(self._ids)
            rec = {"id": sid, "name": f"runner.{hop}", "start": t0,
                   "end": t0 + p["durationMs"].get("triggerExecution", 0) / 1000,
                   "parent": None, "ids": [], "hop": hop, "batch": p["batchId"]}
            self.spans.append(rec)
            by_batch[p["batchId"]] = sid
        recs = {s["id"]: s for s in self.spans}
        for s in self.spans:
            if s["hop"] == hop and s["parent"] is None and s["batch"] in by_batch \
                    and not s["name"].startswith("runner."):
                s["parent"] = by_batch[s["batch"]]
                parent = recs[s["parent"]]
                parent["ids"] = sorted(set(parent["ids"]) | set(s["ids"]))

    def self_times(self) -> dict[str, dict]:
        """Per span name: total, self time (duration minus the union of its
        children's intervals) and count, in ms."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, dict] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            agg = out.setdefault(s["name"], {"n": 0, "total_ms": 0.0, "self_ms": 0.0})
            agg["n"] += 1
            agg["total_ms"] += dur * 1000
            agg["self_ms"] += max(0.0, dur - covered) * 1000
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def progress_start(p: dict) -> float:
    """Epoch seconds at which the micro-batch started."""
    ts = p["timestamp"].rstrip("Z")
    return datetime.fromisoformat(ts).replace(tzinfo=timezone.utc).timestamp()


def progress_end(p: dict) -> float:
    return progress_start(p) + p["durationMs"].get("triggerExecution", 0) / 1000


def hop_stats(progress: list[dict], upstream_commits: list[float],
              window: tuple[float, float]) -> dict[str, float]:
    """Runner metrics of one hop from its progress records.

    ``upstream_commits``: times at which input became available to the hop
    (an upstream batch's commit, or an ODS file's due time); ``wait`` is the
    time from each of those to the start of the first batch of this hop that
    began after it. ``busy_frac`` is trigger time over the measured window.
    """
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    lo, hi = window
    starts = sorted(progress_start(p) for p in data)
    waits = []
    j = 0
    for c in sorted(upstream_commits):
        while j < len(starts) and starts[j] < c:
            j += 1
        if j < len(starts):
            waits.append((starts[j] - c) * 1000)
    d = lambda p, k: p["durationMs"].get(k, 0)  # noqa: E731
    busy = sum(d(p, "triggerExecution") for p in progress
               if lo <= progress_start(p) <= hi) / 1000
    return {
        "batches": float(len(data)),
        "trigger_ms_p50": median([d(p, "triggerExecution") for p in data]),
        "plan_ms_p50": median([d(p, "queryPlanning") for p in data]),
        "offset_commit_ms_p50": median([d(p, "walCommit") + d(p, "commitOffsets") for p in data]),
        "wait_ms_p50": median(waits),
        "busy_frac": busy / max(hi - lo, 1e-9),
    }


def mem_retained_mb(spark) -> float:
    """Memory the workload holds once its load is done: the driver JVM's
    heap after a full collection plus its non-heap use (metaspace, code
    cache), plus the Python driver's peak RSS. The JVM's heap is committed
    and pre-touched whole at start-up, so neither its RSS nor the peak of
    its young generation (sized to fill the heap) says anything about the
    workload; what survives a collection (state stores, caches, plans) does."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / 2**20 + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
