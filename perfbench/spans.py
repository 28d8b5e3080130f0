"""Spans around the benchmark's calls into the engine, with Spark's own
per-span runtime numbers.

Each span runs under ``sparkContext.setJobGroup`` with a group id unique
to the span. When it closes, its jobs come from ``statusTracker()`` (the
group's jobs, plus jobs with no group that started while it was the
innermost open span: threads the engine starts itself do not inherit the
group). Their stages are read from ``sc._jsc.sc().statusStore()``:
tasks, executor run time, GC time, shuffle bytes written, input records,
and the submission/completion times that give ``driver_s``, the part of
the span's own time during which none of its stages ran.

With tracing off, ``span()`` returns a shared no-op context manager and
touches nothing in Spark.
"""

from __future__ import annotations

import contextlib
import json
import time

_NOOP = contextlib.nullcontext()
_DONE = ("SUCCEEDED", "FAILED")
# stage fields summed per span: (record key, StageData accessor, scale)
_STAGE_SUMS = (
    ("tasks", "numCompleteTasks", 1),
    ("task_s", "executorRunTime", 1e-3),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("input_records", "inputRecords", 1),
)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, hi = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= hi:
            continue
        total += e - max(s, hi)
        hi = e
    return total


def subtract(window: tuple[float, float], holes: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """``window`` minus the union of ``holes``, as disjoint intervals."""
    out, cur = [], window[0]
    for s, e in sorted(holes):
        if e <= cur:
            continue
        if s > cur:
            out.append((cur, min(s, window[1])))
        cur = max(cur, e)
        if cur >= window[1]:
            break
    if cur < window[1]:
        out.append((cur, window[1]))
    return [(s, e) for s, e in out if e > s]


def clip(intervals, windows) -> list[tuple[float, float]]:
    return [
        (max(s, ws), min(e, we))
        for s, e in intervals
        for ws, we in windows
        if min(e, we) > max(s, ws)
    ]


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.bookkeeping_s = 0.0  # time spent in the tracer's own calls
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._store = self._sc._jsc.sc().statusStore()
        self.enabled = enabled

    @property
    def enabled(self) -> bool:
        return self._enabled

    @enabled.setter
    def enabled(self, on: bool) -> None:
        # jobs that ran while tracing was off belong to no span
        if on:
            self._ungrouped_seen = set(self._tracker.getJobIdsForGroup(None))
        self._enabled = on

    @contextlib.contextmanager
    def wrap(self, module, attr: str, name: str):
        """Record a span around every call of ``module.attr`` made inside
        the block (calls the engine makes internally, which the benchmark
        cannot wrap at its own call sites)."""
        orig = getattr(module, attr)

        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    def span(self, name: str, **attrs):
        """Context manager recording one span; yields its record (or None
        when tracing is off) so the caller can attach counts to it."""
        return self._span(name, attrs) if self.enabled else _NOOP

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        b0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"bench-{rec['id']}"
        self._sc.setJobGroup(group, name)
        rec["t0"] = time.time()
        p0 = time.perf_counter()
        self.bookkeeping_s += p0 - b0
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - p0
            rec["t1"] = rec["t0"] + rec["dur"]
            b0 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(f"bench-{self._stack[-1]['id']}", self._stack[-1]["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self._collect(rec, group)
            self.bookkeeping_s += time.perf_counter() - b0

    def _collect(self, rec: dict, group: str) -> None:
        jobs = set(self._tracker.getJobIdsForGroup(group))
        fresh = set(self._tracker.getJobIdsForGroup(None)) - self._ungrouped_seen
        self._ungrouped_seen |= fresh
        jobs |= fresh
        stage_ids: set[int] = set()
        for jid in sorted(jobs):
            info = self._tracker.getJobInfo(jid)
            deadline = time.monotonic() + 5.0
            # the status listener is asynchronous: wait for the job's end
            while info is not None and info.status not in _DONE and time.monotonic() < deadline:
                time.sleep(0.005)
                info = self._tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        rec["jobs"] = len(jobs)
        rec["stages"] = 0
        for key, _, _ in _STAGE_SUMS:
            rec[key] = 0
        ran: list[tuple[float, float]] = []
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:
                continue  # evicted or never recorded
            if st.status().toString() not in ("COMPLETE", "FAILED"):
                continue  # skipped: its shuffle output was reused
            rec["stages"] += 1
            for key, getter, scale in _STAGE_SUMS:
                rec[key] += getattr(st, getter)() * scale
            sub, done = st.submissionTime(), st.completionTime()
            if sub.isDefined() and done.isDefined():
                ran.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        rec["stage_intervals"] = ran

    # --- derived numbers ---------------------------------------------------

    def finish(self) -> list[dict]:
        """Fill in self time and driver time for every span."""
        return derive(self.spans)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)


def derive(spans: list[dict]) -> list[dict]:
    """Self time (the span minus the part its children cover) and driver
    time (self time during which none of its own stages ran), in place."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        own = subtract((s["t0"], s["t1"]), [(c["t0"], c["t1"]) for c in kids.get(s["id"], [])])
        s["self_s"] = sum(e - b for b, e in own)
        s["driver_s"] = s["self_s"] - union_length(clip(s.pop("stage_intervals"), own))
    return spans


# Span starts are wall-clock reads and durations perf_counter reads, so a
# child may appear to stick out of its parent by a few microseconds.
NEST_TOL_S = 1e-3
# The self times of a span tree sum to its root's duration up to this share.
SELF_SUM_TOL = 1e-3


def check(spans: list[dict], root_name: str) -> list[str]:
    """Problems with a finished span list: a child outside its parent,
    siblings that overlap (the client is one thread), or self times under
    ``root_name`` that do not sum to that span's duration."""
    by_id = {s["id"]: s for s in spans}
    problems = []
    last_end: dict[int | None, float] = {}
    for s in spans:  # in start order
        p = by_id.get(s["parent"])
        if p is not None and (s["t0"] < p["t0"] - NEST_TOL_S or s["t1"] > p["t1"] + NEST_TOL_S):
            problems.append(f"span {s['id']} {s['name']} lies outside its parent {p['id']}")
        if s["t0"] < last_end.get(s["parent"], float("-inf")) - NEST_TOL_S:
            problems.append(f"span {s['id']} {s['name']} overlaps its previous sibling")
        last_end[s["parent"]] = s["t1"]
    roots = [s for s in spans if s["name"] == root_name and s["parent"] is None]
    if len(roots) != 1:
        return problems + [f"{len(roots)} top-level spans named {root_name}"]
    root = roots[0]
    tree = {root["id"]}
    for s in spans:
        if s["parent"] in tree:
            tree.add(s["id"])
    total = sum(by_id[i]["self_s"] for i in tree)
    if abs(total - root["dur"]) > SELF_SUM_TOL * root["dur"]:
        problems.append(f"self times sum to {total:.6f}s, {root_name} took {root['dur']:.6f}s")
    return problems
