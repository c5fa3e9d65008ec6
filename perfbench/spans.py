"""In-memory spans for the traced run, and readers of Spark's status store.

Every span has a name, a start and end (perf_counter seconds), a parent
(index into the span list) and the id of the operation it belongs to.
The benchmark opens spans around its own calls into each layer; after an
operation ends it adds, from Spark's public status store, one span per
Catalyst phase of each collected DataFrame and one span per executed
stage of the operation's job group. Those are parented by time: under
the deepest benchmark span of the operation that was open when they
started.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

# Catalyst phase names in QueryPlanningTracker.
PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        # perf_counter = epoch seconds - offset (Spark reports epoch ms)
        self._offset = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "op": self.op,
        })
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace owner.attr with a copy that records a span when tracing
        is on. functools.wraps keeps the qualified name, so a wrapped
        function shipped to a Python worker pickles by reference to the
        original."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def perf(self, epoch_ms: int) -> float:
        """A Spark timestamp (epoch ms) on the perf_counter clock."""
        return epoch_ms / 1000.0 - self._offset

    def attach(self, root: int, name: str, start_epoch_ms: int, end_epoch_ms: int) -> None:
        """Add a span reported by Spark under the deepest span of the
        operation rooted at `root` that contains its start."""
        start, end = self.perf(start_epoch_ms), self.perf(end_epoch_ms)
        parent = root
        for i in range(root, len(self.spans)):
            s = self.spans[i]
            if not s.get("ext") and s["start"] <= start <= s["end"]:
                parent = i
        self.spans.append({"name": name, "start": start, "end": end, "parent": parent,
                           "op": self.spans[root]["op"], "ext": True})


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def wait_for_listener(spark) -> None:
    """Stage and job records reach the status store through the listener
    bus; drain it before reading them."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)


def job_group_stages(spark, group: str) -> tuple[list[dict], list[dict]]:
    """(jobs, executed stages) of a job group, read from the status store.
    Skipped stages (no submission time) are left out."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    jobs, stages, seen = [], [], set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        jobs.append({"id": jid, "submitted": _opt_ms(store.job(jid).submissionTime())})
        for sid in (info.stageIds if info else []):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:
                continue
            start, end = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
            if start is None or end is None:
                continue
            stages.append({
                "start": start, "end": end,
                "tasks": st.numCompleteTasks(),
                "task_cpu_s": st.executorCpuTime() / 1e9,
                "gc_s": st.jvmGcTime() / 1e3,
                "input_bytes": st.inputBytes(),
                "output_bytes": st.outputBytes(),
                "output_records": st.outputRecords(),
                "shuffle_read_bytes": st.shuffleReadBytes(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "shuffle_write_records": st.shuffleWriteRecords(),
                "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            })
    return jobs, stages


def catalyst_phases(df) -> dict[str, tuple[int, int]]:
    """{phase: (start epoch ms, end epoch ms)} from the DataFrame's
    QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in PHASES:
        if phases.contains(p):
            s = phases.apply(p)
            out[p] = (s.startTimeMs(), s.endTimeMs())
    return out


def union(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals."""
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


def self_times(spans: list[dict], ops=lambda op: True) -> dict[str, float]:
    """Seconds of self time per span name, over the spans whose operation
    id passes `ops`: a span's duration minus the part of it its children
    cover. Stage spans overlap each other, so the `exec.stage` entry is
    the union of the stage intervals under each parent, clipped to that
    parent."""
    children: dict[int, list[tuple[float, float]]] = {}
    stages: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        p = s["parent"]
        if p is None or not ops(s["op"]):
            continue
        lo, hi = spans[p]["start"], spans[p]["end"]
        iv = (max(s["start"], lo), min(s["end"], hi))
        if iv[1] <= iv[0]:
            continue
        children.setdefault(p, []).append(iv)
        if s["name"] == "exec.stage":
            stages.setdefault(p, []).append(iv)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        if s["name"] == "exec.stage" or not ops(s["op"]):
            continue
        own = (s["end"] - s["start"]) - union(children.get(i, []))
        out[s["name"]] = out.get(s["name"], 0.0) + own
    out["exec.stage"] = sum(union(v) for v in stages.values())
    return out
