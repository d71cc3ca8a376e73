"""Spans around the benchmark's calls into the engine, plus Spark counters.

A span records name, layer, start, end, parent and trace id (one trace per
timed operation). Each span runs its Spark actions under its own job group,
so the jobs a span started are read back afterwards from outside the
program: ``statusTracker().getJobIdsForGroup`` for the ids,
``statusStore().job(id)`` for submission/completion time and
``statusStore().lastStageAttempt(id)`` for the stage counters. Spans stay in
memory and are written out when the run ends.

The pure helpers at the top hold the arithmetic the report relies on and
are tested in ``test_spans.py``.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1e6


# ---------------------------------------------------------------------------
# Pure helpers
# ---------------------------------------------------------------------------


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]`` when given: overlapping intervals count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(children, start, end)


def driver_gap(start: float, end: float, jobs) -> float:
    """Span wall time minus the union of its job intervals."""
    return (end - start) - union_length(jobs, start, end)


def quantile(samples, q: float) -> float:
    """The ``q`` quantile, interpolated linearly between the two nearest
    ranks (``statistics.quantiles(..., method="inclusive")``). The rank is
    fixed by ``q``, not by how many samples a run collected."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def failed_share(attempted: int, failed: int) -> float:
    """Failed or wrong operations over operations attempted."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    trace: int | None
    parent: int | None
    start: float  # epoch seconds, comparable with Spark job times
    end: float = 0.0
    group: str = ""
    jobs: list = field(default_factory=list)  # per job: dict of counters
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans and their Spark jobs. Disabled, ``span`` is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._trace: int | None = None
        self._pending: list[Span] = []

    @contextmanager
    def trace(self, trace_id: int):
        """All spans opened inside belong to one trace (one operation)."""
        self._trace = trace_id
        try:
            yield
        finally:
            self._trace = None

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            sid=len(self.spans), name=name, layer=layer, trace=self._trace,
            parent=parent.sid if parent else None, start=time.time(),
        )
        sp.group = f"perfbench-{sp.sid}"
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", sp.group)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", parent.group if parent else None)
            self._pending.append(sp)

    def harvest(self) -> None:
        """Attach job and stage counters to the spans closed since the last
        call. Waits for the listener bus so finished jobs are complete."""
        if not self._pending:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in self._pending:
            ids = list(tracker.getJobIdsForGroup(sp.group))
            if sp.layer == "streaming":
                ids += _stream_jobs(store, sp)
            for jid in sorted(ids):
                sp.jobs.append(_job_counters(store, jid))
        self._pending = []


def _stream_jobs(store, sp: Span) -> list[int]:
    """Jobs submitted while ``sp`` was open under a job group that is not a
    span's: a streaming query runs its micro-batches under its own group."""
    out = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        job = it.next()
        group = job.jobGroup()
        if group.isDefined() and group.get().startswith("perfbench-"):
            continue
        submitted = _epoch(job.submissionTime())
        if submitted is not None and sp.start <= submitted <= sp.end:
            out.append(job.jobId())
    return out


def _epoch(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def _job_counters(store, jid: int) -> dict:
    job = store.job(jid)
    out = {
        "id": jid,
        "start": _epoch(job.submissionTime()),
        "end": _epoch(job.completionTime()),
        "failed": job.status().toString() == "FAILED",
        "stages": 0, "tasks": 0, "failed_tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
        "input_b": 0, "shuffle_read_b": 0, "shuffle_write_b": 0, "spill_b": 0,
    }
    it = job.stageIds().iterator()
    while it.hasNext():
        st = store.lastStageAttempt(it.next())
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["failed_tasks"] += st.numFailedTasks()
        out["task_s"] += st.executorRunTime() / 1e3
        out["cpu_s"] += st.executorCpuTime() / 1e9
        out["input_b"] += st.inputBytes()
        out["shuffle_read_b"] += st.shuffleReadBytes()
        out["shuffle_write_b"] += st.shuffleWriteBytes()
        out["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


# ---------------------------------------------------------------------------
# Per-layer roll-up
# ---------------------------------------------------------------------------

# Span layers whose self time is reported; "step" is a top-level step's own
# self time (driver time between the traced calls).
LAYERS = ("plans", "catalyst", "exec", "etl", "ml", "sources", "streaming", "step")


def _subtree(spans: list[Span], root: Span) -> list[Span]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.sid, []))
    return out


def layer_metrics(spans: list[Span], root: Span) -> dict[str, float]:
    """Per-layer metrics of ``root`` and every span below it."""
    sub = _subtree(spans, root)
    children: dict[int, list[Span]] = {}
    for s in sub:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    own = {lay: 0.0 for lay in LAYERS}
    build_s = build_jobs = fit_jobs = 0.0
    jobs, job_iv = [], []
    for s in sub:
        st = self_time(s.start, s.end, [(c.start, c.end) for c in children.get(s.sid, [])])
        if s.layer in own:
            own[s.layer] += st
        s_iv = [(j["start"], j["end"]) for j in s.jobs if j["start"] and j["end"]]
        jobs.extend(s.jobs)
        job_iv.extend(s_iv)
        if s.layer == "plans":
            build_s += st - union_length(s_iv, s.start, s.end)
            build_jobs += len(s.jobs)
        if s.layer == "ml":
            fit_jobs += sum(len(d.jobs) for d in _subtree(spans, s))
    wall = root.end - root.start
    m = {
        "wall_s": wall,
        "plans.build_s": build_s,
        "plans.build_jobs": build_jobs,
        "catalyst.plan_s": own["catalyst"],
        "etl.star_s": own["etl"],
        "ml.fit_s": own["ml"],
        "ml.fit_jobs": fit_jobs,
        "sources.write_s": own["sources"],
        "streaming.ingest_s": own["streaming"],
        "sources.write_mb": sum(s.attrs.get("bytes", 0) for s in sub) / MB,
        "sources.files_written": sum(s.attrs.get("files", 0) for s in sub),
        "sources.scan_mb": sum(j["input_b"] for j in jobs) / MB,
        "exec.jobs": len(jobs),
        "exec.failed_jobs": sum(j["failed"] for j in jobs),
        "exec.stages": sum(j["stages"] for j in jobs),
        "exec.tasks": sum(j["tasks"] for j in jobs),
        "exec.failed_tasks": sum(j["failed_tasks"] for j in jobs),
        "exec.job_s": union_length(job_iv, root.start, root.end),
        "exec.task_s": sum(j["task_s"] for j in jobs),
        "exec.cpu_s": sum(j["cpu_s"] for j in jobs),
        "exec.shuffle_read_mb": sum(j["shuffle_read_b"] for j in jobs) / MB,
        "exec.shuffle_write_mb": sum(j["shuffle_write_b"] for j in jobs) / MB,
        "exec.spill_mb": sum(j["spill_b"] for j in jobs) / MB,
        "driver.gap_s": driver_gap(root.start, root.end, job_iv),
    }
    m.update({f"self.{lay}_s": v for lay, v in own.items()})
    return m
