"""Spans, job-group attribution and per-op counters, measured from
outside the package.

Every op runs as the same three steps, each a span that is a child of
the op span:

- ``queries.build``: the call into the package that returns a
  DataFrame (Python plan construction, plus any eager jobs it starts);
- ``catalyst.plan``: physical planning of that DataFrame, forced
  explicitly (traced runs only);
- ``sink``: the action, a ``noop`` write.

Each step runs under its own Spark job group, so the jobs an op starts
are read back per step from ``sc.statusTracker()`` and the status store
(both work with the UI disabled). The time jobs run becomes ``exec``
spans inside their step. Driver time between jobs, and an action's
time outside its jobs, become ``driver.gap`` spans. Every span's self time is its length
minus what its children cover, so the self times in one op add up to
the op's wall time.
"""

from __future__ import annotations

import contextlib
import itertools
import re
import time
from dataclasses import dataclass, field

from stats import covered, gaps, merge_intervals

# Node names in a physical plan's tree string.
_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange|ShuffleExchange)\b")
_PYTHON = re.compile(
    r"\b(?:ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsInPandas"
    r"|AggregateInPandas|WindowInPandas|ArrowWindowPython)\b"
)
_CACHED = re.compile(r"\bInMemoryTableScan\b")

#: Stages whose median task runs shorter than this have no straggler:
#: a ratio of a few milliseconds measures scheduling noise, not skew.
STRAGGLER_MIN_MS = 20

#: Counters kept per op; the per-layer metrics sum them over a pass.
COUNTERS = (
    "py4j_calls",
    "build_jobs",
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "exchanges",
    "python_evals",
    "cached_scans",
)


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's length minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start) - covered(kids.get(s.sid, []), s.start, s.end)
        for s in spans
    }


def plan_counts(tree: str) -> dict[str, int]:
    """Exchanges, Python evaluation nodes and cached scans in a
    physical plan's tree string."""
    return {
        "exchanges": len(_EXCHANGE.findall(tree)),
        "python_evals": len(_PYTHON.findall(tree)),
        "cached_scans": len(_CACHED.findall(tree)),
    }


def job_children(step: Span, jobs: list[dict], edges_are_gaps: bool) -> list[tuple]:
    """Child spans of one step: an ``exec`` span per stretch of time in
    which at least one of its jobs ran (clipped to the step; jobs that
    overlap share one span, so self times never count time twice), and
    a ``driver.gap`` per hole between those stretches. With
    ``edges_are_gaps`` the time before the first and after the last job
    is a driver gap too (an action); otherwise it stays the step's own
    time (a build's Python plan construction)."""
    iv = [(max(j["start"], step.start), min(j["end"], step.end), j["job_id"]) for j in jobs]
    busy = merge_intervals([(s, e) for s, e, _ in iv])
    out = [("exec", s, e, {"job_ids": [j for js, je, j in iv if js < e and je > s]})
           for s, e in busy]
    holes = gaps(busy)
    if edges_are_gaps:
        edges = [step.start] + [x for b in busy for x in b] + [step.end]
        holes = list(zip(edges[::2], edges[1::2]))
    out += [("driver.gap", s, e, {}) for s, e in holes if e > s]
    return out


class Py4jCounter:
    """Counts py4j round trips by wrapping the gateway client's
    ``send_command``. Releases of Python-side proxies are not counted:
    they are sent whenever Python's garbage collector frees a proxy, so
    their number depends on timing, not on the work done."""

    _RELEASE = "m\nd\n"

    def __init__(self, spark):
        self.n = 0
        cls = type(spark.sparkContext._gateway._gateway_client)
        orig = cls.send_command
        counter = self

        def send_command(self_, command, *a, **kw):
            if not command.startswith(counter._RELEASE):
                counter.n += 1
            return orig(self_, command, *a, **kw)

        cls.send_command = send_command


class SparkStatus:
    """Reads finished jobs and their stages from the status tracker and
    the status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        self.quantiles = gw.new_array(gw.jvm.double, 2)
        self.quantiles[0] = 0.5
        self.quantiles[1] = 1.0

    def jobs(self, group: str, timeout: float = 10.0) -> list[dict]:
        out = []
        for jid in sorted(self.tracker.getJobIdsForGroup(group)):
            deadline = time.time() + timeout
            while True:
                jd = self.store.job(jid)
                done = jd.completionTime().isDefined()
                if done or time.time() > deadline:
                    break
                time.sleep(0.005)
            stage_ids = list(self.tracker.getJobInfo(jid).stageIds)
            job = {
                "job_id": jid,
                "group": group,
                "status": jd.status().toString(),
                "start": jd.submissionTime().get().getTime() / 1000.0,
                "end": (jd.completionTime().get().getTime() / 1000.0)
                if done else time.time(),
                "tasks": jd.numCompletedTasks(),
                "failed_tasks": jd.numFailedTasks(),
                "stages": jd.numCompletedStages(),
                "stage_data": [self._stage(s) for s in stage_ids],
            }
            out.append(job)
        return out

    def _stage(self, sid: int) -> dict:
        sd = self.store.lastStageAttempt(sid)
        st = {
            "stage_id": sid,
            "status": sd.status().toString(),
            "tasks": sd.numCompleteTasks(),
            "run_ms": sd.executorRunTime(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            "straggler": 1.0,
        }
        if st["tasks"] >= 2:
            summ = self.store.taskSummary(sid, sd.attemptId(), self.quantiles)
            if summ.isDefined():
                rt = summ.get().executorRunTime()
                med, worst = rt.apply(0), rt.apply(1)
                if med >= STRAGGLER_MIN_MS:
                    st["straggler"] = worst / med
        return st

    def cache_bytes(self) -> int:
        return sum(
            i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo()
        )


def job_counters(jobs: list[dict]) -> dict:
    """Counts over one op's jobs; a stage skipped because its output
    was reused counts for nothing."""
    stages = {
        s["stage_id"]: s for j in jobs for s in j["stage_data"] if s["status"] != "SKIPPED"
    }.values()
    return {
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "failed_tasks": sum(j["failed_tasks"] for j in jobs),
        "shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spill_bytes": sum(s["spill_bytes"] for s in stages),
        "straggler": max((s["straggler"] for s in stages), default=1.0),
    }


class Tracer:
    """Runs ops and, when enabled, records spans and counters for them.

    Disabled, an op is only timed: no job groups, no forced planning, no
    status reads."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self._ids = itertools.count()
        self._stack: list[int] = []
        self._ops = itertools.count()
        #: Which part of the run is going on: "setup", "check" or the
        #: number of the timed pass; tagged onto op spans and records.
        self.phase = "setup"
        if enabled:
            self.status = SparkStatus(spark)
            self.py4j = Py4jCounter(spark)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record a span around the ``with`` body, as a child of the
        innermost open span."""
        s = Span(next(self._ids), name, time.time(), 0.0,
                 self._stack[-1] if self._stack else None, attrs)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)

    # -- ops -----------------------------------------------------------
    def _group(self, gid: str) -> None:
        if self.enabled:
            self.spark.sparkContext.setJobGroup(gid, gid)

    def run_op(self, name: str, build, sink=None):
        """Run ``build()`` and then ``sink`` on its result; return
        ``(sink's result, or build's without a sink, wall_s)``. Traced,
        also force planning of the DataFrame before the sink and record
        spans and counters for the op."""
        gid = f"op{next(self._ops)}"
        calls0 = self.py4j.n if self.enabled else 0
        s = None
        with self.span("op", op=name, phase=self.phase) as op:
            with self.span("queries.build") as b:
                self._group(gid + ".build")
                out = build()
            calls = (self.py4j.n - calls0) if self.enabled else 0
            tree, plan_s = "", 0.0
            if sink is not None:
                if self.enabled:
                    with self.span("catalyst.plan") as pl:
                        tree = out._jdf.queryExecution().executedPlan().toString()
                    plan_s = pl.end - pl.start
                with self.span("sink") as s:
                    self._group(gid + ".sink")
                    out = sink(out)
            if self.enabled:
                self.spark.sparkContext.setJobGroup("", "")
        if self.enabled:
            with self.span("trace.collect"):
                self._record(name, op, b, s, gid, calls, tree, plan_s)
        return out, op.end - op.start

    def _record(self, name, op, b, s, gid, calls, tree, plan_s) -> None:
        steps = {gid + ".build": b, gid + ".sink": s}
        groups = [g for g, sp in steps.items() if sp is not None]
        by_group = {g: self.status.jobs(g) for g in groups}
        jobs = [j for g in groups for j in by_group[g]]
        for g in groups:
            step = steps[g]
            for kind, st, en, attrs in job_children(step, by_group[g], g.endswith(".sink")):
                self.spans.append(Span(next(self._ids), kind, st, en, step.sid, attrs))
        rec = {"op": name, "phase": self.phase, "span": op.sid, "wall_s": op.end - op.start,
               "plan_s": plan_s,
               "py4j_calls": calls, "build_jobs": len(by_group[gid + ".build"])}
        rec.update(job_counters(jobs))
        rec.update(plan_counts(tree))
        rec["exec_run_s"] = covered([(j["start"], j["end"]) for j in jobs], op.start, op.end)
        self.ops.append(rec)
