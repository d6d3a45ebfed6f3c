"""The benchmark's own arithmetic: tail selection, span self time and
job-group attribution.

    python3 -m pytest layerbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402
from spans import (  # noqa: E402
    Span,
    job_children,
    job_counters,
    plan_counts,
    self_times,
)


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(1 for x in xs if x > value) == 10


def test_tail_smallest_sample_counts():
    value, pct, n = stats.tail([5.0, 1.0, 3.0, 2.0, 4.0, 9.0, 8.0, 7.0, 6.0, 11.0, 10.0, 12.0])
    assert (value, n) == (2.0, 12)
    assert pct == pytest.approx(100 * 2 / 12)
    assert stats.tail([3.0] * 11)[:2] == (3.0, pytest.approx(100 / 11))


def test_tail_needs_more_than_ten():
    with pytest.raises(ValueError):
        stats.tail(range(10))


def test_median_and_spread():
    assert stats.median([3, 1, 2, 10]) == 2.5
    # quartiles of 1..9 (exclusive method): 2.5, 5, 7.5
    assert stats.iqr_share(range(1, 10)) == pytest.approx(5 / 5)


def test_intervals():
    assert stats.merge_intervals([(3, 4), (0, 2), (1, 3), (6, 5)]) == [(0, 4)]
    assert stats.covered([(0, 2), (1, 3), (5, 9)], 1, 6) == pytest.approx(3)
    assert stats.gaps([(0, 1), (2, 3), (2.5, 4), (6, 7)]) == [(1, 2), (4, 6)]


def _op_tree():
    """op [0, 10]: build [0, 3] with an eager job [1, 2]; a gap of
    untraced time [3, 4]; sink [4, 10] with overlapping jobs [5, 7] and
    [6, 8]."""
    op = Span(0, "op", 0.0, 10.0, None)
    build = Span(1, "queries.build", 0.0, 3.0, 0)
    sink = Span(2, "sink", 4.0, 10.0, 0)
    spans = [op, build, sink]
    sid = 3
    for step, jobs, edges in ((build, [{"job_id": 0, "start": 1.0, "end": 2.0}], False),
                              (sink, [{"job_id": 1, "start": 5.0, "end": 7.0},
                                      {"job_id": 2, "start": 6.0, "end": 8.0}], True)):
        for name, s, e, attrs in job_children(step, jobs, edges):
            spans.append(Span(sid, name, s, e, step.sid, attrs))
            sid += 1
    return spans


def test_self_times_add_up_to_the_op():
    spans = _op_tree()
    selfs = self_times(spans)
    by_name: dict[str, float] = {}
    for s in spans:
        by_name[s.name] = by_name.get(s.name, 0.0) + selfs[s.sid]
    assert by_name["queries.build"] == pytest.approx(2.0)  # Python before and after the job
    assert by_name["sink"] == pytest.approx(0.0)  # an action's edges are driver gaps
    assert by_name["driver.gap"] == pytest.approx(1.0 + 2.0)  # [4,5] and [8,10]
    assert by_name["exec"] == pytest.approx(1.0 + 3.0)  # overlapping jobs counted once
    assert by_name["op"] == pytest.approx(1.0)  # [3, 4]
    assert sum(selfs.values()) == pytest.approx(10.0)
    exec_spans = [s for s in spans if s.name == "exec"]
    assert [s.attrs["job_ids"] for s in exec_spans] == [[0], [1, 2]]


def test_build_gaps_are_only_between_jobs():
    step = Span(0, "queries.build", 0.0, 5.0, None)
    kids = job_children(step, [{"job_id": 1, "start": 1.0, "end": 2.0},
                               {"job_id": 2, "start": 3.0, "end": 4.0}], False)
    assert [k[:3] for k in kids] == [
        ("exec", 1.0, 2.0), ("exec", 3.0, 4.0), ("driver.gap", 2.0, 3.0)]
    # a job that outlives its step is clipped to it
    kids = job_children(step, [{"job_id": 1, "start": 4.0, "end": 9.0}], True)
    assert [k[:3] for k in kids] == [("exec", 4.0, 5.0), ("driver.gap", 0.0, 4.0)]
    # an action without jobs is all driver time
    assert [k[:3] for k in job_children(step, [], True)] == [("driver.gap", 0.0, 5.0)]


def test_job_counters_skip_reused_stages():
    shared = {"stage_id": 7, "status": "COMPLETE", "shuffle_read_bytes": 0,
              "shuffle_write_bytes": 100, "spill_bytes": 0, "straggler": 1.5}
    skipped = dict(shared, stage_id=8, status="SKIPPED", shuffle_write_bytes=999, straggler=9.0)
    last = {"stage_id": 9, "status": "COMPLETE", "shuffle_read_bytes": 100,
            "shuffle_write_bytes": 0, "spill_bytes": 4, "straggler": 3.0}
    jobs = [{"tasks": 1, "failed_tasks": 0, "stages": 1, "stage_data": [shared]},
            {"tasks": 8, "failed_tasks": 1, "stages": 1, "stage_data": [shared, skipped, last]}]
    c = job_counters(jobs)
    assert c == {"jobs": 2, "stages": 2, "tasks": 9, "failed_tasks": 1,
                 "shuffle_read_bytes": 100, "shuffle_write_bytes": 100,
                 "spill_bytes": 4, "straggler": 3.0}


def test_plan_counts():
    tree = """AdaptiveSparkPlan isFinalPlan=false
+- Project [a#1]
   +- BroadcastHashJoin [k#2], [k#3], Inner, BuildRight
      :- ArrowEvalPython [f(a#1)#4], [pythonUDF0#5], 200
      :  +- Exchange hashpartitioning(k#2, 8), ENSURE_REQUIREMENTS, [plan_id=1]
      :     +- InMemoryTableScan [a#1, k#2]
      +- BroadcastExchange HashedRelationBroadcastMode(List(k#3),false), [plan_id=2]
         +- Scan parquet [k#3]"""
    assert plan_counts(tree) == {"exchanges": 2, "python_evals": 1, "cached_scans": 1}


@pytest.fixture(scope="module")
def spark():
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("layerbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    yield s
    s.stop()


def test_job_groups_on_a_toy_plan(spark):
    """An eager count inside the build is a build job; the grouped
    aggregate's jobs belong to the sink; self times account for the op."""
    from pyspark.sql import functions as F

    from layers import op_breakdown
    from spans import Tracer

    tracer = Tracer(spark, enabled=True)

    def build():
        spark.range(10).collect()  # one job, run eagerly while building
        return spark.range(1000).groupBy((F.col("id") % 3).alias("k")).count()

    out, wall = tracer.run_op("toy", build, lambda df: df.collect())
    assert sorted(r["count"] for r in out) == [333, 333, 334]
    rec = tracer.ops[0]
    assert rec["build_jobs"] == 1
    assert rec["jobs"] >= 2
    assert rec["exchanges"] >= 1
    parents = {s.sid: s.name for s in tracer.spans}
    job_ids: dict[str, list[int]] = {}
    for s in tracer.spans:
        if s.name == "exec":
            job_ids.setdefault(parents[s.parent], []).extend(s.attrs["job_ids"])
    assert len(job_ids["queries.build"]) == 1
    assert len(job_ids["queries.build"]) + len(job_ids["sink"]) == rec["jobs"]
    breakdown = op_breakdown(tracer.spans)[rec["span"]]
    assert sum(breakdown.values()) == pytest.approx(wall, abs=0.05)
