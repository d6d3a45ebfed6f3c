"""Per-layer metrics of a traced run, and the trace file it writes.

Pass metrics are sums over the ops of one timed pass, reported as the
median over the run's passes; set-up metrics are taken once. A run
reaches these only after at least one timed pass.
"""

from __future__ import annotations

import json
from dataclasses import asdict

from spans import COUNTERS, Span, self_times
from stats import median


def _within(spans: list[Span], name: str) -> dict[int, Span]:
    """The nearest span called ``name`` that encloses each span (the
    span itself included), for the spans that have one."""
    by_id = {s.sid: s for s in spans}
    out = {}
    for s in spans:
        p = s
        while p is not None and p.name != name:
            p = by_id.get(p.parent)
        if p is not None:
            out[s.sid] = p
    return out


def op_breakdown(spans: list[Span]) -> dict[int, dict[str, float]]:
    """Self time per span name inside each op span; the values of one op
    add up to its wall time."""
    selfs = self_times(spans)
    ops = _within(spans, "op")
    out: dict[int, dict[str, float]] = {}
    for s in spans:
        op = ops.get(s.sid)
        if op is not None:
            d = out.setdefault(op.sid, {})
            d[s.name] = d.get(s.name, 0.0) + selfs[s.sid]
    return out


def per_layer(tracer, session_start_s: float, pass_walls: list[float],
              cache_bytes: list[int]) -> dict[str, float]:
    spans = tracer.spans
    passes = {sid: p.attrs["index"] for sid, p in _within(spans, "pass").items()}
    n_pass = len(pass_walls)
    selfs = self_times(spans)

    def pass_sum(name: str, self_time: bool = False) -> float:
        per = [0.0] * n_pass
        for s in spans:
            if s.name == name and s.sid in passes:
                per[passes[s.sid]] += selfs[s.sid] if self_time else s.end - s.start
        return median(per)

    timed = [r for r in tracer.ops if isinstance(r["phase"], int)]

    def op_sum(key: str, agg=sum) -> float:
        per = [[r[key] for r in timed if r["phase"] == i] for i in range(n_pass)]
        return median([agg(xs) if xs else 0 for xs in per])

    def kind_median(kind: str, value) -> float:
        xs = [value(r) for r in timed if r["op"] == kind]
        return median(xs) if xs else 0.0

    fit = [r for r in tracer.ops if r["op"] == "fit"]
    load = [s.end - s.start for s in spans if s.name == "schema.load"]
    m = {
        "session.start_s": session_start_s,
        "schema.load_s": load[0],
        "queries.build_s": pass_sum("queries.build", self_time=True),
        "queries.py4j_calls": op_sum("py4j_calls"),
        "queries.build_jobs": op_sum("build_jobs"),
        "catalyst.plan_s": pass_sum("catalyst.plan"),
        "exec.run_s": op_sum("exec_run_s"),
        "exec.straggler": op_sum("straggler", max),
        "driver.gap_s": pass_sum("driver.gap"),
        "similarity.fit_s": fit[0]["wall_s"] if fit else 0.0,
        "similarity.fit_jobs": fit[0]["jobs"] if fit else 0,
        "similarity.search_s": kind_median("search", lambda r: r["wall_s"] - r["plan_s"]),
        "similarity.search_jobs": kind_median("search", lambda r: r["jobs"]),
        "similarity.append_s": kind_median("append", lambda r: r["wall_s"]),
        "similarity.append_jobs": kind_median("append", lambda r: r["jobs"]),
        "cache.bytes": median(cache_bytes),
        "trace.pass_s": median(pass_walls),
        "trace.collect_s": pass_sum("trace.collect"),
    }
    for key in ("exchanges", "python_evals", "cached_scans"):
        m[f"catalyst.{key}"] = op_sum(key)
    for key in ("jobs", "stages", "tasks", "failed_tasks", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{key}"] = op_sum(key)
    return m


def write_trace(path: str, tracer, args, metrics: dict) -> None:
    """Spans, per-op records (counters and self-time breakdown) and the
    per-layer metrics of one traced run, as JSON."""
    breakdown = op_breakdown(tracer.spans)
    ops = [dict(r, self_s=breakdown.get(r["span"], {})) for r in tracer.ops]
    with open(path, "w") as f:
        json.dump({
            "workload": args.workload,
            "seed": args.seed,
            "counters": list(COUNTERS),
            "metrics": metrics,
            "ops": ops,
            "spans": [asdict(s) for s in tracer.spans],
        }, f, indent=1, default=str)
