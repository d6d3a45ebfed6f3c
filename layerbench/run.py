"""Run one workload of the benchmark and print its metrics.

    python3 layerbench/run.py --workload peaks --seed 1 --seconds 20 --trace 0

Run from the repository root. One process, one Spark session on
``local[<cores>]``, one closed-loop client: set-up, one checked pass
(outputs compared with the DuckDB oracle; it also warms the JIT), then
timed passes until ``--seconds`` have passed and the workload's
minimum pass count is reached, then teardown. The last line of stdout
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
with ``--trace 0`` it carries the end-to-end metrics, with ``--trace
1`` the per-layer ones (and the spans are written to
``.work/trace-<workload>-<seed>.json``).
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: The input tables, copies of the harness tables: ``<scale>/<table>.parquet``.
DATA = os.path.join(HERE, "data")

#: A run that has not finished by then is killed, so it never exceeds 180 s.
DEADLINE_S = 170.0
#: Driver heap of the benchmark's session, fixed so memory is comparable.
DRIVER_MEMORY = "2g"


def declared_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    ``BENCHMARK.json`` declares; a run prints exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def trace_path(workload: str, seed: int) -> str:
    """Where a traced run writes its spans and per-op records."""
    return os.path.join(WORK, f"trace-{workload}-{seed}.json")


def parse_args(argv):
    import argparse

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def set_environment() -> dict[str, str]:
    """Environment of the session, set before the JVM starts: one Spark
    core per host core, a fixed driver heap, the repository on the
    workers' path and every scratch directory inside ``.work``. Returns
    the Spark confs that go with it."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}",
    }


def main(argv=None) -> int:
    import time

    import procs

    age0 = procs.process_age_s()
    t_start = time.time() - age0
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import __spark_entry__ as entry  # noqa: F401 - the registry the ops use
        import myodish_peak_analysis_spark  # noqa: F401
    except ImportError as e:
        print(f"run.py: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    conf = set_environment()

    import threading

    import check
    import stats
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"run.py: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    Workload = WORKLOADS[args.workload]

    def overdue():
        print(f"run.py: no result after {DEADLINE_S:.0f} s, giving up", file=sys.stderr)
        for p in procs.descendants(os.getpid()):
            try:
                os.kill(p, 9)
            except OSError:
                pass
        os._exit(3)

    watchdog = threading.Timer(DEADLINE_S - age0, overdue)
    watchdog.daemon = True
    watchdog.start()

    # Benchmark-only work (oracle answers, output comparison) is timed
    # so it can be left out of setup_s.
    t0 = time.time()
    sqls = {name: entry.oracle_sql()[name] for name in Workload.oracles}
    expected = check.oracle_frames(
        os.path.join(DATA, Workload.scale), sqls, os.path.join(WORK, "oracle"))
    bench_only = time.time() - t0

    from myodish_peak_analysis_spark.session import get_spark
    from spans import Tracer

    workload = Workload(args.seed, expected)
    with procs.PeakRss() as rss:
        t = time.time()
        spark = get_spark(app_name=f"layerbench-{args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.time() - t
        tracer = Tracer(spark, bool(args.trace))
        try:
            workload.setup(spark, tracer, os.path.join(DATA, Workload.scale))
            tracer.phase = "check"
            checked = workload.run_pass(tracer, check=True)
            # the comparison is the part of the checked pass no user pays
            bench_only += sum(r.get("compare_s", 0.0) for r in checked)
            ok = all(r["ok"] for r in checked)
            first_op = time.time()
            setup_s = first_op - t_start - bench_only
            timed, pass_walls, cache_bytes = [], [], []
            n = 0
            while ok and (time.time() - first_op < args.seconds or n < Workload.min_passes):
                tracer.phase = n
                with tracer.span("pass", index=n) as sp:
                    recs = workload.run_pass(tracer, check=False)
                pass_walls.append(sp.end - sp.start)
                if args.trace:
                    cache_bytes.append(tracer.status.cache_bytes())
                timed += recs
                ok = all(r["ok"] for r in recs)
                n += 1
        finally:
            killed = procs.stop_spark(spark)
    watchdog.cancel()
    if killed:
        print(f"run.py: killed {len(killed)} processes left after teardown", file=sys.stderr)

    records = checked + timed
    failed = sum(1 for r in records if not r["ok"])
    attempted = len(records)
    for r in records:
        if r["reason"]:
            print(f"run.py: {r['kind']} failed: {r['reason']}", file=sys.stderr)

    print("passes: " + " ".join(f"{w:.3f}" for w in pass_walls) + " s")
    walls = {}
    for r in timed:
        if r["ok"]:
            walls.setdefault(r["kind"], []).append(r["wall_s"])
    for kind, xs in sorted(walls.items()):
        line = f"{kind}: n={len(xs)} p50={stats.median(xs):.4f} s"
        if len(xs) > stats.TAIL_MIN_BEYOND:
            v, pct, cnt = stats.tail(xs)
            line += f" tail=p{pct:.0f} {v:.4f} s ({cnt} samples)"
        print(line)

    ok_frac = (attempted - failed) / attempted
    units = declared_units("per_layer" if args.trace else "end_to_end")
    if not pass_walls:  # the run failed before its first timed pass
        metrics = dict.fromkeys(units, 0.0) | {"ok_frac": ok_frac}
    elif args.trace:
        import layers

        metrics = layers.per_layer(tracer, session_start_s, pass_walls, cache_bytes)
        layers.write_trace(trace_path(args.workload, args.seed), tracer, args, metrics)
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": stats.median(pass_walls),
            "op_s.p50": stats.median([w for xs in walls.values() for w in xs] or [0.0]),
            "ok_frac": ok_frac,
            "peak_rss_mb": rss.peak / 2**20,
        }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
