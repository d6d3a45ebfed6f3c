"""Which per-op counters repeat exactly from run to run.

    python3 layerbench/steadiness.py --workload peaks --seeds 1 2 3

Runs the workload once traced and once untraced per seed (one run at a
time), then prints, for every op kind, each counter's value if it was
the same in every timed op of every traced run, or its range if not.
A later change may rest a claim on a count only if it repeats exactly
here. The report also gives the tracing overhead (median traced pass
minus median untraced pass), how far the op's span self times are from
its wall time, and the spread of each end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
from run import WORK, trace_path  # noqa: E402
from spans import COUNTERS  # noqa: E402


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{' '.join(cmd)} exited with {proc.returncode}")
    return json.loads(lines[-1])


def counter_table(traces: list[dict]) -> dict[str, dict[str, list]]:
    """op kind -> counter -> every value seen in a timed pass."""
    out: dict[str, dict[str, list]] = {}
    for t in traces:
        for r in t["ops"]:
            if isinstance(r["phase"], int):
                per = out.setdefault(r["op"], {})
                for c in COUNTERS:
                    per.setdefault(c, []).append(r[c])
    return out


def accounting_error(traces: list[dict]) -> float:
    """Largest gap between an op's wall time and the sum of the self
    times of its spans."""
    return max((abs(sum(r["self_s"].values()) - r["wall_s"])
                for t in traces for r in t["ops"]), default=0.0)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    p.add_argument("--seconds", type=float, default=10)
    args = p.parse_args()

    traces, traced, plain = [], [], []
    for seed in args.seeds:
        traced.append(run(args.workload, seed, args.seconds, 1))
        with open(trace_path(args.workload, seed)) as f:
            traces.append(json.load(f))
        plain.append(run(args.workload, seed, args.seconds, 0))

    print(f"# {args.workload}: {len(args.seeds)} traced + {len(args.seeds)} untraced runs, "
          f"seeds {args.seeds}\n")
    print("| op | counter | value |\n|---|---|---|")
    table = counter_table(traces)
    for op, per in sorted(table.items()):
        for c in COUNTERS:
            xs = per[c]
            value = f"{xs[0]} (exact, {len(xs)} ops)" if len(set(xs)) == 1 else \
                f"{min(xs)} .. {max(xs)} (varies)"
            print(f"| {op} | {c} | {value} |")

    traced_pass = stats.median([r["metrics"]["trace.pass_s"]["value"] for r in traced])
    plain_pass = stats.median([r["metrics"]["pass_s"]["value"] for r in plain])
    print(f"\ntracing overhead: trace.pass_s {traced_pass:.3f} s - pass_s {plain_pass:.3f} s "
          f"= {traced_pass - plain_pass:+.3f} s ({(traced_pass / plain_pass - 1) * 100:+.1f}%)")
    print(f"span accounting: self times are within {accounting_error(traces) * 1e3:.3f} ms "
          "of each op's wall time")
    print("\n| end-to-end metric | median | IQR / median |\n|---|---|---|")
    for name in plain[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in plain]
        spread = stats.iqr_share(xs) if len(xs) >= 2 else float("nan")
        print(f"| {name} | {stats.median(xs):.4g} | {spread:.3f} |")
    with open(os.path.join(WORK, f"steadiness-{args.workload}.json"), "w") as f:
        json.dump({"counters": table, "traced": traced, "untraced": plain}, f, indent=1)


if __name__ == "__main__":
    main()
