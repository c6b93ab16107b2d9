"""Steadiness mode: run one workload N times, each with another seed, and
report each end-to-end metric's spread against its bound.

    python3 perfbench/steady.py --workload tpch_lake --runs 10 [--traced 2]

The spread of a metric is the distance between the first and third
quartile of its N values (``statistics.quantiles(values, n=4)``) as a
share of their median. A metric is steady when its spread stays below a
third of its BENCHMARK.json bound. ``--traced K`` adds K traced runs and reports
the tracing overhead: traced minus untraced medians of the end-to-end
numbers. Runs are sequential; each is a separate ``run.py`` process.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {proc.returncode})")
    out = json.loads(lines[-1])
    if not out["correct"] or out["failed"]:
        raise SystemExit(f"incorrect run: {out}")
    values = {k: m["value"] for k, m in out["metrics"].items()}
    for line in proc.stderr.splitlines():
        if line.startswith("# e2e ") and trace:
            values = json.loads(line[len("# e2e "):])
        if line.startswith(("# detail ", "# file ", "# op ", "# report ", "# generate", "# setup_s")):
            print(line, file=sys.stderr)
    return values


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    runs = []
    for i in range(args.runs):
        runs.append(one_run(args.workload, args.seed0 + i, args.seconds, 0))
        print(f"# run {i + 1}/{args.runs}: {json.dumps(runs[-1])}", file=sys.stderr,
              flush=True)
    report, steady = {}, True
    for name in runs[0]:
        vals = [r[name] for r in runs]
        row = {"median": statistics.median(vals), "spread": spread(vals),
               "bound": bounds.get(name)}
        if row["bound"] is not None:
            row["steady"] = row["spread"] < row["bound"] / 3
            steady &= row["steady"]
        report[name] = row
        print(f"{name:>14}  median {row['median']:.4g}  spread {row['spread']:.3f}  "
              f"bound {row['bound']}  {'ok' if row.get('steady', True) else 'UNSTEADY'}")
    if args.traced:
        traced = [one_run(args.workload, args.seed0 + i, args.seconds, 1)
                  for i in range(args.traced)]
        for name, row in report.items():
            t = statistics.median(r[name] for r in traced)
            row["traced_minus_untraced"] = t - row["median"]
            print(f"{name:>14}  tracing overhead {t - row['median']:+.4g} "
                  f"({(t - row['median']) / row['median']:+.1%})")
    print(json.dumps({"workload": args.workload, "steady": steady, "metrics": report}))
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
