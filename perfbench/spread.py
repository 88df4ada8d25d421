"""Run one workload over several seeds and print each end-to-end metric's
median and quartile spread (IQR as a share of the median), the figure
``BENCHMARK.json`` bounds are judged against.

    python3 perfbench/spread.py --workload live_uv --seeds 1-10

With ``--trace 1`` every seed also gets a traced run: the per-layer
medians are printed, with the tracing overhead (median traced wall time
minus median untraced wall time).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values: list[float]) -> tuple[float, float]:
    """(median, IQR / median) with Python's default quartile method."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()[-1]
    res = json.loads(out)
    print(f"seed {seed} trace {trace}: correct={res['correct']} failed={res['failed']}/{res['attempted']}", flush=True)
    return res


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    plain, traced = [], []
    for seed in seeds(args.seeds):
        plain.append(run(args.workload, seed, args.seconds, 0))
        if args.trace:
            traced.append(run(args.workload, seed, args.seconds, 1))
    for res in (plain, traced):
        if not res:
            continue
        for name, m in res[0]["metrics"].items():
            med, spread = summary([r["metrics"][name]["value"] for r in res])
            line = f"{args.workload} {name}: median {med:.6g} {m['unit']}, spread {spread:.3f}"
            if name in bounds:
                ok = "ok" if spread < bounds[name] / 3 else "WIDE"
                line += f"  bound {bounds[name]:.2f} ({ok})"
            print(line)
    if traced:
        untraced = statistics.median(r["metrics"]["wall_s"]["value"] for r in plain)
        with_trace = statistics.median(r["metrics"]["trace.wall_s"]["value"] for r in traced)
        print(f"{args.workload} tracing overhead: {with_trace - untraced:+.3f} s "
              f"({100 * (with_trace / untraced - 1):+.1f}% of wall_s)")
    return 0 if all(r["correct"] for r in plain + traced) else 1


if __name__ == "__main__":
    sys.exit(main())
