"""Repeatability report: run one workload several times, each with the
next seed, and print each metric's median and quartile spread.

    python3 perfbench/repeat.py --workload daily_ingest --runs 10 --seconds 20
    python3 perfbench/repeat.py --workload query_mix --runs 3 --seconds 20 --trace

The spread is (Q3 - Q1) / median with the quartiles of
`statistics.quantiles(values, n=4)`. Each end-to-end metric is compared
with its bound from BENCHMARK.json: "ok" under a third of the bound,
"WIDE" under the bound, "OVER" past it; `cycle_s`, printed beside the
metrics but not gated, is listed without a bound. With --trace every seed also
runs traced, and the report adds the tracing overhead: the traced
runs' median `trace.cycle_s` minus the untraced runs' median `cycle_s`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if p.returncode or result is None:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit(f"seed {seed} trace {trace}: exit {p.returncode}")
    for line in lines:
        if line.startswith("host_steal_share"):
            result["steal"] = float(line.split()[1])
        elif line.startswith("cycle_s "):
            result["cycle_s"] = float(line.split()[1])
    result["wall"] = wall
    return result


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="first seed")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    if args.runs < 2:
        ap.error("--runs must be at least 2 to give quartiles")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    traced: list[float] = []
    walls: list[float] = []
    for seed in range(args.seed, args.seed + args.runs):
        r = run(args.workload, seed, seconds, 0)
        walls.append(r["wall"])
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        values.setdefault("cycle_s", []).append(r["cycle_s"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            + f" (wall {r['wall']:.1f} s, host steal {r.get('steal', 0):.1%})",
            flush=True)
        if args.trace:
            t = run(args.workload, seed, seconds, 1)
            traced.append(t["metrics"]["trace.cycle_s"]["value"])

    print(f"\n{args.workload}: {args.runs} runs from seed {args.seed}, {seconds} s each, "
          f"{statistics.median(walls):.1f} s median wall per run")
    print(f"{'metric':16} {'median':>12} {'spread':>8} {'bound':>6}")
    for name, vals in values.items():
        med, sp = spread(vals)
        b = bounds.get(name)
        verdict = "" if b is None else (
            "ok" if sp < b / 3 else "WIDE" if sp <= b else "OVER")
        print(f"{name:16} {med:12.5g} {sp:8.3f} {b if b is not None else '':>6} {verdict}")
    if traced:
        base = statistics.median(values["cycle_s"])
        over = statistics.median(traced) - base
        print(f"tracing overhead: {over:+.3f} s per cycle ({over / base:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
