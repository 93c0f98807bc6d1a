#!/usr/bin/env python3
"""Steadiness check: run one workload N times and report, per end-to-end
metric, the median, the quartiles and the spread against its bound.

    python3 perfbench/steady.py --workload curation --runs 10 --seed0 100 --sets 2

Each run is a fresh ``run.py`` process with its own seed (seed0, seed0+1,
...; a second set continues the numbering). The spread is the distance
between the first and third quartile (``statistics.quantiles(n=4)``) as a
share of the median. With two sets, the second set's median is compared
with the first's in the metric's worse direction. Results, including each
run's wall time, go to ``perfbench/out/steady-<workload>.json``.
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


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out.update(seed=seed, wall_s=wall, summary=lines[-2] if len(lines) > 1 else "")
    return out


def summarize(runs: "list[dict]", metrics: "list[dict]") -> dict:
    table = {}
    for m in metrics:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _q2, q3 = statistics.quantiles(vals, n=4)
        table[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                            "spread": (q3 - q1) / med if med else float("inf"),
                            "bound": m["bound"], "values": vals}
    table["failed_share"] = sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs)
    return table


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--sets", type=int, choices=(1, 2), default=1)
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = p.parse_args(argv)
    metrics = bench["end_to_end"]
    sets = []
    for s in range(args.sets):
        runs = []
        for k in range(args.runs):
            seed = args.seed0 + s * args.runs + k
            r = run_once(args.workload, seed, args.seconds)
            runs.append(r)
            print(f"set {s + 1} seed {seed}: wall {r['wall_s']:.1f}s correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']} "
                  + " ".join(f"{n}={v['value']:.4g}" for n, v in r["metrics"].items()),
                  flush=True)
        sets.append({"runs": runs, "summary": summarize(runs, metrics)})
    print(f"\n{args.workload}: {args.runs} runs x {args.sets} set(s), "
          f"mean run wall {statistics.mean(r['wall_s'] for s in sets for r in s['runs']):.1f}s")
    print(f"{'metric':<14}{'set':>4}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}"
          f"{'bound':>7}{'shift':>8}  verdict")
    for m in metrics:
        base = sets[0]["summary"][m["name"]]["median"]
        for s, st in enumerate(sets):
            row = st["summary"][m["name"]]
            shift = (row["median"] - base) / base * (1 if m["better"] == "lower" else -1)
            ok = row["spread"] <= m["bound"]
            tight = row["spread"] <= m["bound"] / 3
            verdict = ("ok" if ok else "SPREAD > BOUND") + ("" if tight else " (above bound/3)")
            if s and shift > m["bound"]:
                verdict += " SHIFT > BOUND"
            print(f"{m['name']:<14}{s + 1:>4}{row['median']:>12.5g}{row['q1']:>12.5g}"
                  f"{row['q3']:>12.5g}{row['spread']:>9.3f}{m['bound']:>7.2f}"
                  f"{shift if s else 0.0:>8.3f}  {verdict}")
    print("failed share per set:", [s["summary"]["failed_share"] for s in sets])
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", f"steady-{args.workload}.json"), "w") as f:
        json.dump({"workload": args.workload, "seconds": args.seconds, "sets": sets}, f,
                  indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
