"""Steadiness helper and one-command report.

    python3 perfbench/steady.py [--runs N] [--workloads ingest,lake]
                                [--seconds S] [--seed-base B]

Runs ``run.py`` N times per workload, seeds B..B+N-1, from the repository
root. Prints, per workload, every end-to-end metric of BENCHMARK.json with
its median, quartiles and spread (quartile distance over the median)
against the metric's bound and a third of it, then the workload's named
metrics (medians, with units) and its correctness verdict. ``--runs 1``
is the quick report of every metric by name. The raw results go to
``.perfbench_out/steady-<workload>.json``; ``--baseline`` also writes the
summary, with every run's environment (nproc, load1 at start and end,
storage, versions, the elevated-load flag), to ``perfbench/baseline.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) by statistics.quantiles."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def run_once(workload: str, seed: int, seconds: float) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed "
                         f"(exit {p.returncode}):\n{p.stderr[-2000:]}")
    report = next(
        (json.loads(x[7:]) for x in lines if x.startswith("REPORT ")), {}
    )
    return json.loads(lines[-1]), report


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--baseline", action="store_true",
                    help="also write the medians, quartiles and run "
                         "environments to perfbench/baseline.json")
    args = ap.parse_args()
    baseline: dict = {"run_seconds": args.seconds, "workloads": {}}
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    os.makedirs(".perfbench_out", exist_ok=True)
    for w in args.workloads.split(","):
        results, reports = [], []
        for i in range(args.runs):
            res, rep = run_once(w, args.seed_base + i, args.seconds)
            results.append(res)
            reports.append(rep)
            print(f"  {w} seed={args.seed_base + i} correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  f"load1={rep.get('env', {}).get('load1')} "
                  f"wall={rep.get('wall_s', 0):.1f}s", flush=True)
        with open(f".perfbench_out/steady-{w}.json", "w") as f:
            json.dump({"results": results, "reports": reports}, f)
        print(f"== {w}: {args.runs} runs, "
              f"{'all correct' if all(r['correct'] for r in results) else 'INCORRECT RUNS'}")
        print(f"  {'metric':<22} {'median':>11} {'q1':>11} {'q3':>11} "
              f"{'spread':>7} {'bound':>6}  verdict")
        base = baseline["workloads"][w] = {
            "runs": len(results),
            "all_correct": all(r["correct"] for r in results),
            "metrics": {},
            "env": [
                {**rep["env"], "seed": rep["seed"], "wall_s": rep["wall_s"]}
                for rep in reports
            ],
        }
        for name, m in bounds.items():
            vals = [r["metrics"][name]["value"] for r in results]
            med, q1, q3, sp = spread(vals)
            base["metrics"][name] = {"median": med, "q1": q1, "q3": q3,
                                     "spread": sp, "unit": m["unit"]}
            b = m["bound"]
            verdict = ("ok" if sp < b / 3 else "within bound" if sp <= b
                       else "TOO WIDE")
            if name == "setup_s":
                verdict += " (spread not held to bound)"
            print(f"  {name:<22} {med:>11.4f} {q1:>11.4f} {q3:>11.4f} "
                  f"{sp:>7.3f} {b:>6.2f}  {verdict}  [{m['unit']}]")
        named: dict[str, list] = {}
        for rep in reports:
            for k, v in rep.get("named", {}).items():
                named.setdefault(k, []).append((v["value"], v["unit"]))
        for k, vs in named.items():
            med = statistics.median(v for v, _ in vs)
            print(f"  {k:<30} {med:>12.4f} {vs[0][1]}")
        rates = [rep.get("op_error_rate", 0.0) for rep in reports]
        print(f"  {'op_error_rate':<30} {max(rates):>12.4f} ratio (max)")
        base["named_medians"] = {
            k: {"median": statistics.median(v for v, _ in vs),
                "unit": vs[0][1]}
            for k, vs in named.items()
        }
    if args.baseline:
        with open(os.path.join(HERE, "baseline.json"), "w") as f:
            json.dump(baseline, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
