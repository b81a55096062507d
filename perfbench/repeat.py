#!/usr/bin/env python3
"""Run the benchmark once per seed and summarize each metric.

    python3 perfbench/repeat.py --workload pit_images --seeds 1-10 \\
        [--seconds 12] [--trace 0] [--out summary.json]

For every metric: the per-seed values, their median, first and third
quartiles (``statistics.quantiles(values, n=4)``) and the spread
(Q3 - Q1) / median. Runs are sequential; nothing else should load the
host meanwhile.
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


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _record(args, seed: int) -> dict:
    """The newest JSON record run.py wrote for this (workload, seed,
    trace), without its spans."""
    results = os.path.join(ROOT, ".perfbench", "results")
    prefix = f"{args.workload}_seed{seed}_trace{args.trace}_"
    names = [n for n in os.listdir(results) if n.startswith(prefix)]
    newest = max(names, key=lambda n: os.path.getmtime(
        os.path.join(results, n)))
    with open(os.path.join(results, newest)) as f:
        rec = json.load(f)
    rec.pop("spans", None)
    return rec


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = (statistics.quantiles(values, n=4) if len(values) > 1
                 else (values[0],) * 3)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,4,7")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args(argv)

    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds",
             str(args.seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            raise SystemExit(f"seed {seed}: exit {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        res.update(seed=seed, wall_s=wall, record=_record(args, seed))
        runs.append(res)
        print(f"seed {seed}: {wall:5.1f} s correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in res["metrics"].items()), flush=True)
    names = runs[0]["metrics"]
    summary = {
        "workload": args.workload, "seconds": args.seconds,
        "trace": args.trace, "runs": runs,
        "all_correct": all(r["correct"] for r in runs),
        "wall_s": summarize([r["wall_s"] for r in runs]),
        "metrics": {k: summarize([r["metrics"][k]["value"] for r in runs])
                    for k in names},
    }
    for k, s in summary["metrics"].items():
        print(f"{args.workload:12s} {k:34s} median {s['median']:12.4f} "
              f"q1 {s['q1']:12.4f} q3 {s['q3']:12.4f} "
              f"spread {s['spread']:.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
