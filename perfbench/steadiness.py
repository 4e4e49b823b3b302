#!/usr/bin/env python3
"""Repeat the benchmark and record how steady its figures are.

    python3 perfbench/steadiness.py --runs 10 --seconds 18 [--first-seed N] [--workload W ...] [--out FILE]

Runs ``perfbench/run.py --trace 0`` once per seed (``--runs`` seeds
from ``--first-seed``) for each workload, one run at a time, and
writes per workload and metric the median, quartiles
(``statistics.quantiles(values, n=4)``) and IQR/median, plus each
run's record (environment, host diagnostics, sample counts), as one
more entry of ``"sets"`` in ``--out`` (JSON). Exits non-zero if any
run fails or reports failed operations.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import common
from run import ROOT, WORKLOADS


def _run(workload: str, seed: int, seconds: float) -> tuple[dict, dict, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(
            f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}"
        )
    return json.loads(lines[-2])["run_record"], json.loads(lines[-1]), wall


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_work", "steadiness.json"))
    args = ap.parse_args()

    report = {"seconds": args.seconds,
              "seeds": [args.first_seed, args.first_seed + args.runs - 1],
              "workloads": {}}
    ok = True
    for w in args.workload or WORKLOADS:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            record, result, wall = _run(w, seed, args.seconds)
            ok &= result["correct"] and result["failed"] == 0
            runs.append({
                "seed": seed, "wall_s": wall,
                "attempted": result["attempted"], "failed": result["failed"],
                "metrics": {k: v["value"] for k, v in result["metrics"].items()},
                "record": record,
            })
            print(json.dumps({"workload": w, "seed": seed, "wall_s": wall,
                              "failed": result["failed"], **runs[-1]["metrics"],
                              "steal_pct": record.get("host.steal_pct_window")}),
                  flush=True)
        names = runs[0]["metrics"]
        report["workloads"][w] = {
            "runs": runs,
            "spread": {m: common.spread([r["metrics"][m] for r in runs]) for m in names},
        }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    sets = []
    if os.path.exists(args.out):  # keep earlier sets: their medians are compared
        with open(args.out) as fh:
            sets = json.load(fh)["sets"]
    with open(args.out, "w") as fh:
        json.dump({"sets": sets + [report]}, fh, indent=1)
    for w, rep in report["workloads"].items():
        for m, s in rep["spread"].items():
            print(f"{w:13s} {m:12s} median {s['median']:10.4f}  IQR/median {s['iqr_over_median']:.3f}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
