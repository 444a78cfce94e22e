#!/usr/bin/env python3
"""Steadiness mode: run each workload repeatedly, one seed per run, and
report every end-to-end metric's median, quartiles, min/max and quartile
spread as a share of the median, next to the metric's bound.

    python3 perfbench/steady.py --runs 10 [--workload NAME ...] [--first-seed 1]

Runs ``perfbench/run.py`` once per (workload, seed), one after another,
from the repository root. Prints one table row per metric and workload,
then one JSON line with the same numbers; exits 1 when a run fails or a
spread reaches its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(HERE)
sys.path.insert(0, REPO_ROOT)

from perfbench import stats  # noqa: E402


def main(argv=None) -> int:
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append", choices=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args(argv)

    ok = True
    report = {}
    for name in args.workload or [w["name"] for w in spec["workloads"]]:
        values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = [*spec["command"], "--workload", name, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            proc = subprocess.run(cmd, cwd=REPO_ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            if res is None or not res["correct"]:
                print(f"{name} seed {seed}: run failed (exit {proc.returncode})\n{proc.stderr[-2000:]}", file=sys.stderr)
                ok = False
                continue
            for m, v in res["metrics"].items():
                values[m].append(v["value"])
            print(f"{name} seed {seed}: " + ", ".join(f"{m} {v['value']:.6g}" for m, v in res["metrics"].items()),
                  file=sys.stderr, flush=True)
        report[name] = {}
        for m in spec["end_to_end"]:
            vals = values[m["name"]]
            if not vals:
                continue
            s = stats.summarize(vals)
            s["bound"] = m["bound"]
            report[name][m["name"]] = s
            if s["iqr_share"] >= m["bound"]:
                ok = False
            print(
                f"{name:<16} {m['name']:<18} n={s['n']:<3} median {s['median']:<12.6g} "
                f"q1 {s['q1']:<12.6g} q3 {s['q3']:<12.6g} min {s['min']:<12.6g} max {s['max']:<12.6g} "
                f"spread {s['iqr_share']:.4f} (bound {m['bound']}) {m['unit']}",
                flush=True,
            )
    print(json.dumps(report))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
