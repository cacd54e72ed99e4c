#!/usr/bin/env python3
"""Steadiness self-check: run each workload with several seeds and print
each end-to-end metric's spread against its bound in BENCHMARK.json.

    python3 perfbench/selfcheck.py [--runs 10] [--first-seed 1] [--workload NAME]

Spread is the distance between the first and third quartile of the runs'
values, as a share of their median (statistics.quantiles, n=4). A metric
is steady when its spread is below a third of its bound. Every run's JSON line is appended to perfbench/.work/selfcheck.jsonl.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in spec["workloads"]])
    a = ap.parse_args()
    log = HERE / ".work" / "selfcheck.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    steady = True
    for w in a.workload or [w["name"] for w in spec["workloads"]]:
        results = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.monotonic()
            p = subprocess.run([*spec["command"], "--workload", w, "--seed", str(seed),
                                "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            wall = time.monotonic() - t0
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                return 1
            r = json.loads(p.stdout.strip().splitlines()[-1])
            r["seed"], r["wall_s"] = seed, wall
            with open(log, "a") as f:
                f.write(json.dumps({"workload": w, **r}) + "\n")
            results.append(r)
            print(f"{w} seed {seed}: {wall:.0f}s correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        shares = {r["failed"] / r["attempted"] for r in results}
        print(f"{w}: all correct={all(r['correct'] for r in results)}, failed shares {shares}")
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            ok = spread < m["bound"] / 3
            steady &= ok
            print(f"  {m['name']:<12} median {med:10.4f} {m['unit']:<3} spread {spread:6.3f}"
                  f"  bound {m['bound']:.2f} (a third: {m['bound'] / 3:.3f}) "
                  f"{'ok' if ok else 'NOT STEADY'}")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
