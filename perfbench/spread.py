#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds <s>] [--out runs.jsonl]

Runs perfbench/run.py once per seed (untraced), then prints, per metric, the
median and the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median, beside the
metric's bound from BENCHMARK.json. Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out", help="append each run's result line to this file")
    a = ap.parse_args()
    manifest = json.load(open("BENCHMARK.json"))
    seconds = a.seconds or manifest["run_seconds"]
    results = []
    for s in seeds(a.seeds):
        r = subprocess.run([sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
                            "--workload", a.workload, "--seed", str(s),
                            "--seconds", str(seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {s}: run.py exited with {r.returncode}")
        line = r.stdout.strip().splitlines()[-1]
        results.append(json.loads(line))
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": s, **results[-1]}) + "\n")
        print(f"seed {s}: " + ", ".join(f"{k}={v['value']:.3f}" for k, v in results[-1]["metrics"].items()),
              flush=True)
    print(f"{a.workload}: {len(results)} runs, all correct: {all(r['correct'] for r in results)}")
    for m in manifest["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        print(f"  {m['name']:12s} median {med:10.3f} {m['unit']:3s} spread {(q[2] - q[0]) / med:6.3f} "
              f"(bound {m['bound']})")


if __name__ == "__main__":
    main()
