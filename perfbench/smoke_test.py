#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at the tiny input size.

    python3 perfbench/smoke_test.py

Run from the root of a checkout. Checks that:
  * the same seed gives byte-identical inputs and another seed different ones;
  * every metric BENCHMARK.json names is printed with its unit, untraced and
    traced, on every workload, and every output passes its oracle;
  * a deliberately wrong expected output makes failed / attempted > 0;
  * in a directory that holds only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero without printing a result.
Takes a few minutes: each run launches a JVM.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

SCRATCH = os.path.join(".bench_build", "smoke")


def build_outputs(d, names):
    """copytree filter: build outputs of the driver's sbt project."""
    return {n for n in names if n in ("target", "__pycache__") or
            (n == "project" and os.path.basename(d) == "project")}


def digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def bench(cwd, *args):
    r = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    return r.returncode, r.stdout, r.stderr


def result(out):
    return json.loads(out.strip().splitlines()[-1])


def main():
    manifest = json.load(open("BENCHMARK.json"))
    workloads = [w["name"] for w in manifest["workloads"]]
    problems = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    shutil.rmtree(SCRATCH, ignore_errors=True)
    for w in gen.SIZES:
        a, b, c = (os.path.join(SCRATCH, f"{w}-{n}") for n in ("a", "b", "c"))
        gen.generate(w, 7, a, tiny=True)
        gen.generate(w, 7, b, tiny=True)
        gen.generate(w, 8, c, tiny=True)
        expect(digest(a) == digest(b), f"{w}: seed 7 twice gives byte-identical inputs")
        expect(digest(a) != digest(c), f"{w}: seeds 7 and 8 give different inputs")

    root = os.getcwd()
    for w in workloads:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            code, out, err = bench(root, "--workload", w, "--seed", "1", "--seconds", "1",
                                   "--trace", str(trace), "--tiny")
            if code != 0:
                expect(False, f"{w} --trace {trace} exits 0 ({err.strip()[-500:]})")
                continue
            r = result(out)
            names = {m["name"]: m["unit"] for m in manifest[kind]}
            printed = {k: v["unit"] for k, v in r["metrics"].items()}
            expect(printed == names, f"{w} --trace {trace}: every {kind} metric printed with its unit")
            expect(all(f" {k} " in out for k in names), f"{w} --trace {trace}: metric lines on stdout")
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
                   f"{w} --trace {trace}: all {r['attempted']} calls pass the oracle")
    code, out, err = bench(root, "--workload", workloads[0], "--seed", "1", "--seconds", "1",
                           "--tiny", "--expect-wrong")
    r = result(out) if code == 0 else {"failed": 0, "attempted": 1}
    expect(r["failed"] / r["attempted"] > 0, "a wrong expected output gives failed_frac > 0")

    bare = os.path.abspath(os.path.join(SCRATCH, "bare"))
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=build_outputs)
    code, out, _ = bench(bare, "--workload", workloads[0], "--seed", "1", "--seconds", "1")
    expect(code != 0 and '"correct"' not in out,
           "without the program's sources: non-zero exit and no result")
    shutil.rmtree(SCRATCH, ignore_errors=True)

    print("smoke test " + ("passed" if not problems else f"FAILED: {len(problems)} problem(s)"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
