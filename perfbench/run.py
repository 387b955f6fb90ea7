#!/usr/bin/env python3
"""The graft benchmark: one command per (workload, seed).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program and the benchmark's
JVM driver from source (once per source state), generates the seeded inputs
(once per workload and seed), launches the driver with the program's own
`run` JVM options, checks every query output against its DuckDB oracle, and
prints one metric per line, then one JSON object as the last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json; with
`--trace 1` the per-layer ones, and the span list and self-time table are
written under `.bench_build/results/`. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import check  # noqa: E402
import layers  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build")
DRIVER = os.path.join(HERE, "driver")
# Driver heap, pinned (-Xms = -Xmx through the program's SPARK_DRIVER_MEM
# javaOption). The inputs are a few MB; 3 GB keeps the process small on a
# shared machine while leaving the sorters unstarved.
HEAP = "3g"
RUN_DEADLINE_S = 170     # a run past this is killed and reported as failed


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


def require_checkout():
    for p in ("build.sbt", "src/main/scala", "BENCHMARK.json", "perfbench/driver/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"{p} not found under {ROOT}: run from the root of a graft checkout")


def source_stamp():
    h = hashlib.sha256(HEAP.encode())
    files = ["build.sbt", "project/build.properties"]
    for base in ("src/main", "perfbench/driver/src", "perfbench/driver/project"):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    files += ["perfbench/driver/build.sbt"]
    for f in files:
        p = os.path.join(ROOT, f)
        if os.path.isfile(p) and "/target/" not in p:
            h.update(f.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the driver with sbt, unless this source state
    was built already. Returns (classpath, javaOptions)."""
    out = os.path.join(WORK, "build")
    stamp_file, spec_file = os.path.join(out, "stamp"), os.path.join(out, "launch.txt")
    stamp = source_stamp()
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        os.makedirs(out, exist_ok=True)
        env = dict(os.environ, SPARK_DRIVER_MEM=HEAP, COURSIER_MODE="offline")
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.server.forcestart=false").strip()
        log("perfbench: building program and driver with sbt")
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launchSpec"],
                           cwd=DRIVER, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            log(r.stdout[-4000:])
            fail("sbt build failed")
        shutil.copy(os.path.join(DRIVER, "target", "launch.txt"), spec_file)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(spec_file).read().splitlines()
    return lines[0], lines[1:]


def inputs(workload, seed, tiny):
    """Generated input directory, cached per (workload, seed, size)."""
    d = os.path.join(WORK, "inputs", f"{workload}-s{seed}{'-tiny' if tiny else ''}")
    if not os.path.exists(os.path.join(d, "inputs.json")):
        shutil.rmtree(d, ignore_errors=True)
        part = d + f".part{os.getpid()}"
        shutil.rmtree(part, ignore_errors=True)
        gen.generate(workload, seed, part, tiny)
        os.rename(part, d)
    return d, json.load(open(os.path.join(d, "inputs.json")))


class Jvm:
    """The driver JVM, with a private java.io.tmpdir and SPARK_LOCAL_DIRS and
    no shared artifact root. `ready_s` (setup_s) is launch to the READY line:
    session built and warm-up action done."""

    def __init__(self, spec, run_dir, args):
        cp, opts = spec
        self.tmp = os.path.join(run_dir, "tmp")
        local = os.path.join(run_dir, "local")
        os.makedirs(self.tmp)
        os.makedirs(local)
        env = {k: v for k, v in os.environ.items()
               if k not in ("GRAFT_ARTIFACT_ROOT", "SPARK_CONF_DIR", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS")}
        env["SPARK_LOCAL_DIRS"] = local
        cmd = ["java", *opts, f"-Djava.io.tmpdir={self.tmp}", "-cp", cp,
               "graft.perfbench.Driver", *args]
        self.log = open(os.path.join(run_dir, "driver.log"), "w")
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(cmd, env=env, stdin=subprocess.DEVNULL,
                                     stdout=subprocess.PIPE, stderr=self.log, text=True)
        self.killer = threading.Timer(RUN_DEADLINE_S, self.proc.kill)
        self.killer.start()
        line = self.proc.stdout.readline()
        self.ready_s = time.monotonic() - self.t0 if line.strip() == "READY" else None

    def wait(self):
        self.proc.wait()
        self.killer.cancel()
        self.proc.stdout.close()
        self.log.close()
        return self.proc.returncode

    def stop(self):
        self.killer.cancel()
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()

    def leaked(self):
        """graft_* scratch dirs the program failed to delete at JVM exit."""
        return sorted(n for n in os.listdir(self.tmp) if n.startswith("graft_"))


def run(a):
    require_checkout()
    manifest = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    spec = build()
    data, info = inputs(a.workload, a.seed, a.tiny)

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out = os.path.join(run_dir, "out")
    results = os.path.join(WORK, "results")
    untraced = os.path.join(results, f"{a.workload}-s{a.seed}-untraced.json")
    jvm = None
    try:
        jvm = Jvm(spec, run_dir, ["--workload", a.workload, "--data", data, "--out", out,
                                  "--seconds", str(a.seconds), "--trace", str(a.trace)])
        code = jvm.wait()
        t_exit = time.monotonic()
        if code != 0 or jvm.ready_s is None or not os.path.exists(os.path.join(out, "driver.json")):
            log(open(os.path.join(run_dir, "driver.log")).read()[-4000:])
            fail(f"driver exited with {code}")
        report = json.load(open(os.path.join(out, "driver.json")))
        leaked = jvm.leaked()
        verdicts = check.check_outputs(data, report, a.expect_wrong)
        log(f"perfbench: driver JVM {t_exit - jvm.t0:.1f} s, output check {time.monotonic() - t_exit:.1f} s")
        timed = [p for p in report["passes"] if p["timed"]]
        if a.trace:  # reads query outputs, so before the run dir goes
            wanted = manifest["per_layer"]
            metrics, table = layers.per_layer(report, info, timed, [m["name"] for m in wanted])
    finally:
        if jvm:
            jvm.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    calls = [c for p in report["passes"] for c in p["calls"]]
    failed = [c for c in calls if c["error"] or not verdicts.get(c["output"], True)]
    for c in failed:
        log(f"perfbench: FAILED {c['name']}: {c['error'] or 'output differs from the oracle'}")
    for d in leaked:
        log(f"perfbench: scratch dir survived the JVM: {d}")
    if a.trace:
        if os.path.exists(untraced):
            base = json.load(open(untraced))["wall_s"]
            table += (f"\ntracing overhead: traced wall_s {metrics['trace.wall_s']:.3f} - "
                      f"untraced wall_s {base:.3f} = {metrics['trace.wall_s'] - base:+.3f} s")
        layers.write_trace(results, a.workload, a.seed, report, table)
        print(table)
    else:
        wanted = manifest["end_to_end"]
        metrics = {
            "setup_s": jvm.ready_s,
            "wall_s": statistics.median(p["wall_s"] for p in timed),
            "cpu_s": statistics.median(p["cpu_s"] for p in timed),
            "peak_rss_mb": report["peak_rss_mb"],
        }
        os.makedirs(results, exist_ok=True)
        with open(untraced, "w") as f:
            json.dump(metrics, f)
    units = {m["name"]: m["unit"] for m in wanted}
    if set(units) != set(metrics):
        fail(f"metrics {sorted(set(units) ^ set(metrics))} differ from BENCHMARK.json")
    result = {
        "correct": not failed and not leaked,
        "attempted": len(calls),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(f"workload {a.workload} seed {a.seed}: {info['rows']} input rows, {info['mb']:.2f} MB; "
          f"{len(calls)} calls, {len(failed)} failed; pass walls (s): "
          + " ".join(f"{p['wall_s']:.2f}{'' if p['timed'] else '*'}" for p in report["passes"])
          + " (* untimed warm-up)")
    for k in units:
        print(f"  {k:40s} {metrics[k]:14.6f} {units[k]}")
    print(json.dumps(result))


def main():
    # a SIGTERM unwinds through run()'s cleanup, which stops the driver JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input size")
    ap.add_argument("--expect-wrong", action="store_true",
                    help="compare against a deliberately wrong expected output (smoke test)")
    run(ap.parse_args())


if __name__ == "__main__":
    main()
