#!/usr/bin/env python3
"""Standing same-session A/B bench protocol (r18 verdict order #4).

Cross-night bench totals on this host drift +-30% (PLANS.md anchor
tables), so the ONLY comparison that adjudicates a perf question is an
adjacent pair run back-to-back in one session. r18 ran two such A/Bs by
hand; this script makes the discipline mechanical:

    python3 tools/bench_ab.py --base <prev-round-ref> \
        [--head <ref|WORKTREE>] [--order BHHB] [--passes 4] \
        [--sf /root/testdata/sf0.1] [--cpus 32] [--out BENCH_rN_ab.json]

  - the BASE side builds+runs in a scratch `git worktree` at the given
    ref; the HEAD side runs in the repo working tree as-is (the code
    being shipped);
  - runs interleave per --order (default BHHB: linear host drift cancels
    to first order across the palindrome);
  - each run is one Bench JVM with SPARK_GRAFT_PASSES steady passes;
    its BENCH_DETAIL.json is snapshotted (per-query wall_med_s);
  - output: per-side run totals + med-of-runs, the common-row delta
    (the adjudicating number), new-row cost, top per-query movers, and
    a per-query cross-run variance table per side (the order-#5 band
    diagnosis).

Both sbt compiles happen BEFORE the first timed run so compilation never
rides a measurement. Every SCRATCH worktree side gets the -Xms=-Xmx+G1
heap-pin overlay (zz-ab-heappin.sbt) so both sides run the same
fixed-size bench JVM regardless of what their build.sbt pinned at that
ref (r19 verdict order #3: the r19 close compared pinned HEAD against
unpinned base, and the base side's 36.7% same-code band polluted the
adjudication).

Canonical round-close invocation (PLANS "Round close protocol"):

    python3 tools/bench_ab.py --base <prev-round-HEAD> --order BHHB \
        --passes 4 --sf /root/testdata/sf0.1 --cpus 32 \
        --out BENCH_rN_ab.json
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cmd, cwd, env=None, check=True):
    print(f"[ab] $ {' '.join(cmd)}  (cwd={cwd})", flush=True)
    r = subprocess.run(cmd, cwd=cwd, env=env)
    if check and r.returncode != 0:
        sys.exit(f"[ab] command failed ({r.returncode}): {' '.join(cmd)}")
    return r.returncode


HEAP_PIN_SBT = """\
// bench_ab heap-pin overlay (r19 verdict order #3): the r19 close compared
// a pinned HEAD against an UNPINNED base (the -Xms=-Xmx pin lives in HEAD's
// build.sbt), so the base side's 36.7% same-code band polluted the
// adjudication. sbt auto-loads *.sbt in the base dir, so dropping this file
// into a worktree at an older ref gives BOTH sides the same fixed-size-G1
// bench JVM. Duplicate -Xms/-Xmx/-XX flags are harmless (last wins), so
// this is a no-op on refs that already carry the pin.
//
// r21 (ADVICE r20): javaOptions is IGNORED by sbt's in-process `run` —
// on a base ref whose build.sbt lacks `run / fork := true` the pin was a
// silent no-op and the heap asymmetry quietly returned. Force the fork
// here, with the JDK-17 module opens a forked Spark 4 driver needs (a ref
// old enough to lack fork also lacks those; duplicates are harmless) and
// the verbatim stdout strategy the harness' JSON parse relies on.
run / fork := true
run / outputStrategy := Some(OutputStrategy.StdoutOutput)
javaOptions ++= Seq(
  "java.base/java.lang", "java.base/java.lang.invoke",
  "java.base/java.lang.reflect", "java.base/java.io",
  "java.base/java.net", "java.base/java.nio",
  "java.base/java.util", "java.base/java.util.concurrent",
  "java.base/java.util.concurrent.atomic",
  "java.base/sun.nio.ch", "java.base/sun.nio.cs",
  "java.base/sun.security.action", "java.base/sun.util.calendar",
).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
javaOptions ++= Seq(
  "-Dspark.ui.enabled=false",
  "-Dspark.sql.session.timeZone=UTC",
  s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",
  s"-Xms${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",
  "-XX:+UseG1GC",
  "-XX:ReservedCodeCacheSize=512m",
)
"""


def overlay_heap_pin(workdir):
    """Drop the pin overlay into a scratch worktree (never the live repo:
    its build.sbt already carries the pin, and we must not dirty it)."""
    path = os.path.join(workdir, "zz-ab-heappin.sbt")
    with open(path, "w") as f:
        f.write(HEAP_PIN_SBT)
    print(f"[ab] heap-pin overlay -> {path}", flush=True)


def bench_once(workdir, env):
    t0 = time.time()
    run(["sbt", "-batch", "runMain graft.Bench"], cwd=workdir, env=env)
    wall = time.time() - t0
    detail_path = os.path.join(workdir, "BENCH_DETAIL.json")
    with open(detail_path) as f:
        detail = json.load(f)
    return wall, detail


def pass2_compiles(detail):
    """Codegen compiles in the run's first steady pass (None when the run
    had one pass or predates `codegen_compiles_by_pass`)."""
    by_pass = detail.get("codegen_compiles_by_pass") or []
    return by_pass[1] if len(by_pass) > 1 else None


def side_summary(runs):
    meds = [d.get("med_total", -1) for _, d in runs]
    p1s = [d.get("value", -1) for _, d in runs]
    return {
        "pass1_totals": p1s,
        "pass2_totals": [d.get("pass2_total") for _, d in runs],
        # hundreds of steady-pass compiles = generated-class cache thrash
        "pass2_codegen_compiles": [pass2_compiles(d) for _, d in runs],
        "med_totals": meds,
        "med_of_meds": statistics.median([m for m in meds if m >= 0]) if any(
            m >= 0 for m in meds) else -1,
        "gc_s": [d.get("gc_s") for _, d in runs],
        "jit_s": [d.get("jit_s") for _, d in runs],
        "load_avg": [d.get("load_avg") for _, d in runs],
    }


def per_query_meds(runs):
    """query -> median of wall_med_s across the side's runs."""
    acc = {}
    for _, d in runs:
        for q, v in d.get("queries", {}).items():
            w = v.get("wall_med_s", v.get("wall_s", -1))
            if w is not None and w >= 0:
                acc.setdefault(q, []).append(w)
    return {q: statistics.median(ws) for q, ws in acc.items()}


def variance_table(runs):
    """query -> (min, max, spread) of wall_med_s across the side's runs."""
    acc = {}
    for _, d in runs:
        for q, v in d.get("queries", {}).items():
            w = v.get("wall_med_s", v.get("wall_s", -1))
            if w is not None and w >= 0:
                acc.setdefault(q, []).append(w)
    out = {}
    for q, ws in acc.items():
        if len(ws) >= 2:
            out[q] = {"min": min(ws), "max": max(ws),
                      "spread": round(max(ws) - min(ws), 3)}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="git ref of the previous round's HEAD")
    ap.add_argument("--head", default="WORKTREE",
                    help="git ref for the head side, or WORKTREE (default) for the repo as-is")
    ap.add_argument("--order", default="BHHB",
                    help="run order, e.g. BHHB / BHBH / HHHH")
    ap.add_argument("--passes", type=int, default=4)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", default="32")
    ap.add_argument("--out", default="BENCH_ab.json")
    args = ap.parse_args()

    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = args.sf
    env["SPARK_GRAFT_CPUS"] = args.cpus
    env["SPARK_GRAFT_PASSES"] = str(args.passes)

    base_dir = "/tmp/graft_ab_base"
    if os.path.isdir(base_dir):
        subprocess.run(["git", "worktree", "remove", "--force", base_dir],
                       cwd=REPO)
        shutil.rmtree(base_dir, ignore_errors=True)
    run(["git", "worktree", "add", "--detach", base_dir, args.base], cwd=REPO)
    overlay_heap_pin(base_dir)

    head_dir = REPO
    if args.head != "WORKTREE":
        head_dir = "/tmp/graft_ab_head"
        if os.path.isdir(head_dir):
            subprocess.run(["git", "worktree", "remove", "--force", head_dir],
                           cwd=REPO)
            shutil.rmtree(head_dir, ignore_errors=True)
        run(["git", "worktree", "add", "--detach", head_dir, args.head], cwd=REPO)
        overlay_heap_pin(head_dir)

    # compile both sides BEFORE any timed run
    run(["sbt", "-batch", "compile"], cwd=base_dir, env=env)
    run(["sbt", "-batch", "compile"], cwd=head_dir, env=env)

    runs = {"B": [], "H": []}
    pre_load = {"B": [], "H": []}
    for i, side in enumerate(args.order):
        workdir = base_dir if side == "B" else head_dir
        # r21 (r20 verdict order #3): the r20 close's residual band was
        # ambient host load (load_avg 1.8 -> 5.1 between the sides'
        # windows). Record the 1-min load BEFORE each run so the output
        # carries a load-balance verdict alongside the band adjudication.
        load1 = os.getloadavg()[0]
        pre_load[side].append(round(load1, 2))
        print(f"[ab] === run {i + 1}/{len(args.order)}: side {side} "
              f"(pre-run load_avg {load1:.2f}) ===", flush=True)
        wall, detail = bench_once(workdir, env)
        runs[side].append((wall, detail))
        snap = f"/tmp/graft_ab_detail_{i + 1}_{side}.json"
        shutil.copy(os.path.join(workdir, "BENCH_DETAIL.json"), snap)

    out = {
        "protocol": "same-session adjacent A/B, order " + args.order,
        "base_ref": subprocess.check_output(
            ["git", "rev-parse", "--short", args.base], cwd=REPO).decode().strip(),
        "head_ref": subprocess.check_output(
            ["git", "rev-parse", "--short",
             "HEAD" if args.head == "WORKTREE" else args.head],
            cwd=REPO).decode().strip(),
        "sf": args.sf, "passes": args.passes,
    }
    for side, key in (("B", "base"), ("H", "head")):
        if runs[side]:
            out[key] = side_summary(runs[side])
            out[key]["variance"] = {
                q: v for q, v in sorted(variance_table(runs[side]).items(),
                                        key=lambda kv: -kv[1]["spread"])[:15]}

    if runs["B"] and runs["H"]:
        bq, hq = per_query_meds(runs["B"]), per_query_meds(runs["H"])
        common = sorted(set(bq) & set(hq))
        new_rows = sorted(set(hq) - set(bq))
        gone_rows = sorted(set(bq) - set(hq))
        b_sum = sum(bq[q] for q in common)
        h_sum = sum(hq[q] for q in common)
        movers = sorted(((q, round(hq[q] - bq[q], 3)) for q in common),
                        key=lambda kv: -abs(kv[1]))[:12]
        out["common_rows"] = {
            "n": len(common),
            "base_med_sum": round(b_sum, 1),
            "head_med_sum": round(h_sum, 1),
            "delta_pct": round(100 * (h_sum - b_sum) / b_sum, 2) if b_sum else None,
        }
        out["new_rows"] = {"names": new_rows,
                           "cost_s": round(sum(hq[q] for q in new_rows), 2)}
        if gone_rows:
            out["removed_rows"] = gone_rows
        out["top_movers"] = movers

    # Load-balance verdict (r20 verdict order #3): windows are balanced
    # when the sides' mean pre-run + in-run loads sit within 2x of each
    # other; an imbalanced pair cannot hide a regression behind (or eat a
    # win with) an unlucky window, so flag it for a retry.
    def side_loads(side):
        ls = list(pre_load[side])
        ls += [d.get("load_avg") for _, d in runs[side]
               if isinstance(d.get("load_avg"), (int, float))]
        return [l for l in ls if l is not None and l >= 0]

    if runs["B"] and runs["H"]:
        bl, hl = side_loads("B"), side_loads("H")
        b_mean = sum(bl) / len(bl) if bl else None
        h_mean = sum(hl) / len(hl) if hl else None
        verdict = "unknown"
        ratio = None
        # `is not None`: a legitimate 0.0 mean load (idle host) is data,
        # not missing data — the 0.1 clamp below already handles it
        if b_mean is not None and h_mean is not None:
            lo, hi = sorted([max(b_mean, 0.1), max(h_mean, 0.1)])
            ratio = round(hi / lo, 2)
            verdict = "balanced" if ratio <= 2.0 else "IMBALANCED (retry advised)"
        out["load_balance"] = {
            "pre_run_load": pre_load,
            "base_mean": round(b_mean, 2) if b_mean is not None else None,
            "head_mean": round(h_mean, 2) if h_mean is not None else None,
            "ratio": ratio, "verdict": verdict,
        }

    out_path = os.path.join(REPO, args.out)
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"[ab] wrote {out_path}")
    for key in ("base", "head"):
        if key in out:
            print(f"[ab] {key}: pass-2 wall {out[key]['pass2_totals']} s, "
                  f"pass-2 codegen compiles {out[key]['pass2_codegen_compiles']}")
    print(json.dumps(out.get("common_rows"), indent=1))


if __name__ == "__main__":
    main()
