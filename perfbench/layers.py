"""Per-layer metrics and the self-time table of a traced run.

Every per-pass figure is taken over the timed passes and reported as their
median; trigger latencies are pooled over the timed passes. A layer that a
workload does not call reports 0 (no records, no time).
"""
import glob
import json
import os
import statistics

import pandas as pd

MB = 1048576.0


def _tail(xs):
    """The highest percentile with at least ten samples beyond it; with ten
    samples or fewer no percentile has, and the maximum is reported."""
    s = sorted(xs)
    return s[len(s) - 11] if len(s) > 10 else (s[-1] if s else 0.0)


def _output(report, name, timed):
    """Query output of the last timed pass, as a DataFrame, or None."""
    for c in timed[-1]["calls"]:
        if c["name"] == name and c["output"] and glob.glob(os.path.join(c["output"], "*.parquet")):
            return pd.read_parquet(c["output"])
    return None


def _span_key(span):
    return f"chain_{span['name']}" if span["kind"] == "chain" else span["name"]


def per_pass(report, passes):
    """Per timed pass: {metric: value} from the spans of its calls."""
    spans = report["trace"]["spans"]
    by_name = {s["name"]: s for s in spans if s["kind"] == "pass"}
    cores = report["cores"]
    rows = []
    for p in passes:
        ps = by_name[f"pass{p['pass']}"]
        calls = [s for s in spans if s["parent"] == ps["id"]]
        tot = {k: sum(s["counters"][k] for s in calls)
               for k in calls[0]["counters"] if k not in ("trigger_ms", "skew_max", "state_rows", "state_bytes")}
        triggers = [t for s in calls for t in s["counters"]["trigger_ms"]]
        rec = {_span_key(s): s["counters"]["shuffle_write_records"] for s in calls}
        busy_s = tot["task_busy_ms"] / 1e3
        m = {f"operators.{_span_key(s)}.s": s["self_ms"] / 1e3 for s in calls}
        m.update({
            "operators.plan_s": tot["plan_ms"] / 1e3,
            "operators.exchanges": tot["exchanges"],
            "sources.artifact_mb": p["artifact_mb"],
            "mr.map_records": rec.get("mr_wordcount", 0),
            "mr.shuffle_records": rec.get("mr_wordcount_combine", 0),
            "streaming.triggers": len(triggers),
            "streaming.add_batch_s": tot["add_batch_ms"] / 1e3,
            "streaming.wal_commit_s": tot["wal_commit_ms"] / 1e3,
            "streaming.query_planning_s": tot["query_planning_ms"] / 1e3,
            "streaming.get_batch_s": tot["get_batch_ms"] / 1e3,
            "streaming.stages_per_trigger": tot["stream_stages"] / len(triggers) if triggers else 0.0,
            "streaming.checkpoint_mb": p["checkpoint_mb"],
            "streaming.state_rows": max((s["counters"]["state_rows"] for s in calls), default=0),
            "streaming.state_mb": max((s["counters"]["state_bytes"] for s in calls), default=0) / MB,
            "spark.jobs": tot["jobs"],
            "spark.stages": tot["stages"],
            "spark.tasks": tot["tasks"],
            "spark.failed_tasks": tot["failed_tasks"],
            "spark.task_busy_s": busy_s,
            "spark.task_wait_s": tot["task_wait_ms"] / 1e3,
            "spark.core_idle_frac": 1.0 - busy_s / (p["wall_s"] * cores),
            "spark.shuffle_write_mb": tot["shuffle_write_bytes"] / MB,
            "spark.shuffle_read_mb": tot["shuffle_read_bytes"] / MB,
            "spark.spill_mb": tot["spill_bytes"] / MB,
            "spark.skew_max": max((s["counters"]["skew_max"] for s in calls), default=0.0),
            "jvm.jit_s": p["jit_s"],
            "jvm.gc_s": p["gc_s"],
            "trace.wall_s": p["wall_s"],
        })
        m["mr.combine_ratio"] = m["mr.shuffle_records"] / m["mr.map_records"] if m["mr.map_records"] else 0.0
        rows.append((m, triggers))
    return rows


def per_layer(report, info, timed, wanted):
    """(metrics for every name in `wanted`, self-time table text)."""
    rows = per_pass(report, timed)
    metrics = {k: statistics.median(m.get(k, 0.0) for m, _ in rows) for k in wanted}
    triggers = [t for _, ts in rows for t in ts]
    kernels = report["kernels"]
    wc = _output(report, "mr_wordcount", timed)
    verified = _output(report, "dedup_verify_candidates", timed)
    metrics.update({
        "sources.scan_s": kernels["sources.scan_s"],
        "sources.input_mb": info["mb"],
        "functions.tokens_s": kernels.get("functions.tokens_s", 0.0),
        "functions.minhash_s": kernels.get("functions.minhash_s", 0.0),
        "plans.jaro_s": kernels.get("plans.jaro_s", 0.0),
        "plans.intersect_s": kernels.get("plans.intersect_s", 0.0),
        "plans.window_hash_s": kernels.get("plans.window_hash_s", 0.0),
        "plans.vec_cosine_s": kernels.get("plans.vec_cosine_s", 0.0),
        "mr.max_group_rows": int(wc["cnt"].max()) if wc is not None and len(wc) else 0,
        "operators.lsh_verified_frac":
            float(verified["is_dup"].mean()) if verified is not None and len(verified) else 0.0,
        "streaming.trigger_p50_ms": statistics.median(triggers) if triggers else 0.0,
        "streaming.trigger_tail_ms": _tail(triggers),
        "jvm.heap_peak_mb": report["trace"]["heap_peak_mb"],
        "jvm.cold_pass_s": report["passes"][0]["wall_s"],
    })
    return {k: metrics[k] for k in wanted}, self_time_table(report, timed, rows, triggers)


def self_time_table(report, timed, rows, triggers):
    spans = report["trace"]["spans"]
    passes = {s["name"]: s for s in spans if s["kind"] == "pass"}
    timed_ids = {passes[f"pass{p['pass']}"]["id"] for p in timed}
    calls = {}
    for s in spans:
        if s["parent"] in timed_ids:
            calls.setdefault((s["kind"], s["name"]), []).append(s)
    med = statistics.median
    lines = [f"self time over {len(timed)} timed pass(es), medians "
             f"({report['workload']}, {report['cores']} cores)",
             f"{'span':34s} {'kind':6s} {'self_s':>8s} {'jobs':>5s} {'stages':>6s} "
             f"{'tasks':>6s} {'shufMB':>7s} {'plan_ms':>7s} {'trig':>4s}"]
    total = 0.0
    for (kind, name), ss in calls.items():
        c = lambda k: med(s["counters"][k] for s in ss)  # noqa: E731
        self_s = med(s["self_ms"] for s in ss) / 1e3
        total += self_s
        lines.append(f"{name:34s} {kind:6s} {self_s:8.3f} {c('jobs'):5.0f} {c('stages'):6.0f} "
                     f"{c('tasks'):6.0f} {c('shuffle_write_bytes') / MB:7.2f} {c('plan_ms'):7.0f} "
                     f"{med(len(s['counters']['trigger_ms']) for s in ss):4.0f}")
    pass_self = med(passes[f"pass{p['pass']}"]["self_ms"] for p in timed) / 1e3
    wall = med(p["wall_s"] for p in timed)
    lines += [f"{'(driver, between calls)':34s} {'pass':6s} {pass_self:8.3f}",
              f"{'sum of self times':34s} {'':6s} {total + pass_self:8.3f}   traced wall_s {wall:.3f}"]
    un = report["trace"]["unattributed"]
    lines.append(f"unattributed to any span: {un['jobs']} jobs, {un['stages']} stages, {un['tasks']} tasks")
    lines.append(f"stream triggers pooled over timed passes: {len(triggers)}")
    lines.append("kernel probes (s, input subtracted): " + ", ".join(
        f"{k}={v:.4f}" for k, v in report["kernels"].items()))
    return "\n".join(lines)


def write_trace(results_dir, workload, seed, report, table):
    os.makedirs(results_dir, exist_ok=True)
    base = os.path.join(results_dir, f"{workload}-s{seed}")
    with open(base + "-trace.json", "w") as f:
        json.dump({"spans": report["trace"]["spans"], "kernels": report["kernels"],
                   "passes": [{k: v for k, v in p.items() if k != "calls"} for p in report["passes"]]},
                  f, indent=1)
    with open(base + "-selftime.txt", "w") as f:
        f.write(table + "\n")
