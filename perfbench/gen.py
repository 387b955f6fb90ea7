#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

    python3 perfbench/gen.py --workload <name> --seed <n> --out <dir> [--tiny]

Writes the parquet tables one workload reads into <dir> (the same star-schema
column layout the program's `graft.sources.Tables` loaders expect) plus
`inputs.json` with each table's rows and bytes. The same (workload, seed)
gives byte-identical files: every random draw comes from one numpy PCG64
stream seeded by (seed, workload), and DuckDB writes the parquet on a single
thread.

The three input properties the workloads vary:
  * `vocab`       - Zipf vocabulary size of the `wordcount` corpus: more
                    distinct words means more groups to shuffle and reduce.
  * `dup_share`   - share of `llm_dedup` documents (and vectors) that are
                    planted near-duplicates of an earlier one: exact copies,
                    copies with appended tokens, copies with edited tokens,
                    and spliced copies that share one long span.
  * `event_parts` - number of part files of the `stream_ingest` events table;
                    the stream bridges replay them one file per trigger.
"""
import argparse
import json
import os
import sys
import zlib

import duckdb
import numpy as np
import pandas as pd

# Sizes per workload. `tiny` is the smoke-test size.
SIZES = {
    "wordcount": {"docs": 8000, "vocab": 20000, "min_toks": 8, "max_toks": 90},
    "llm_dedup": {"docs": 1000, "vocab": 6000, "min_toks": 8, "max_toks": 90,
                  "dup_share": 0.12, "vecs": 600},
    "stream_ingest": {"events": 20000, "users": 400, "event_parts": 6},
}
TINY = {
    "wordcount": {"docs": 300, "vocab": 400},
    "llm_dedup": {"docs": 300, "vocab": 600, "vecs": 200},
    "stream_ingest": {"events": 2000, "users": 60},
}

LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])


def params(workload, tiny):
    p = dict(SIZES[workload])
    if tiny:
        p.update(TINY[workload])
    return p


def rng_for(workload, seed):
    return np.random.default_rng([seed & 0xFFFFFFFF, zlib.crc32(workload.encode())])


def zipf_ranks(rng, vocab, n):
    """Word ranks 0..vocab-1 with P(r) ~ 1/(r+1) (log-uniform inverse CDF)."""
    u = rng.random(n)
    return np.minimum(np.floor(np.exp(u * np.log(vocab + 1))).astype(np.int64) - 1, vocab - 1)


def word(r):
    return f"w{r}"


def random_docs(rng, p, n):
    n_toks = rng.integers(p["min_toks"], p["max_toks"] + 1, n)
    ranks = zipf_ranks(rng, p["vocab"], int(n_toks.sum()))
    toks, at = [], 0
    for k in n_toks:
        toks.append([word(r) for r in ranks[at:at + k]])
        at += k
    langs = LANGS[rng.integers(0, len(LANGS), n)]
    sources = rng.integers(0, 20, n)
    return [{"doc_id": i, "toks": toks[i], "lang": str(langs[i]),
             "source": f"src{sources[i]}"} for i in range(n)]


def plant_duplicates(rng, p, docs):
    """Replace a `dup_share` of the docs with near-copies of earlier docs.

    Sources are drawn from a pool half the size of the copies, so a source
    often has two or more copies and its 8-token lines recur three times,
    which is what line dedup cuts."""
    n = len(docs)
    n_dup = int(round(n * p["dup_share"]))
    pool = rng.choice(n // 2, size=max(1, n_dup // 2), replace=False)
    targets = rng.choice(np.arange(n // 2, n), size=n_dup, replace=False)
    kinds = rng.choice(["exact", "append", "edit", "splice"], size=n_dup,
                       p=[0.3, 0.3, 0.2, 0.2])
    for t, kind in zip(targets, kinds):
        src = docs[int(pool[rng.integers(0, len(pool))])]
        toks = list(src["toks"])
        if kind == "append":
            toks += [word(r) for r in zipf_ranks(rng, p["vocab"], 3)]
        elif kind == "edit":
            for i in rng.choice(len(toks), size=max(1, len(toks) // 10), replace=False):
                toks[i] = word(int(zipf_ranks(rng, p["vocab"], 1)[0]))
        elif kind == "splice":
            half = len(toks) // 2
            toks = toks[:half] + docs[int(t)]["toks"][half:]
        docs[int(t)] = {"doc_id": docs[int(t)]["doc_id"], "toks": toks,
                        "lang": src["lang"], "source": src["source"]}
    return n_dup


def documents_frame(docs):
    text = [" ".join(d["toks"]) for d in docs]
    return pd.DataFrame({
        "doc_id": pd.Series([d["doc_id"] for d in docs], dtype="int64"),
        "text": text,
        "lang": [d["lang"] for d in docs],
        "source": [d["source"] for d in docs],
        "n_chars": pd.Series([len(t) for t in text], dtype="int64"),
    })


def embeddings_frame(rng, n, dup_share, dim=64, clusters=10):
    centers = rng.normal(size=(clusters, dim))
    labels = rng.integers(0, clusters, n)
    vecs = centers[labels] + 0.35 * rng.normal(size=(n, dim))
    n_dup = int(round(n * dup_share))
    targets = rng.choice(np.arange(n // 2, n), size=n_dup, replace=False)
    sources = rng.integers(0, n // 2, n_dup)
    vecs[targets] = vecs[sources] + 1e-3 * rng.normal(size=(n_dup, dim))
    labels[targets] = labels[sources]
    vecs = vecs.astype(np.float32)
    return pd.DataFrame({
        "vec_id": pd.Series(np.arange(n), dtype="int64"),
        "embedding": [v for v in vecs],
        "label": pd.Series(labels, dtype="int32"),
    }), n_dup


def events_frame(rng, p):
    n = p["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 10**6
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pd.DataFrame({
        "event_id": pd.Series(np.arange(n), dtype="int64"),
        "ts": ts,
        "user_id": pd.Series(rng.integers(0, p["users"], n), dtype="int64"),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.random(n) * 200.0, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def write_table(con, out, name, frame, parts=1):
    """Write `frame` as <out>/<name>.parquet: one file, or a directory of
    `parts` files split in row order (event time order for events)."""
    con.register("frame_view", frame)
    path = os.path.join(out, f"{name}.parquet")
    if parts == 1:
        con.execute(f"COPY (SELECT * FROM frame_view) TO '{path}' (FORMAT parquet)")
    else:
        os.makedirs(path)
        bounds = np.linspace(0, len(frame), parts + 1).astype(int)
        for i in range(parts):
            con.execute(
                f"COPY (SELECT * FROM frame_view LIMIT {bounds[i + 1] - bounds[i]} "
                f"OFFSET {bounds[i]}) TO '{path}/part-{i:05d}.parquet' (FORMAT parquet)")
    con.unregister("frame_view")
    files = [path] if parts == 1 else [os.path.join(path, f) for f in sorted(os.listdir(path))]
    return {"rows": len(frame), "bytes": sum(os.path.getsize(f) for f in files),
            "files": len(files)}


def generate(workload, seed, out, tiny=False):
    p = params(workload, tiny)
    rng = rng_for(workload, seed)
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=1")
    con.execute("SET preserve_insertion_order=true")
    tables, planted = {}, {}
    if workload in ("wordcount", "llm_dedup"):
        docs = random_docs(rng, p, p["docs"])
        if workload == "llm_dedup":
            planted["documents"] = plant_duplicates(rng, p, docs)
        tables["documents"] = write_table(con, out, "documents", documents_frame(docs))
    if workload == "llm_dedup":
        emb, planted["embeddings"] = embeddings_frame(rng, p["vecs"], p["dup_share"])
        tables["embeddings"] = write_table(con, out, "embeddings", emb)
    if workload == "stream_ingest":
        tables["events"] = write_table(con, out, "events", events_frame(rng, p),
                                       parts=p["event_parts"])
    con.close()
    info = {"workload": workload, "seed": seed, "tiny": tiny, "params": p,
            "planted": planted, "tables": tables,
            "rows": sum(t["rows"] for t in tables.values()),
            "mb": sum(t["bytes"] for t in tables.values()) / 2**20}
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(info, f, indent=1, sort_keys=True)
    return info


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tiny", action="store_true")
    a = ap.parse_args()
    if os.path.exists(a.out):
        sys.exit(f"{a.out} exists; the generator writes only into a new directory")
    print(json.dumps(generate(a.workload, a.seed, a.out, a.tiny)))


if __name__ == "__main__":
    main()
