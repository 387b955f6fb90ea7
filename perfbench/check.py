"""Output check: each query call's parquet output against its oracle SQL
(`SparkEntry.oracleSql`) run in DuckDB on the same generated input.

Compared as tools/local_verify.py compares: columns sorted by name, then
rows sorted, values rendered as strings with a trailing ".0" dropped, and an
integer column never equal to a float one.
"""
import glob
import os

import duckdb
import pandas as pd


def _canonical(df):
    df = df[sorted(df.columns)]
    cols = [df[c].astype(str).str.replace(r"\.0$", "", regex=True) for c in df.columns]
    rows = sorted(zip(*cols)) if cols else []
    return list(df.columns), [df[c].dtype.kind for c in df.columns], rows


def same(got, want):
    gc, gk, gr = _canonical(got)
    wc, wk, wr = _canonical(want)
    if gc != wc:
        return False
    for a, b in zip(gk, wk):
        if {a, b} in ({"i", "f"}, {"u", "f"}):
            return False
    return gr == wr


def check_outputs(data, report, expect_wrong=False):
    """Map each query output path to True (matches its oracle) or False.

    `expect_wrong` drops one row from every expected result, so a correct
    program must fail every check (used by the smoke test)."""
    con = duckdb.connect()
    con.execute("SET threads=2")
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    expected = {}
    verdicts = {}
    for p in report["passes"]:
        for c in p["calls"]:
            out = c["output"]
            if out is None or c["error"]:
                continue
            sql = report["oracle"].get(c["name"])
            if sql is None:
                verdicts[out] = False
                continue
            if c["name"] not in expected:
                want = con.execute(sql).df()
                expected[c["name"]] = want.iloc[:-1] if expect_wrong else want
            try:
                got = pd.read_parquet(out) if glob.glob(os.path.join(out, "*.parquet")) else None
                verdicts[out] = got is not None and same(got, expected[c["name"]])
            except Exception:  # an unreadable output is a failed call
                verdicts[out] = False
    con.close()
    return verdicts
