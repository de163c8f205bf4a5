#!/usr/bin/env python3
"""Pin the llm_curation output hashes after checking each output against its
DuckDB oracle SQL (SparkEntry.oracleSql) on the corpus in data/llm.

Usage (from the repository root): python3 perfbench/pin_llm.py

Writes perfbench/data/llm/pins.json only when every query matches its
oracle; run.py then checks every pass of every run against those hashes.
Re-run it when the corpus or the query list changes.
"""
import glob
import json
import os
import shutil
import sys
import time

import duckdb
import pandas as pd

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

DATA = os.path.join(run.HERE, "data", "llm")


def compare(con, sql, out_dir):
    """None when the Spark output equals the oracle's, else the reason.
    Values are compared as strings in row order, columns sorted by name."""
    want = con.sql(sql).df()
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return "no Spark output"
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    want = want.reindex(sorted(want.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(want.columns) != list(got.columns):
        return f"columns {list(want.columns)} != {list(got.columns)}"
    if len(want) != len(got):
        return f"rows {len(want)} != {len(got)}"
    ws, gs = want.astype(str).values.tolist(), got.astype(str).values.tolist()
    if ws != gs:
        bad = next(i for i, (a, b) in enumerate(zip(ws, gs)) if a != b)
        return f"row {bad}: oracle {ws[bad]} spark {gs[bad]}"
    return None


def main():
    cp = build.build()
    work = os.path.join(build.BUILD, "pin")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run.run_jvm(cp, "llm_curation", 0, 1, False, work, 4, time.time() + run.RUN_BUDGET_S,
                ["--pin", "1"])
    cands = json.load(open(os.path.join(work, "pin_candidates.json")))
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    bad = {}
    for name, c in cands.items():
        why = compare(con, c["oracle"], os.path.join(work, "out", name))
        print(f"{'PASS' if why is None else 'FAIL'} {name} ({c['rows']} rows)"
              + ("" if why is None else f": {why}"))
        if why is not None:
            bad[name] = why
    if bad:
        sys.exit(f"{len(bad)} queries differ from their oracle; pins not written")
    with open(os.path.join(DATA, "pins.json"), "w") as fh:
        json.dump({n: c["sha256"] for n, c in cands.items()}, fh, indent=1)
        fh.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"pinned {len(cands)} queries")


if __name__ == "__main__":
    main()
