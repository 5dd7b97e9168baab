#!/usr/bin/env python3
"""Produce perfbench/pins.json, the reference results of the batch queries.

Usage (from the repository root): python3 perfbench/pin.py

Runs every corpus query twice from cold checkpoints
(perfbench.Main --pin-out), writing the first result as parquet. Each
query with oracle SQL (`SparkEntry.oracleSql`) is then checked against
DuckDB over the same tables, with the comparison tools/check_oracle.py
uses: columns sorted by name, rows sorted, values compared as strings.
A mismatch aborts without writing pins. Each query is pinned by row
count, plus the content hash when both runs agree on it; queries
without oracle SQL are marked "oracle": "none".
"""
import json
import os
import shutil
import sys
import time

import duckdb
import pandas as pd

import run

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def oracle_check(con, sql, qdir):
    """None when the result equals the DuckDB result, else a message."""
    files = [os.path.join(qdir, f) for f in os.listdir(qdir) if f.endswith(".parquet")]
    got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
    want = con.sql(sql).df()
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"schema {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    bad = g.astype(str).values != w.astype(str).values
    if bad.any():
        i, j = next(zip(*bad.nonzero()))
        return f"value at row {i} col {g.columns[j]}"
    return None


def main():
    data = os.environ.get("PERFBENCH_DATA",
                          os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
    run.build()
    run_dir = os.path.join(run.RUNS, f"pin-{os.getpid()}")
    out = os.path.join(run_dir, "out")
    os.makedirs(out)
    try:
        proc = run.start_jvm(["--pin-out", out, "--data", data, "--run-dir", run_dir],
                             run_dir, None)
        if proc.wait() != 0:
            raise SystemExit(f"perfbench: JVM exited with {proc.returncode}")
        with open(os.path.join(out, "observed.json")) as fh:
            observed = json.load(fh)
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        pins, bad = {}, []
        for q in sorted(observed):
            o = observed[q]
            if o["rows"] != o["rows2"]:
                bad.append(f"{q}: row count differs between runs")
                continue
            status = "none"
            if o["oracle"]:
                err = oracle_check(con, o["oracle"], os.path.join(out, q))
                if err:
                    bad.append(f"{q}: oracle mismatch, {err}")
                    continue
                status = "pass"
            stable = o["hash"] == o["hash2"]
            pins[q] = {"rows": o["rows"], "hash": o["hash"] if stable else None,
                       "oracle": status}
            print(f"{q}: rows={o['rows']} hash={'pinned' if stable else 'unstable'} "
                  f"oracle={status}")
        if bad:
            print("\n".join(bad), file=sys.stderr)
            return 1
        with open(os.path.join(run.BENCH, "pins.json"), "w") as fh:
            json.dump({"data": "sf0.1, seed 42", "generated_at":
                       time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                       "queries": pins}, fh, indent=1, sort_keys=True)
            fh.write("\n")
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(run.RUNS)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
