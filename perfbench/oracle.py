"""Output check of the operators workload: each gate's result against
its DuckDB oracle (graft.SparkEntry.oracleSql), compared the way the
catalog's own correctness gate compares them (columns sorted by name,
values stringified, rows sorted). A gate without an oracle must return
rows.

    check(out_dir, tables_dir) -> list of failure messages

`out_dir` holds <gate>/ parquet results and oracle_sql.json;
`tables_dir` the input tables, <table>.parquet/ each.
"""
import glob
import json
import math
import os

import duckdb
import pandas as pd


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return str(v)
    df = df.map(cell)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check(out_dir, tables_dir):
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=4")
    con.execute(f"SET temp_directory='{os.path.join(os.path.dirname(out_dir), 'duckdb-spill')}'")
    for p in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    fails = []
    for gate in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, gate)
        if not os.path.isdir(path):
            continue
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if len(got.columns) == 0:
            fails.append(f"{gate}: no output")
            continue
        if gate not in oracles:
            if len(got) == 0:
                fails.append(f"{gate}: no rows")
            continue
        try:
            want = _norm(con.execute(oracles[gate]).df())
        except Exception as e:
            fails.append(f"{gate}: oracle error {e}")
            continue
        have = _norm(got)
        if list(have.columns) != list(want.columns):
            fails.append(f"{gate}: columns {list(have.columns)} vs oracle {list(want.columns)}")
        elif len(have) != len(want):
            fails.append(f"{gate}: {len(have)} rows vs oracle {len(want)}")
        elif not have.equals(want):
            fails.append(f"{gate}: values differ from the oracle")
    con.close()
    return fails
