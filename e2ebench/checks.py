"""DuckDB correctness checks on the outputs a benchmark run left behind.

Each check returns a list of (operation name, reason) failures; an empty
list means every checked output matched.
"""
import csv
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _cell_eq(a, b) -> bool:
    if pd.isna(a) and pd.isna(b):
        return True
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) < 1e-12
    return str(a) == str(b)


def query_oracles(dump_dir: str, inputs: str):
    """Each oracle-bearing query's warm-pass result against DuckDB running
    the query's `oracleSql` over the same generated tables (columns sorted
    by name, rows sorted as strings, the repository's compare rules)."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(inputs, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    fails = []
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(dump_dir, name, "*.parquet")))
        if not files:
            fails.append((name, "no result was written"))
            continue
        s = _canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        o = _canon(con.sql(sql).df())
        if list(s.columns) != list(o.columns):
            fails.append((name, f"columns {list(s.columns)} != oracle {list(o.columns)}"))
        elif len(s) != len(o):
            fails.append((name, f"{len(s)} rows != oracle {len(o)}"))
        else:
            bad = next(((i, c) for i in range(len(s)) for c in s.columns
                        if not _cell_eq(s.at[i, c], o.at[i, c])), None)
            if bad:
                i, c = bad
                fails.append((name, f"row {i} col {c}: {s.at[i, c]!r} != oracle {o.at[i, c]!r}"))
    return fails


def eda_outputs(fixture: str, out_dirs):
    """Target positive counts and pair co-counts of every pipeline run
    against DuckDB over the generated fixture."""
    con = duckdb.connect()
    tgt = con.sql(f"SELECT * FROM '{fixture}/train_target.parquet/*.parquet'").df()
    names = [c for c in tgt.columns if c.startswith("target_")]
    x = tgt[names].to_numpy(dtype=np.int64)
    co = x.T @ x
    ix = {n: i for i, n in enumerate(names)}
    fails = []
    for d in out_dirs:
        with open(os.path.join(d, "target_stats.csv")) as f:
            stats = list(csv.DictReader(f))
        got = {r["target"]: int(r["positive_count"]) for r in stats}
        want = {n: int(co[i, i]) for n, i in ix.items()}
        if got != want:
            diff = sorted(k for k in want if got.get(k) != want[k])[:3]
            fails.append(("eda_pipeline", f"{d}: positive counts differ for {diff}"))
        with open(os.path.join(d, "target_pair_stats.csv")) as f:
            pairs = list(csv.DictReader(f))
        if len(pairs) != len(names) * (len(names) - 1) // 2:
            fails.append(("eda_pipeline", f"{d}: {len(pairs)} pair rows"))
        bad = [r for r in pairs if int(r["co_count"]) != co[ix[r["col_a"]], ix[r["col_b"]]]]
        if bad:
            fails.append(("eda_pipeline",
                          f"{d}: co_count differs for {bad[0]['col_a']}/{bad[0]['col_b']}"))
    return fails
