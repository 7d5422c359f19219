"""One-time check of recorded query outputs against their DuckDB twins.

`run.py --record` runs every benchmark query once, writes each output
as parquet plus the queries' `SparkEntry.oracleSql` text, and calls
`check` before it stores the fingerprints. Both sides are canonicalized
the way the engine's correctness gate does it: columns sorted by name,
doubles at 6 significant digits, timestamps as text, rows sorted.
"""
import json
import math
import os

import duckdb
import pandas as pd

TABLES = ("documents", "events")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(s):
            s = s.map(lambda v: "null" if pd.isna(v) else f"{v:.6g}")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("Int64").astype(str)
        else:
            s = s.map(lambda v: "null" if v is None or (isinstance(v, float) and math.isnan(v)) else str(v))
        out[c] = s.astype(str)
    r = pd.DataFrame(out)
    return r.sort_values(by=list(r.columns)).reset_index(drop=True)


def check(data_dir: str, record_dir: str) -> bool:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    oracle = json.load(open(os.path.join(record_dir, "oracle_sql.json")))
    ok = True
    for name, sql in sorted(oracle.items()):
        mine = canon(pd.read_parquet(os.path.join(record_dir, name)))
        ref = canon(con.execute(sql).fetchdf())
        same = list(mine.columns) == list(ref.columns) and len(mine) == len(ref) and mine.equals(ref)
        print(f"{'PASS' if same else 'FAIL'} {name} ({len(mine)} rows vs {len(ref)} in DuckDB)")
        ok &= same
    return ok
