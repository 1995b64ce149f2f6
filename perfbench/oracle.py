"""Batch output check: each job's result, written by the benchmark's
set-up pass, must hash-match its DuckDB twin from `graft.OracleSql`
over the same generated tables. The canonical form follows the
project's DuckDB oracle check (`tools/check_oracle.py`): columns sorted by name,
rows sorted, doubles rounded to 6 dp, timestamps as ISO strings.
"""
import glob
import hashlib
import json
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            except (TypeError, AttributeError):
                pass
            s = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            s = s.round(6)
            s = s.where(~(s == -0.0), 0.0)
        elif s.dtype == object:
            s = s.astype(str)
        out[c] = s
    df = pd.DataFrame(out)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def digest(df):
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def plant(df):
    """The same result with one value of its first row changed."""
    bad = df.copy()
    c = bad.columns[0]
    bad.loc[0, c] = (bad.loc[0, c] + 1) if pd.api.types.is_numeric_dtype(bad[c]) \
        else str(bad.loc[0, c]) + "x"
    return canon(bad)


def check(data_dir, check_dir):
    """Returns {check name: passed} for every job plus the plant self-test."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    oracle = json.load(open(f"{check_dir}/oracle_sql.json"))
    checks, planted = {}, None
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{check_dir}/{name}/*.parquet")
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in files]))
            exp = canon(con.execute(sql).df())
            ok = list(got.columns) == list(exp.columns) and digest(got) == digest(exp)
        except Exception as e:  # a job that cannot be read or checked fails its check
            print(f"[perfbench] oracle {name}: {e}", file=sys.stderr)
            ok, got, exp = False, None, None
        if not ok:
            print(f"[perfbench] oracle mismatch: {name}", file=sys.stderr)
        checks[f"oracle.{name}"] = ok
        if ok and planted is None and len(got) > 0:
            planted = digest(plant(got)) != digest(exp)
    checks["selftest.oracle_plant"] = bool(planted)
    con.close()
    return checks
