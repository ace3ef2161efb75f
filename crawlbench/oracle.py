"""DuckDB oracle check of the analytics workload: each query's Spark
output (first measured pass) against its oracle twin from
SparkEntry.oracleSql, run over the same generated tables. Normalization
follows the repository's tools_check_oracle.py: columns sorted by name,
rows sorted by all columns, dtypes and values compared exactly.

Common table expressions are evaluated AS MATERIALIZED. DuckDB 1.0
inlines a CTE at every reference, and the unrolled loop oracles (HITS,
connected components, the banding audits) reference each iteration's
CTE twice, so inlining recomputes them exponentially in the iteration
count (about 45 s per run for this query set, against 3 s
materialized). Materializing evaluates each CTE once and does not change
the result of these deterministic queries; a query whose rewritten form
fails to run is checked with its original text.
"""
import glob
import json
import math
import os
import re

_CTE = re.compile(r"(\bWITH\s+(?:RECURSIVE\s+)?|,\s*)([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+\(", re.I)


def materialized(sql):
    return _CTE.sub(lambda m: f"{m.group(1)}{m.group(2)} AS MATERIALIZED (", sql)


def check(data_dir, oracle_dir):
    """Returns {query: "" if it matches, else the reason}."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for t in ("orders", "lineitem", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)

    def norm(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    verdict = {}
    for name, sql in sorted(oracle.items()):
        try:
            files = glob.glob(f"{oracle_dir}/{name}/*.parquet")
            if not files:
                verdict[name] = "no spark output"
                continue
            s = norm(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
            try:
                d = con.execute(materialized(sql)).fetchdf()
            except duckdb.Error:
                d = con.execute(sql).fetchdf()
            d = norm(d)
            if list(s.columns) != list(d.columns):
                verdict[name] = f"columns spark={list(s.columns)} duckdb={list(d.columns)}"
                continue
            bad = [(c, str(s[c].dtype), str(d[c].dtype)) for c in s.columns if str(s[c].dtype) != str(d[c].dtype)]
            if bad:
                verdict[name] = f"dtypes {bad}"
                continue
            if len(s) != len(d):
                verdict[name] = f"rows spark={len(s)} duckdb={len(d)}"
                continue
            why = ""
            for c in s.columns:
                sv, dv = s[c].values, d[c].values
                if s[c].dtype.kind == "f":
                    eq = all((math.isnan(a) and math.isnan(b)) or a == b for a, b in zip(sv, dv))
                elif s[c].dtype.kind == "M":
                    eq = ((sv == dv) | (pd.isna(sv) & pd.isna(dv))).all()
                else:
                    eq = (sv == dv).all()
                if not eq:
                    diffs = [(i, sv[i], dv[i]) for i in range(len(sv)) if str(sv[i]) != str(dv[i])][:3]
                    why = f"column {c}: {diffs}"
                    break
            verdict[name] = why
        except Exception as e:  # an oracle that cannot run is a failed check
            verdict[name] = f"{type(e).__name__}: {e}"
    return verdict
