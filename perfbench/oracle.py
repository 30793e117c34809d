"""DuckDB oracle check for `corpus_ops`.

Runs each query's oracle SQL (`SparkEntry.oracleSql`, written by the
harness next to the outputs) in DuckDB over the same sampled tables, and
compares the result with the Spark output: column names, dtypes, row count
and values, after sorting both sides by every column.
"""
import json
import os

import duckdb

TABLES = ["documents", "embeddings", "lineitem", "part", "events"]


def _canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(outputs, tables):
    """[(check name, ok, detail)] for every query output under `outputs`."""
    oracles = json.load(open(os.path.join(outputs, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(tables, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    results = []
    for name in sorted(oracles):
        try:
            got = _canon(con.execute(
                f"SELECT * FROM '{os.path.join(outputs, name)}/*.parquet'").df())
            exp = _canon(con.execute(oracles[name]).df())
        except Exception as e:  # a failed read or query is a failed check
            results.append((f"{name}.oracle", False, f"{type(e).__name__}: {e}"[:300]))
            continue
        problems = []
        if list(got.columns) != list(exp.columns):
            problems.append(f"columns {list(got.columns)} != {list(exp.columns)}")
        else:
            if list(got.dtypes) != list(exp.dtypes):
                problems.append(f"dtypes {list(got.dtypes)} != {list(exp.dtypes)}")
            if len(got) != len(exp):
                problems.append(f"rows {len(got)} != {len(exp)}")
            elif not got.equals(exp):
                bad = (got.fillna("__null") != exp.fillna("__null")).any(axis=1).sum()
                problems.append(f"{bad} rows differ")
        results.append((f"{name}.oracle", not problems,
                        "; ".join(problems) or f"{len(got)} rows match"))
    return results
