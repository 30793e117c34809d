#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify via sbt,
then execute each oracle SQL in DuckDB over the same parquet tables and
compare row sets, schemas, and value hashes. Driver-side tooling only —
the Scala library never depends on this.

A run starts from an empty OUT, so only this run's outputs are compared.
Every oracle query in scope without an output is a FAIL (its Verify run
threw). SPARK_GRAFT_ONLY=q13_closure,q44_org_paths limits both the run and
the compare to those queries."""
import json, os, shutil, subprocess, sys
import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
SKIP_RUN = os.environ.get("SKIP_RUN") == "1"
ONLY = {n.strip() for n in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if n.strip()}


def in_scope(name):
    return not ONLY or name in ONLY


if not SKIP_RUN:
    if os.path.isdir(OUT) and os.listdir(OUT) and not os.path.exists(f"{OUT}/oracle_sql.json"):
        sys.exit(f"{OUT} is not empty and holds no oracle_sql.json: refusing to wipe it")
    shutil.rmtree(OUT, ignore_errors=True)
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}'],
        capture_output=True, text=True, cwd="/root/repo")
    if r.returncode != 0:
        print(r.stdout[-4000:]); print(r.stderr[-4000:]); sys.exit(1)
    for line in r.stdout.splitlines():
        if "[verify]" in line or "error" in line.lower():
            print(line)

oracles = json.load(open(f"{OUT}/oracle_sql.json"))
con = duckdb.connect()
tables = "region nation customer supplier part orders lineitem events documents embeddings".split()
for t in tables:
    # testdata ships single-file tables; Spark-written probe data (the sf1
    # inflation) ships directories named t.parquet
    pat = f"{SF}/{t}.parquet"
    if os.path.isdir(pat):
        pat = f"{pat}/*.parquet"
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{pat}'")

def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

outputs = sorted(n for n in os.listdir(OUT)
                 if os.path.isdir(os.path.join(OUT, n)) and in_scope(n))
missing = sorted(({n for n in oracles if in_scope(n)} | ONLY) - set(outputs))
for name in missing:
    print(f"{name}: FAIL  no output (the query failed or did not run)")

n_pass, n_fail = 0, len(missing)
for name in outputs:
    path = os.path.join(OUT, name)
    got = con.execute(f"SELECT * FROM '{path}/*.parquet'").df()
    if name not in oracles:
        print(f"{name}: rows-only check — {len(got)} rows {'OK' if len(got) >= 0 else ''}")
        continue
    exp = con.execute(oracles[name]).df()
    g, e = canon(got), canon(exp)
    status = []
    if list(g.columns) != list(e.columns):
        status.append(f"COLS got={list(g.columns)} exp={list(e.columns)}")
    else:
        if list(g.dtypes) != list(e.dtypes):
            status.append(f"DTYPES got={list(g.dtypes)} exp={list(e.dtypes)}")
        if len(g) != len(e):
            status.append(f"ROWS got={len(g)} exp={len(e)}")
        elif not g.equals(e):
            neq = (g.fillna("__N") != e.fillna("__N")).any(axis=1)
            idx = neq[neq].index[:3]
            status.append(f"VALUES {neq.sum()} mismatched rows; first:\n"
                          f"got:\n{g.loc[idx]}\nexp:\n{e.loc[idx]}")
    if status:
        n_fail += 1
        print(f"{name}: FAIL  " + " | ".join(status))
    else:
        n_pass += 1
        print(f"{name}: PASS  ({len(g)} rows)")

print(f"\n{n_pass} pass, {n_fail} fail, "
      f"{len([n for n in outputs if n not in oracles])} rows-only")
sys.exit(1 if n_fail else 0)
