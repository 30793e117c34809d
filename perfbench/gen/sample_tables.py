#!/usr/bin/env python3
"""Seeded key-consistent sample of the committed corpus tables.

Writes one parquet file per table and manifest.json (seed, row counts).
Keeps a seeded ~90% of each key domain and every row whose keys were all
kept, so foreign keys stay consistent across tables:
  part.p_partkey, lineitem.l_partkey     -> part keys
  lineitem.l_suppkey                     -> supplier keys
  documents.doc_id, embeddings.vec_id    -> document / vector ids
  events.user_id                         -> users (a user's stream is whole)

The base tables (perfbench/data) are the sf0.01 tables of the project's
test corpus; lineitem is projected to its key columns.

    python3 perfbench/gen/sample_tables.py --seed 1 --out DIR
"""
import argparse
import json
import os
import random

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(os.path.dirname(HERE), "data")
KEEP = 0.9

# table -> [(column, key domain)]
KEYS = {
    "part": [("p_partkey", "part")],
    "lineitem": [("l_partkey", "part"), ("l_suppkey", "supp")],
    "documents": [("doc_id", "doc")],
    "embeddings": [("vec_id", "vec")],
    "events": [("user_id", "user")],
}


def sample(seed, out, data=DATA):
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    domains = {}
    for table, cols in KEYS.items():
        for c, dom in cols:
            vals = con.execute(f"SELECT DISTINCT {c} FROM '{data}/{table}.parquet'").fetchall()
            domains.setdefault(dom, set()).update(v for (v,) in vals)
    for dom, keys in sorted(domains.items()):
        rng = random.Random(f"{seed}:{dom}")
        keep = [k for k in sorted(keys) if rng.random() < KEEP]
        con.execute(f"CREATE TABLE keep_{dom} AS SELECT unnest(?::BIGINT[]) AS k", [keep])
    rows = {}
    for table, cols in KEYS.items():
        where = " AND ".join(f"{c} IN (SELECT k FROM keep_{dom})" for c, dom in cols)
        order = ", ".join(c for c, _ in cols)
        con.execute(f"COPY (SELECT * FROM '{data}/{table}.parquet' WHERE {where} ORDER BY {order}) "
                    f"TO '{out}/{table}.parquet' (FORMAT PARQUET)")
        rows[table] = con.execute(f"SELECT count(*) FROM '{out}/{table}.parquet'").fetchone()[0]
    manifest = dict(seed=seed, keep=KEEP, rows=rows)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(sample(a.seed, a.out)))


if __name__ == "__main__":
    main()
