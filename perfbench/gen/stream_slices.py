#!/usr/bin/env python3
"""Stage the `stream_stores` backlogs: one parquet file per micro-batch.

Each store family's stream arrives in order and is cut into --batches
contiguous slices, staged the way the project's stream-store queries
stage theirs:
  session, skipgram
            events ranked by (ts, event_id): every slice is per-user
            order-contiguous
  mst       lineitem part/supplier pairs in (orderkey, line) order as a
            weighted edge list (id_a = 2·part, id_b = 2·supplier + 1,
            integer weight from the keys)
Slice files get strictly increasing modification times, so a file stream
with maxFilesPerTrigger = 1 replays them in order. The seed jitters the
slice boundaries. Reads the sampled tables in --tables.

    python3 perfbench/gen/stream_slices.py --seed 1 --tables DIR --out DIR --batches 2
"""
import argparse
import json
import os
import random

import duckdb

# family -> (source table, staged columns, arrival order)
FAMILIES = {
    "session": ("events", "user_id, ts, event_id", "ts, event_id"),
    "skipgram": ("events", "user_id, event_type, ts, event_id", "ts, event_id"),
    "mst": ("lineitem",
            "l_partkey * 2 AS id_a, l_suppkey * 2 + 1 AS id_b, "
            "1 + (l_orderkey * 7919 + l_partkey * 104729 + l_suppkey * 31) % 1000 AS w",
            "l_orderkey, l_linenumber"),
}


def cuts(rng, n, batches):
    """Slice boundaries: equal shares, each moved by up to a quarter slice."""
    step = n / batches
    inner = sorted({max(1, min(n - 1, round(i * step + rng.uniform(-step / 4, step / 4))))
                    for i in range(1, batches)})
    return [0] + inner + [n]


def stage(seed, tables, out, batches):
    con = duckdb.connect()
    rows, mtime = {}, 1_000_000_000
    for fam, (table, cols, order) in FAMILIES.items():
        d = os.path.join(out, fam)
        os.makedirs(d, exist_ok=True)
        con.execute(f"CREATE TABLE s_{fam} AS SELECT {cols}, row_number() OVER (ORDER BY {order}) "
                    f"AS rn FROM '{tables}/{table}.parquet'")
        n = con.execute(f"SELECT count(*) FROM s_{fam}").fetchone()[0]
        bounds = cuts(random.Random(f"{seed}:{fam}"), n, batches)
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            f = os.path.join(d, f"part-{i:05d}.parquet")
            con.execute(f"COPY (SELECT * EXCLUDE (rn) FROM s_{fam} WHERE rn > {lo} AND rn <= {hi} "
                        f"ORDER BY rn) TO '{f}' (FORMAT PARQUET)")
            mtime += 10
            os.utime(f, (mtime, mtime))
        rows[fam] = n
    manifest = dict(seed=seed, batches=batches, rows=rows)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--tables", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--batches", type=int, default=2)
    a = ap.parse_args()
    print(json.dumps(stage(a.seed, a.tables, a.out, a.batches)))


if __name__ == "__main__":
    main()
