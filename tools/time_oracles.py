#!/usr/bin/env python3
"""Profile the DuckDB oracle replay cost per query, mimicking the
driver's gate conditions (single connection over the sf views).

Usage: time_oracles.py ORACLE_JSON SFDIR [threads]

ORACLE_JSON is the oracle_sql.json that `graft.Verify SFDIR OUTDIR` writes
into OUTDIR. Verify writes it before any query runs, so the file is
complete as soon as it appears; a name list as Verify's third argument
limits it to those queries.
"""
import json
import os
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(oracle_json, sfdir, threads=None):
    con = duckdb.connect()
    if threads:
        con.execute(f"SET threads={threads}")
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(oracle_json))
    times = {}
    total = 0.0
    for name in sorted(oracles):
        t0 = time.time()
        try:
            con.sql(oracles[name]).df()
            err = None
        except Exception as e:
            err = str(e)[:120]
        dt = time.time() - t0
        times[name] = dt
        total += dt
        flag = f"  ERROR {err}" if err else ""
        print(f"{dt:8.2f}s  {name}{flag}", flush=True)
    print(f"\nTOTAL {total:.1f}s over {len(oracles)} oracles")
    for n, t in sorted(times.items(), key=lambda kv: -kv[1])[:15]:
        print(f"  top: {t:7.2f}s {n}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2],
         int(sys.argv[3]) if len(sys.argv) > 3 else None)
