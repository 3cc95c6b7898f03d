#!/usr/bin/env python3
"""Per-oracle DuckDB wall-time profile — the round-9 tool that found the
driver-handoff root cause (the oracle replay cost 804 s at sf0.01; one
query was 486 s of it). Run after any oracle change to keep the
driver's correctness stage inside its wall-clock budget.

Usage: python3 tools/profile_oracles.py <verify_out_dir> <sf_dir> [top_n]

<verify_out_dir> must contain oracle_sql.json (any graft.Verify run
dumps the FULL oracle map, whatever query patterns it was given).
"""
import json
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    top_n = int(sys.argv[3]) if len(sys.argv) > 3 else 15
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    times = []
    for name, sql in oracle.items():
        t0 = time.time()
        try:
            con.execute(sql).df()
            times.append((time.time() - t0, name, "ok"))
        except Exception as e:
            times.append((time.time() - t0, name, f"ERR {e!r}"))
    times.sort(reverse=True)
    for sec, name, st in times[:top_n]:
        print(f"{sec:8.2f}  {name}  {st[:80]}")
    n_err = sum(1 for t in times if t[2] != "ok")
    print(f"TOTAL {sum(t[0] for t in times):.1f}s over {len(times)} oracles"
          f" ({n_err} errors)")
    sys.exit(1 if n_err else 0)


if __name__ == "__main__":
    main()
