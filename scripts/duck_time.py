#!/usr/bin/env python3
"""Warm DuckDB timing over the oracle suite (the like-for-like
comparator recorded in BASELINE.md).

Usage:
  python3 scripts/duck_time.py <verify_out_dir> <sf_dir> [reps]

Loads <verify_out_dir>/oracle_sql.json, creates views over the sf_dir
parquet tables, runs every oracle once cold then `reps` (default 3)
warm passes, and prints total cold / per-pass warm sums plus the
slowest 10 queries by warm median.
"""
import json
import os
import statistics
import sys
import time
from pathlib import Path

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main() -> None:
    out_dir, sf_dir = Path(sys.argv[1]), Path(sys.argv[2])
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    oracles = json.loads((out_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    # Same default as the Scala mains: SPARK_GRAFT_CPUS, else the box's cores.
    threads = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        p = sf_dir / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    times = {}
    cold = 0.0
    for name, sql in oracles.items():
        t0 = time.time()
        try:
            con.execute(sql).fetchall()
        except Exception as e:
            print(f"{name}: ERROR {str(e)[:120]}")
            continue
        cold += time.time() - t0
        times[name] = []
    for _ in range(reps):
        for name in list(times):
            t0 = time.time()
            con.execute(oracles[name]).fetchall()
            times[name].append(time.time() - t0)
    med = {n: statistics.median(ts) for n, ts in times.items()}
    mn = {n: min(ts) for n, ts in times.items()}
    print(f"n={len(times)} cold={cold:.1f}s warm_median_sum={sum(med.values()):.1f}s "
          f"warm_min_sum={sum(mn.values()):.1f}s")
    for n, v in sorted(med.items(), key=lambda x: -x[1])[:10]:
        print(f"  {n:36s} {v:.3f}")


if __name__ == "__main__":
    main()
