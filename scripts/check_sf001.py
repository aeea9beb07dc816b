#!/usr/bin/env python
"""Driver-contract mirror at an arbitrary SF (default sf0.01, the driver's
correctness scale): run every queries() entry and its oracle_sql() on DuckDB,
report mismatches. Usage: python scripts/check_sf001.py [sf_dir] [name ...]"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from oracle_harness import compare, duck_con  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from entitysummarization_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    cores = len(os.sched_getaffinity(0))  # = nproc
    spark = get_spark(app_name="check", master=f"local[{cores}]",
                      shuffle_partitions=32)
    queries = entry.queries()
    oracles = entry.oracle_sql()
    con = duck_con(sf_dir)
    bad = 0
    for name in sorted(queries):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sp = queries[name](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {e}")
            bad += 1
            continue
        if name not in oracles:
            print(f"rows {name}: {len(sp)} rows ({time.time()-t0:.1f}s, no oracle)")
            continue
        try:
            dk = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {e}")
            bad += 1
            continue
        errs = compare(name, sp, dk)
        if errs:
            bad += 1
            print(f"FAIL {name} ({time.time()-t0:.1f}s): " + "; ".join(errs[:3]))
        else:
            print(f"ok   {name}: {len(sp)} rows ({time.time()-t0:.1f}s)")
    print(f"\n{bad} failures")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
