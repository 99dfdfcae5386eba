#!/usr/bin/env python
"""Dev harness: run registry queries against the DuckDB oracle and compare.

Usage: python tools/check_oracle.py [--sf /root/testdata/sf0.01] [names...]

Compares rows + column names + values (type-aware canonicalization:
Decimal -> float, numpy scalars -> python, bytes -> hex).  Exits nonzero on
any mismatch.  This mirrors the driver's rows+schema+hash check closely
enough to catch any behavior change before committing an optimization.
The comparison (``compare``) is shared with tests/test_registry_oracle.py.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
from decimal import Decimal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon_val(v):
    import numpy as np
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # exact doubles expected (both engines round to 6dp); repr keeps bits
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(canon_val(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon_val(x)) for k, x in v.items()))
    return v


def canon_frame(df) -> list[tuple]:
    return [tuple(canon_val(v) for v in row) for row in df.itertuples(index=False, name=None)]


def oracle_connection(sf: str):
    """A DuckDB connection with one view per registry table under ``sf``.

    Capped at 3 GB and 2 threads: under DuckDB's defaults (80 % of RAM,
    every core) the sf0.1 ``dedup_jaccard_clusters`` oracle grew past 7 GB
    RSS; capped, it finishes (373 s on a 4-CPU host)."""
    import duckdb

    con = duckdb.connect(config={"memory_limit": "3GB", "threads": 2})
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare(got, want) -> tuple[bool, list[str]]:
    """A query's Spark result against its oracle's (pandas frames): column
    names (case-insensitive), row count, then the canonical values row by
    row.  Equal rows in another order also pass, as "OK (tie-order)":
    duplicate ORDER BY keys make tie order engine-dependent, and an equal
    result SET means the query is unchanged.  Returns (ok, report lines):
    the status with row counts, then the first difference on a mismatch."""
    cols_ok = [c.lower() for c in got.columns] == [c.lower() for c in want.columns]
    g, w = canon_frame(got), canon_frame(want)
    rows_ok = len(g) == len(w)
    vals_ok = g == w
    tie_order = False
    if cols_ok and rows_ok and not vals_ok:
        vals_ok = tie_order = sorted(map(repr, g)) == sorted(map(repr, w))
    ok = cols_ok and rows_ok and vals_ok
    status = "OK (tie-order)" if ok and tie_order else (
        "OK" if ok else "MISMATCH")
    report = [f"{status} rows={len(g)}/{len(w)} cols_ok={cols_ok}"]
    if not ok and rows_ok and cols_ok:
        for i, (a, b) in enumerate(zip(g, w)):
            if a != b:
                report.append(f"  first diff at row {i}:\n    spark  {a}\n    oracle {b}")
                break
    elif not rows_ok:
        only_g = [r for r in g if r not in set(w)][:3]
        only_w = [r for r in w if r not in set(g)][:3]
        report.append(f"  spark-only (3): {only_g}\n  oracle-only (3): {only_w}")
    return ok, report


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from activedata_etl_spark.plans.queries import ORACLE_SQL, SPARK_QUERIES
    from activedata_etl_spark.session import get_spark

    spark = get_spark("oracle_check", parallelism=args.cpus,
                      shuffle_partitions=args.cpus * 2)
    con = oracle_connection(args.sf)

    names = args.names or [n for n in SPARK_QUERIES if n in ORACLE_SQL]
    failures = []
    for name in names:
        if name not in ORACLE_SQL:
            print(f"{name}: SKIP (no oracle)")
            continue
        t0 = time.time()
        try:
            got = SPARK_QUERIES[name](spark, args.sf).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"{name}: SPARK ERROR {type(e).__name__}: {e}")
            continue
        t1 = time.time()
        try:
            want = con.sql(ORACLE_SQL[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"{name}: ORACLE ERROR {type(e).__name__}: {e}")
            continue
        t2 = time.time()
        ok, report = compare(got, want)
        print(f"{name}: {report[0]} spark={t1 - t0:.2f}s oracle={t2 - t1:.2f}s")
        for line in report[1:]:
            print(line)
        if not ok:
            failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
