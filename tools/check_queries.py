"""Local mirror of the driver's correctness gate: run every registered
Spark query and its DuckDB oracle on the same sf dir; compare row count,
column names, and order-insensitive values (exact, after canonicalizing
numeric types).

Usage: python tools/check_queries.py [--full] [sf_dir] [query_name ...]

Default checks the DRIVER view (panels + unpaneled queries — exactly
what __spark_entry__.queries() exports); --full checks every
fine-grained query individually instead.
"""

from __future__ import annotations

import math
import os
import sys
import time
from decimal import Decimal

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "src"))

import duckdb  # noqa: E402


def canon(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def rows_to_set(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(t):
        # None-safe total order: NULLs sort first within a column slot
        return tuple((v is None, type(v).__name__, 0 if v is None else v) for v in t)

    return sorted((tuple(canon(r[i]) for i in idx) for r in rows), key=key)


def main():
    args = [a for a in sys.argv[1:] if a != "--full"]
    full = "--full" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    from sparkextract.queries.registry import driver_queries
    from sparkextract.spark.session import get_spark

    if full:
        from sparkextract.queries.registry import ORACLE_SQL, SPARK_QUERIES
    else:
        SPARK_QUERIES, ORACLE_SQL = driver_queries()

    spark = get_spark("check-queries", master="local[8]")

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = 0
    for name, fn in sorted(SPARK_QUERIES.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = [c.lower() for c in sdf.columns]
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        sql = ORACLE_SQL.get(name)
        if sql is None:
            print(f"ok   {name}: rows-only, {len(s_rows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            res = con.execute(sql)
            d_cols = [d[0].lower() for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            a = rows_to_set(s_cols, s_rows)
            b = rows_to_set(d_cols, d_rows)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
