"""Local differential harness mimicking the driver's correctness gate:
run each __spark_entry__ query on Spark AND its DuckDB oracle, compare
row count + sorted-column value multiset.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]

Exits 2 without running anything when a named query is not in the
registry.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

# the checkout this script lives in, never a fixed path: run from
# another checkout, it must check that checkout's package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from polars_text_spark.session import get_spark  # noqa: E402
from polars_text_spark.sources.catalog import TABLES  # noqa: E402


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0; full value otherwise (queries round where needed,
        # matching the driver's hash semantics)
        return v + 0.0
    if hasattr(v, "isoformat"):
        # full microsecond precision — second-truncation once masked a
        # 1 us timestamp bug the driver's hash caught
        return v.isoformat()
    return v


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        out.append(tuple(_norm_cell(row[i]) for i in order))
    return sorted(out, key=repr)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    queries = entrymod.queries()
    unknown = sorted(only - set(queries))
    if unknown:
        print(f"unknown query names: {' '.join(unknown)}", file=sys.stderr)
        return 2
    spark = get_spark("oracle-check", extra_conf={"spark.ui.enabled": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        spark_rows = [tuple(r) for r in sdf.collect()]
        spark_cols = sdf.columns
        if name not in oracles:
            print(f"{name:<28} rows-only: {len(spark_rows)} rows")
            continue
        res = con.execute(oracles[name])
        duck_cols = [d[0] for d in res.description]
        duck_rows = res.fetchall()
        a = _normalize(spark_rows, spark_cols)
        b = _normalize(duck_rows, duck_cols)
        status = []
        if sorted(spark_cols) != sorted(duck_cols):
            status.append(
                f"SCHEMA MISMATCH spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
            )
        if len(a) != len(b):
            status.append(f"ROWCOUNT spark={len(a)} duck={len(b)}")
        elif a != b:
            diffs = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
            status.append(f"VALUES differ at {len(diffs)} rows, first: ")
            if diffs:
                i = diffs[0]
                status.append(f"  spark={a[i]}")
                status.append(f"  duck ={b[i]}")
        if status:
            failures += 1
            print(f"{name:<28} FAIL")
            for s in status:
                print(f"    {s}")
        else:
            print(f"{name:<28} OK ({len(a)} rows)")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
