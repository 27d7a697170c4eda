"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, compares row count, column names, and
order-insensitive values. Usage:

    python tools/compare_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb

import __spark_entry__ as entry
from pgferry_spark.session import get_spark
from pgferry_spark.sources.parquet import TPCH_TABLES


def norm_cell(v):
    """Type-tagged canonical cell. The driver's value hash is type-sensitive
    (it fetches DuckDB through Arrow, where e.g. HUGEINT sums surface as
    decimal128 while Spark longs are int64), so the tag makes representation
    divergences — not just value divergences — fail locally too."""
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "b:" + str(bool(v)).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        return f"f:{v:.10g}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v}"
    return f"{type(v).__name__[0]}:{v}"


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-compare")
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            continue
        finally:
            # operators that persist intermediates (funnel, ccnet
            # tiers, status gate) document a caller-unpersist
            # lifecycle; a multi-entry gate run is that caller —
            # without this, MEMORY_AND_DISK residue accumulates
            # across a 40-entry chunk (round 13, r12 ADVICE low)
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"ok    {name}: rows-only ({len(srows)} rows, no oracle)")
            continue
        try:
            tbl = con.execute(oracles[name]).fetch_arrow_table()
            ocols = tbl.column_names
            orows = [tuple(d.values()) for d in tbl.to_pylist()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            continue
        sc, sr = norm_rows(scols, [tuple(r) for r in srows])
        oc, orr = norm_rows(ocols, orows)
        if sc != oc:
            failures.append(name)
            print(f"FAIL  {name}: columns spark={sc} oracle={oc}")
            continue
        if len(sr) != len(orr):
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={len(sr)} oracle={len(orr)}")
            continue
        if sr != orr:
            failures.append(name)
            bad = [(a, b) for a, b in zip(sr, orr) if a != b][:3]
            print(f"FAIL  {name}: value mismatch; first diffs: {bad}")
            continue
        print(f"ok    {name}: {len(sr)} rows match")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL MATCH")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
