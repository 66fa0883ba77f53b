"""Driver-gate rehearsal: run every queries() entry via Spark AND its
oracle_sql() via DuckDB on the same sf dir; compare row count, column
names, and order-insensitive values. Usage:

    python tools/check_oracles.py [sf_dir] [only_query_prefix]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from serialization_agents_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize_cell(v):
    import math

    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, bool):
        return bool(v)
    return v


def df_to_sorted_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(normalize_cell(r[i]) for i in idx) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2] if len(sys.argv) > 2 else ""

    spark = get_spark(app_name="oracle-check", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    try:
        failures = compare_all(spark, con, sf_dir, only)
    finally:
        # the staged queries' scratch dirs and catalog tables
        entrymod.kg_cache_clear()

    print()
    if failures:
        print(f"{len(failures)} FAILURES:")
        for n, m in failures:
            print(" -", n, ":", m[:200])
        sys.exit(1)
    print("ALL ORACLES MATCH")


def compare_all(spark, con, sf_dir, only):
    """Run each selected query on both engines; returns (name, reason)
    for every mismatch."""
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in entrymod.queries().items():
        if only and not name.startswith(only):
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR {type(e).__name__}: {str(e)[:300]}"))
            print(f"[FAIL-spark] {name}: {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(s_rows)} rows")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {str(e)[:300]}"))
            print(f"[FAIL-duckdb] {name}: {str(e)[:200]}")
            continue
        sc, sv = df_to_sorted_rows(s_cols, s_rows)
        dc, dv = df_to_sorted_rows(d_cols, d_rows)
        if sc != dc:
            failures.append((name, f"columns differ: spark={sc} duckdb={dc}"))
            print(f"[FAIL-cols] {name}: spark={sc} duckdb={dc}")
            continue
        if len(sv) != len(dv):
            failures.append((name, f"row counts differ: spark={len(sv)} duckdb={len(dv)}"))
            print(f"[FAIL-count] {name}: spark={len(sv)} duckdb={len(dv)}")
            so, do = set(sv), set(dv)
            print("   only-spark:", list(so - do)[:3])
            print("   only-duck :", list(do - so)[:3])
            continue
        if sv != dv:
            mism = [(a, b) for a, b in zip(sv, dv) if a != b][:3]
            failures.append((name, f"values differ, e.g. {mism[:1]}"))
            print(f"[FAIL-values] {name}: {len([1 for a, b in zip(sv, dv) if a != b])} mismatched rows")
            for a, b in mism:
                print("   spark:", a)
                print("   duck :", b)
            continue
        print(f"[OK] {name}: {len(sv)} rows")
    return failures


if __name__ == "__main__":
    main()
