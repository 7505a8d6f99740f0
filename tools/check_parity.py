"""Local stand-in for the driver's correctness gate: run every
__spark_entry__ query on Spark AND its oracle on DuckDB, compare
row counts, column names, and order-insensitive values.

After the query loop it releases the registry's caches and fails if
Spark's CacheManager still holds anything: a persisted intermediate that
outlives its query is a leak.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_connection(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df):
    """pandas frame -> sorted list of row tuples with floats rounded."""
    df = df[sorted(df.columns)]

    def norm_cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            if math.isnan(v):
                return "NULL"
            return f"{v:.6g}"
        return str(v)

    rows = sorted(tuple(norm_cell(v) for v in row) for row in df.itertuples(index=False, name=None))
    return rows


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from eva_opentargets_spark.session import get_spark, release_last_query

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duck_connection(sf_dir)
    qs = entry.queries()
    oracles = entry.oracle_sql()

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error: {str(e)[:500]}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows={len(sdf)})")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL {name}: duckdb error: {str(e)[:500]}")
            continue
        if sorted(sdf.columns) != sorted(ddf.columns):
            failures.append((name, f"columns {sorted(sdf.columns)} vs {sorted(ddf.columns)}"))
            print(f"FAIL {name}: columns {sorted(sdf.columns)} vs {sorted(ddf.columns)}")
            continue
        s_rows, d_rows = normalize(sdf), normalize(ddf)
        if len(s_rows) != len(d_rows):
            failures.append((name, f"rowcount {len(s_rows)} vs {len(d_rows)}"))
            print(f"FAIL {name}: rowcount {len(s_rows)} vs {len(d_rows)}")
            only_s = [r for r in s_rows if r not in set(d_rows)][:3]
            only_d = [r for r in d_rows if r not in set(s_rows)][:3]
            print(f"  spark-only: {only_s}\n  duck-only: {only_d}")
            continue
        if s_rows != d_rows:
            diff = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:3]
            failures.append((name, f"values differ: {diff[:1]}"))
            print(f"FAIL {name}: values differ, first diffs: {diff}")
            continue
        print(f"OK   {name}: {len(s_rows)} rows match")

    release_last_query()
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        failures.append(("cache", "CacheManager not empty after releasing the registry"))
        print("FAIL cache: CacheManager still holds entries after the query loop")
    print(f"\n{len(failures)} failures" if failures else "\nALL MATCH")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
