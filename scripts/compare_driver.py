"""Driver-style correctness comparison: Spark queries vs DuckDB oracles.

Usage: python scripts/compare_driver.py [query1,query2,...] [sf_dir]
Mirrors the driver's gate: row count + schema-sorted value hash at sf0.01.
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from gensor_spark.plans.caching import cache_scope  # noqa: E402
from gensor_spark.session import get_spark  # noqa: E402
from gensor_spark.sources.tables import TESTDATA_TABLES  # noqa: E402


def value_hash(df) -> tuple[str, int]:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].astype(str)
    rows = sorted(map("|".join, df.values.tolist()))
    return hashlib.md5("\n".join(rows).encode()).hexdigest(), len(df)


def main() -> None:
    subset = sys.argv[1].split(",") if len(sys.argv) > 1 and sys.argv[1] else None
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    spark = get_spark(master="local[32]", shuffle_partitions=32)
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    Q, O = E.queries(), E.oracle_sql()
    names = subset or list(Q)
    failures = 0
    for name in names:
        t0 = time.perf_counter()
        try:
            with cache_scope():
                sdf = Q[name](spark, sf).toPandas()
        except Exception as exc:
            print(f"{name}: SPARK ERROR {str(exc)[:200]}")
            failures += 1
            continue
        t_spark = time.perf_counter() - t0
        if name not in O:
            print(f"{name}: rows={len(sdf)} (no oracle, rows-only) {t_spark:.1f}s")
            continue
        try:
            odf = con.execute(O[name]).fetchdf()
        except Exception as exc:
            print(f"{name}: ORACLE ERROR {str(exc)[:200]}")
            failures += 1
            continue
        hs, ns = value_hash(sdf)
        ho, no = value_hash(odf)
        ok = hs == ho
        if not ok:
            failures += 1
        print(f"{name}: {'MATCH' if ok else 'MISMATCH'} spark={ns} oracle={no} "
              f"{t_spark:.1f}s  {hs[:8]} {ho[:8]}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
