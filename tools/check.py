"""Local mirror of the driver's correctness gate.

Runs every registered query through Spark AND its oracle SQL through
DuckDB at a given scale factor, then compares row count, column names and
order-insensitive values — the same contract the driver's t2 enforces.

Usage:  python tools/check.py [--vanilla] [sf_dir] [key ...]

``--vanilla`` runs against a bare ``SparkSession.builder`` session with
none of the engine's confs — exactly what the external driver builds —
so conf-dependence bugs surface here first.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from analyse_the_sky_with_apache_spark_spark import registry  # noqa: E402
from analyse_the_sky_with_apache_spark_spark.session import get_spark  # noqa: E402
from tools.canon import OracleCompareError, compare_spark_duck, duck_views  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    if vanilla:
        args = [a for a in args if a != "--vanilla"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        spark = get_spark("check")
    con = duckdb.connect()
    duck_views(con, sf_dir)

    qs, oracles = registry.queries(), registry.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        if name not in oracles:
            try:
                df = fn(spark, sf_dir)
                n_rows = df.count()
            except Exception as e:  # noqa: BLE001
                print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
                n_fail += 1
                continue
            dt = time.time() - t0
            print(f"rows  {name}: {n_rows} rows (rows-only, {dt:.1f}s)")
            n_rows_only += 1
            continue
        try:
            df = fn(spark, sf_dir)
            rel = con.execute(oracles[name])
            n_rows = compare_spark_duck(df, rel)
        except OracleCompareError as e:
            print(f"FAIL  {name}: {e}")
            n_fail += 1
            continue
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        dt = time.time() - t0
        print(f"ok    {name}: {n_rows} rows match ({dt:.1f}s)")
        n_pass += 1
    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAIL")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
