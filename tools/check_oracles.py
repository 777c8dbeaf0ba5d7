"""Local stand-in for the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01; compare row count,
column names, and order-insensitive values (rounded)."""

from __future__ import annotations

import math
import os
import sys
import time

# the tree this script lives in, not whatever copy is installed
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python-UDF workers don't inherit the driver's sys.path — they need the
# package importable via PYTHONPATH (set BEFORE the JVM starts so the
# worker daemons inherit it).  Without this, running the check from a
# scratch cwd fails only the UDF-bearing queries with ModuleNotFoundError.
os.environ["PYTHONPATH"] = ROOT + (
    os.pathsep + os.environ["PYTHONPATH"]
    if os.environ.get("PYTHONPATH") else "")

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Types that render identically through str(), pandas, and pyarrow.
# HUGEINT/DECIMAL (DuckDB sum() defaults) and nested types are banned:
# the driver's canonicalizer hashes them differently than BIGINT even
# when the values are equal integers.
PORTABLE_TYPES = {"BIGINT", "INTEGER", "SMALLINT", "TINYINT", "DOUBLE",
                  "FLOAT", "VARCHAR", "BOOLEAN", "DATE", "TIMESTAMP"}


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(v)
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm_cell(r[i]) for i in idx))
    return sorted(out)


def main():
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (SparkSession.builder.master("local[8]")
             .appName("oracle-check")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "false")
             # no progress bars: they share lines with the "ok" results
             # when the output goes to a file
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory", "8g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    n_run = n_hashed = n_rows_only = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        n_run += 1
        t0 = time.time()
        try:
            sdf = fn(spark, SF)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failed.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, {dt:.1f}s)")
            n_rows_only += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = [str(t).upper() for t in rel.types]
            drows = rel.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failed.append(name)
            continue
        # Driver-canonicalizer portability gate: the driver renders oracle
        # results through pandas/pyarrow, where HUGEINT (DuckDB's untyped
        # sum() output) and DECIMAL stringify differently than BIGINT —
        # rows/schema match but the value hash diverges (the r2/r3 failure
        # signature).  str()-based local checks are blind to it, so assert
        # the result schema stays inside the portable scalar subset.
        bad = [(c, t) for c, t in zip(dcols, dtypes)
               if t not in PORTABLE_TYPES]
        if bad:
            print(f"FAIL {name}: non-portable oracle output types {bad} "
                  f"(cast sums to ::BIGINT / ::DOUBLE)")
            failed.append(name)
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns {sorted(scols)} vs {sorted(dcols)}")
            failed.append(name)
            continue
        a = norm_rows(scols, srows)
        b = norm_rows(dcols, drows)
        if len(a) != len(b):
            print(f"FAIL {name}: rowcount {len(a)} vs {len(b)}")
            print("  spark:", a[:3])
            print("  duck :", b[:3])
            failed.append(name)
            continue
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL {name}: values differ, first diffs: {diffs}")
            failed.append(name)
            continue
        print(f"ok   {name}: {len(a)} rows match ({dt:.1f}s)")
        n_hashed += 1

    print("\nentry() smoke:", end=" ")
    try:
        e = entrymod.entry(spark)
        print(f"{e.count()} rows, schema={[f.name for f in e.schema.fields]}")
    except Exception as ex:
        print(f"FAIL: {ex}")
        failed.append("entry")
    print("FAILED:" if failed else "ALL GREEN", failed or "")
    print(f"{n_run} queries run: {n_hashed} hash-matched, "
          f"{n_rows_only} rows-only, {n_run - n_hashed - n_rows_only} failed")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
