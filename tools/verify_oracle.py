"""Driver-style correctness gate, runnable locally.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then compares
row count, column names, and order-insensitive values (floats to 1e-9 or
exact strings). Mirrors the driver's CORRECTNESS check so regressions are
caught before a round ends. Each query's line carries its Spark wall
(build + collect), so every registry query gets a did-it-run check and a
timing on each run.

Usage: python tools/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    import datetime

    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def rows_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def canon_spark_type(simple: str) -> str:
    """Spark simpleString -> canonical dtype label shared with canon_arrow_type."""
    s = simple.lower()
    if s in ("bigint", "long"):
        return "i64"
    if s in ("int", "integer"):
        return "i32"
    if s in ("smallint", "short"):
        return "i16"
    if s in ("tinyint", "byte"):
        return "i8"
    if s == "double":
        return "f64"
    if s == "float":
        return "f32"
    if s == "boolean":
        return "bool"
    if s == "string":
        return "str"
    if s.startswith("decimal"):
        return s.replace(" ", "")
    if s.startswith("timestamp"):
        return "timestamp"
    if s == "date":
        return "date"
    if s.startswith("array<"):
        return "list<" + canon_spark_type(s[6:-1]) + ">"
    return s


def canon_arrow_type(t) -> str:
    """pyarrow DataType -> canonical dtype label shared with canon_spark_type."""
    import pyarrow as pa

    if pa.types.is_int64(t):
        return "i64"
    if pa.types.is_int32(t):
        return "i32"
    if pa.types.is_int16(t):
        return "i16"
    if pa.types.is_int8(t):
        return "i8"
    if pa.types.is_float64(t):
        return "f64"
    if pa.types.is_float32(t):
        return "f32"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list<" + canon_arrow_type(t.value_type) + ">"
    # HUGEINT and other exotica deliberately fall through with their own
    # name so they mismatch every Spark type (the driver's hash is
    # dtype-aware; an uncast DuckDB HUGEINT sum() must FAIL here too).
    return str(t)


def dtype_problems(sdf, arrow_tbl) -> list[str]:
    spark_types = {f.name: canon_spark_type(f.dataType.simpleString()) for f in sdf.schema.fields}
    oracle_types = {
        name: canon_arrow_type(arrow_tbl.schema.field(name).type)
        for name in arrow_tbl.schema.names
    }
    out = []
    for name in sorted(set(spark_types) & set(oracle_types)):
        if spark_types[name] != oracle_types[name]:
            out.append(f"dtype[{name}] spark={spark_types[name]} oracle={oracle_types[name]}")
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from bench import driver_memory
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count()}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error [spark {time.monotonic() - t0:.2f} s]: {exc}")
            continue
        wall = f"[spark {time.monotonic() - t0:.2f} s]"
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, no oracle) {wall}")
            if len(srows) == 0:
                failures.append(name)
                print(f"FAIL {name}: zero rows {wall}")
            continue
        try:
            ores = con.sql(oracles[name])
            ocols = [c for c in ores.columns]
            otbl = ores.fetch_arrow_table()
            orows = [tuple(r.values()) for r in otbl.to_pylist()]
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: oracle error {wall}: {exc}")
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        problems.extend(dtype_problems(sdf, otbl))
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            sk = rows_key([tuple(r) for r in srows], scols)
            ok = rows_key(orows, ocols)
            if sk != ok:
                diff = [
                    (a, b) for a, b in zip(sk, ok) if a != b
                ][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            failures.append(name)
            print(f"FAIL {name} {wall}: " + "; ".join(problems))
        else:
            print(f"ok   {name}: {len(srows)} rows match {wall}")
    spark.stop()
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
