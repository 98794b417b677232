"""The correctness gate: every query against its DuckDB oracle.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same fixture dir, then compares row count, sorted column
names, and values (rows sorted, order-insensitive). Usage:

    python tools/check_oracle.py [--tz=ZONE] [sf_dir] [query ...]

The gate is all queries at sf0.001, sf0.01 and sf0.1, plus sf0.01 under
``--tz=America/New_York``. Sweep at MULTIPLE scale factors:
boundary-precision bugs hide below data density (a seconds-truncated
RANGE frame key diverged from its full-precision oracle only at
sf0.1), and ``--tz`` smokes out queries missing ``use_utc``. Exit code 1
on any failure — don't pipe through filters that mask it.
"""

from __future__ import annotations

import math
import sys

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
import bench  # noqa: E402
from iotstream.schemas import FIXTURE_TABLES, table_path  # noqa: E402


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def frame_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        tuple(norm_cell(r[i]) for i in order) for r in rows
    )
    return [cols[i] for i in order], out


def main() -> int:
    # --tz=ZONE runs the Spark session under a hostile timezone (the
    # driver's is unknown); queries must self-normalize via use_utc.
    args = sys.argv[1:]
    tz = "UTC"
    for a in list(args):
        if a.startswith("--tz="):
            tz = a.split("=", 1)[1]
            args.remove(a)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    spark = bench._session(app="oracle-check")
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        # Re-pin the requested TZ before EVERY query: use_utc from an
        # earlier query would otherwise mask a missing use_utc here.
        spark.conf.set("spark.sql.session.timeZone", tz)
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            continue
        try:
            ores = con.sql(oracles[name])
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            continue
        sc, sk = frame_key(scols, srows)
        oc, ok = frame_key(ocols, orows)
        if len(srows) != len(orows):
            failures.append(name)
            print(f"FAIL  {name}: rows {len(srows)} vs {len(orows)}")
        elif sc != oc:
            failures.append(name)
            print(f"FAIL  {name}: cols {sc} vs {oc}")
        elif sk != ok:
            failures.append(name)
            bad = next(i for i, (a, b) in enumerate(zip(sk, ok)) if a != b)
            print(f"FAIL  {name}: values differ, first at sorted-row {bad}:")
            print(f"      spark : {sk[bad]}")
            print(f"      duckdb: {ok[bad]}")
        else:
            print(f"OK    {name}: {len(srows)} rows")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
