"""Strict dtype gate: Spark vs DuckDB pandas dtype KINDS per column.

``check_oracle.py`` compares formatted values (``%.9g``), which
collapses ``49.0`` and ``49`` — so it cannot catch the int64-vs-float64
mismatches that fail the driver's value-hash gate (DuckDB returns
HUGEINT for SUMs over integers, which lands as float64 in pandas while
Spark emits int64; r3's ``priority_line_counts`` and the pre-r4
``props_extract`` oracle both failed exactly this way). This tool
compares the pandas dtype kind (int/float/bool/object/datetime) of
every column of every oracle-backed query; fix mismatches by wrapping
the oracle aggregate in ``CAST(... AS BIGINT)``.

Usage: python tools/check_dtypes.py [--tz=ZONE] [sf_dir] [query ...]
Exit code 1 on any mismatch.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
import bench  # noqa: E402
from iotstream.schemas import FIXTURE_TABLES, table_path  # noqa: E402


def kind(dt) -> str:
    return {"u": "i"}.get(dt.kind, dt.kind)


def main() -> int:
    args = sys.argv[1:]
    tz = "UTC"
    for a in list(args):
        if a.startswith("--tz="):
            tz = a.split("=", 1)[1]
            args.remove(a)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    spark = bench._session(app="dtype-check")
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")

    oracles = entrymod.oracle_sql()
    issues = []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        # Re-pin per query: a query calling use_utc leaves the session
        # in UTC, which would mask missing use_utc in later queries
        # when run under --tz (same fix as check_oracle.py).
        spark.conf.set("spark.sql.session.timeZone", tz)
        try:
            sdf = fn(spark, sf_dir).toPandas()
            odf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            issues.append(name)
            print(f"FAIL  {name}: {type(e).__name__}: {e}")
            continue
        # NULL-bearing columns can't be compared on raw dtypes:
        # toPandas() widens a nullable int64 with NULLs to float64, a
        # pandas artifact the driver's value-hash gate does not see.
        # Instead of SKIPPING them (which silently shrank coverage),
        # compare their nullable-aware dtypes via convert_dtypes() —
        # integral-valued float64-with-NaN collapses back to Int64 on
        # BOTH sides, while a genuine float-vs-int mismatch with
        # non-integral values still differs. NULL-free columns keep the
        # strict raw-kind compare (convert_dtypes would collapse an
        # integral-valued float64 HUGEINT artifact into Int64 and mask
        # exactly the mismatch this tool exists to catch).
        bad = []
        for c in sdf.columns:
            if c not in odf.columns:
                continue
            if sdf[c].isna().any() or odf[c].isna().any():
                sk = kind(sdf[c].convert_dtypes().dtype)
                ok_ = kind(odf[c].convert_dtypes().dtype)
            else:
                sk, ok_ = kind(sdf[c].dtype), kind(odf[c].dtype)
            if sk != ok_:
                bad.append((c, sk, ok_))
        if bad:
            issues.append(name)
            for c, sk, ok_ in bad:
                print(f"FAIL  {name}.{c}: spark kind '{sk}' vs duckdb '{ok_}'")
        else:
            print(f"OK    {name}")
    print(f"\n{len(issues)} failures: {issues}" if issues else "\nALL OK")
    return 1 if issues else 0


if __name__ == "__main__":
    raise SystemExit(main())
