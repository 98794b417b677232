"""The correctness gate: every query against its DuckDB oracle.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same fixture dir. Each Spark frame runs once
(``localCheckpoint()``; ``collect()`` and ``toPandas()`` both read the
checkpoint), and that one result gets two verdicts:

- values: row count, sorted column names, and values (rows sorted,
  order-insensitive, cells through ``norm_cell``);
- dtypes: the pandas dtype kind (int/float/bool/object/datetime) of
  every column. The value verdict formats floats with ``%.9g``, which
  collapses ``49.0`` and ``49``, so it cannot see the int64-vs-float64
  mismatches that fail the driver's value-hash gate: DuckDB returns
  HUGEINT for SUMs over integers, which lands as float64 in pandas
  while Spark emits int64. Fix one by wrapping the oracle aggregate in
  ``CAST(... AS BIGINT)``.

Usage:

    python tools/check_oracle.py [--tz=ZONE] [sf_dir] [query ...]

The gate is all queries at sf0.001, sf0.01 and sf0.1, plus sf0.01 under
``--tz=America/New_York``. Sweep at MULTIPLE scale factors:
boundary-precision bugs hide below data density (a seconds-truncated
RANGE frame key diverged from its full-precision oracle only at
sf0.1). ``--tz`` runs every query under a non-UTC session: the fixture
loaders pin UTC themselves, so it guards the builders that read no
fixture table and must call ``use_utc`` on their own. Exit code 1
on any failure — don't pipe through filters that mask it.

``gate(spark, sf_dir, tz, only)`` is the same gate in-process, for
``degenerate_sweep.py``, which runs it on clean sf0.001 and on the
hostile fixture (NULL, unicode and hostile-value rows) in one session.
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


def key_digest(key) -> str:
    """sha256 of a ``frame_key``: equal digests mean equal keys, and
    holding a digest does not hold the rows."""
    import hashlib

    return hashlib.sha256(repr(key).encode()).hexdigest()


def value_failures(name, skey, okey) -> list[str]:
    """The value verdict's FAIL lines for two ``frame_key``s (Spark,
    DuckDB); empty when they agree."""
    (sc, sk), (oc, ok) = skey, okey
    if len(sk) != len(ok):
        return [f"FAIL  {name}: rows {len(sk)} vs {len(ok)}"]
    if sc != oc:
        return [f"FAIL  {name}: cols {sc} vs {oc}"]
    if sk != ok:
        bad = next(i for i, (a, b) in enumerate(zip(sk, ok)) if a != b)
        return [
            f"FAIL  {name}: values differ, first at sorted-row {bad}:",
            f"      spark : {sk[bad]}",
            f"      duckdb: {ok[bad]}",
        ]
    return []


def _kind(dt) -> str:
    return {"u": "i"}.get(dt.kind, dt.kind)


def dtype_mismatches(spdf, odf) -> list[tuple[str, str, str]]:
    """``(column, spark kind, duckdb kind)`` for every column of the
    Spark pandas frame whose dtype kind differs from the DuckDB one's.

    NULL-free columns compare raw kinds: ``convert_dtypes()`` would
    collapse an integral-valued float64 HUGEINT artifact into Int64 and
    hide the very mismatch this verdict exists for. A column with a
    NULL on either side compares ``convert_dtypes()`` kinds instead:
    ``toPandas()`` widens a nullable int64 with NULLs to float64 (a
    pandas artifact the driver's value hash does not see), and an
    integral-valued float64-with-NaN collapses back to Int64 on both
    sides while a non-integral float against an int still differs."""
    import warnings

    bad = []
    for c in spdf.columns:
        if c not in odf.columns:
            continue
        s, o = spdf[c], odf[c]
        if s.isna().any() or o.isna().any():
            # convert_dtypes' integral test casts ±Inf to int, which
            # warns; the column stays float, so the warning is noise
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                s, o = s.convert_dtypes(), o.convert_dtypes()
        if _kind(s.dtype) != _kind(o.dtype):
            bad.append((c, _kind(s.dtype), _kind(o.dtype)))
    return bad


def gate(spark, sf_dir, tz="UTC", only=()) -> dict[str, dict]:
    """Run the gate over ``sf_dir`` in ``spark`` and print each query's
    ``OK`` line or ``FAIL`` lines. Returns ``{query: result}`` in
    ``queries()`` order, each result ``{"ok": both verdicts pass,
    "lines": the printed lines, "digest": ``key_digest`` of the Spark
    frame's frame_key (None when building or running it raised), "df":
    the frame exactly as the builder returned it (None when the builder
    raised)}``."""
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
    oracles = entrymod.oracle_sql()
    results: dict[str, dict] = {}
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        # Re-pin the requested TZ before EVERY query: the UTC pin of an
        # earlier query would otherwise mask a missing one here.
        spark.conf.set("spark.sql.session.timeZone", tz)
        res = results[name] = {"digest": None, "df": None}
        try:
            sdf = res["df"] = fn(spark, sf_dir)
            done = sdf.localCheckpoint()
            skey = frame_key(sdf.columns, done.collect())
            res["digest"] = key_digest(skey)
            spdf = done.toPandas()
        except Exception as e:  # noqa: BLE001
            lines = [f"FAIL  {name}: spark error: {type(e).__name__}: {e}"]
        else:
            try:
                ores = con.sql(oracles[name])
                okey = frame_key([d[0] for d in ores.description],
                                 ores.fetchall())
                odf = con.sql(oracles[name]).df()
            except Exception as e:  # noqa: BLE001
                lines = [f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}"]
            else:
                lines = value_failures(name, skey, okey) + [
                    f"FAIL  {name}.{c}: spark kind '{sk}' vs duckdb '{ok}'"
                    for c, sk, ok in dtype_mismatches(spdf, odf)
                ] or [f"OK    {name}: {len(skey[1])} rows"]
        res["ok"] = lines[0].startswith("OK")
        res["lines"] = lines
        print("\n".join(lines), flush=True)
    return results


def main() -> int:
    # --tz=ZONE runs the Spark session under a hostile timezone (the
    # driver's is unknown); queries must self-normalize via use_utc,
    # which the fixture loaders call.
    args = sys.argv[1:]
    tz = "UTC"
    for a in list(args):
        if a.startswith("--tz="):
            tz = a.split("=", 1)[1]
            args.remove(a)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    results = gate(bench._session(app="oracle-check"), sf_dir, tz, set(args[1:]))
    failures = [n for n, r in results.items() if not r["ok"]]
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
