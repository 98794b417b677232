"""VERDICT r7 item 5 — exercise the NULL-parity code paths for real.

The fixture ``events`` table carries zero NULL ``event_type``/``value``
rows, so the ``<=>``-join parity in the graded ``quantile_sketch`` /
``hll_distinct`` sheets (r7 fix) and their count-non-null denominators
were latent: the code was right but nothing could prove it. This test
builds a NULL-bearing copy of the events fixture (appending rows with
NULL event_type, NULL value, and both), runs the DECLARED queries()
entries against it, runs their declared oracle_sql() in DuckDB on the
same parquet, and asserts row-level equality — the same comparison
shape the driver's correctness gate uses.
"""

from __future__ import annotations

import math
import os

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import SF_DIR


def _null_bearing_events_dir(tmp_path) -> str:
    """Copy the fixture events.parquet and append NULL-bearing rows,
    preserving its TIMESTAMP(MICROS) schema byte-for-byte: Spark reads
    the copy under the declared fixture schema (``FIXTURE_SCHEMAS``,
    which a file whose column types differ would fail at read time with
    ``PARQUET_COLUMN_DATA_TYPE_MISMATCH``, never re-inferred) and DuckDB
    reads it as stored, so both see identical values."""
    src = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    k = 9
    head = src.slice(0, k).to_pydict()
    max_id = pa.compute.max(src.column("event_id")).as_py()
    rows = {c: list(head[c]) for c in src.column_names}
    for i in range(k):
        rows["event_id"][i] = max_id + 1 + i
        if i % 3 == 0:
            rows["event_type"][i] = None  # NULL group key
        if i % 3 == 1:
            rows["value"][i] = None  # NULL measure
        if i % 3 == 2:
            rows["event_type"][i] = None
            rows["value"][i] = None
    extra = pa.Table.from_pydict(rows, schema=src.schema)
    out = pa.concat_tables([src, extra])
    d = tmp_path / "nullsf"
    d.mkdir()
    pq.write_table(out, str(d / "events.parquet"))
    return str(d)


def _duckdb_rows(sf_dir: str, sql: str):
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    return con.sql(sql).fetchall(), [d[0] for d in con.sql(sql).description]


def _assert_frames_equal(spark_df, oracle_rows, oracle_cols):
    cols = sorted(spark_df.columns)
    assert sorted(oracle_cols) == cols
    got = [
        tuple(r[c] for c in cols)
        for r in spark_df.collect()
    ]
    idx = [oracle_cols.index(c) for c in cols]
    want = [tuple(r[i] for i in idx) for r in oracle_rows]

    def _key(t):
        return tuple((v is None, str(v)) for v in t)

    got.sort(key=_key)
    want.sort(key=_key)
    assert len(got) == len(want), (len(got), len(want))
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if isinstance(gv, float) and isinstance(wv, float):
                assert math.isclose(gv, wv, rel_tol=1e-9, abs_tol=1e-9), (g, w)
            else:
                assert gv == wv, (g, w)


def test_sketch_sheets_match_oracle_with_null_rows(spark, tmp_path):
    import __spark_entry__ as entry

    sf_dir = _null_bearing_events_dir(tmp_path)
    qs, oracles = entry.queries(), entry.oracle_sql()
    for name in ("quantile_sketch", "hll_distinct"):
        spark_df = qs[name](spark, sf_dir)
        rows, cols = _duckdb_rows(sf_dir, oracles[name])
        _assert_frames_equal(spark_df, rows, cols)


def test_rank_denominators_match_oracle_with_null_values(spark, tmp_path):
    """user_value_deciles / rfm_segments rank on aggregates of
    ``value`` — NULL measures must flow through the decimal sums and
    tile math exactly as DuckDB's (SUM ignores NULLs; a user with only
    NULL purchases still aggregates with SUM() = NULL)."""
    import __spark_entry__ as entry

    sf_dir = _null_bearing_events_dir(tmp_path)
    qs, oracles = entry.queries(), entry.oracle_sql()
    for name in ("user_value_deciles", "rfm_segments"):
        spark_df = qs[name](spark, sf_dir)
        rows, cols = _duckdb_rows(sf_dir, oracles[name])
        _assert_frames_equal(spark_df, rows, cols)
