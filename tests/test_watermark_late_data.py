"""T3 — a FINITE watermark must drop data later than the bound once
state for its window is evicted (the production late-data policy; the
correctness queries use an unbounded watermark instead, see
iotstream.streaming.UNBOUNDED_WATERMARK)."""

import datetime as dt
import time

from pyspark.sql import functions as F

from iotstream.operators.windows import window_agg
from iotstream.streaming import drain

SCHEMA = "id string, ts timestamp, value double"


def _rows(spark, rows):
    return spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), float(v))
         for i, s, v in rows],
        SCHEMA,
    )


def test_late_row_beyond_watermark_is_dropped(spark, tmp_path):
    """A late row is dropped only once it arrives AFTER the batch whose
    watermark evicted its window's state — a row landing in the same
    batch that finalizes the window still merges (Spark's documented
    one-batch-lag watermark semantics; verified empirically)."""
    src = str(tmp_path / "src")
    # Batch 0: window [12:00,12:01) gets value 50; a row an hour later
    # advances the watermark (effective NEXT batch) far past that window.
    _rows(spark, [("x", 43200, 50.0), ("x", 46800, 1.0)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    time.sleep(1.1)  # file mtime orders the micro-batches
    # Batch 1: runs with watermark 12:50 → evicts the 12:00 window state.
    _rows(spark, [("x", 47000, 2.0)]).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    # Batch 2: a 99 into the evicted window — truly late, must drop.
    _rows(spark, [("x", 43230, 99.0)]).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
    )
    agg = window_agg(
        stream, "ts", ["id"], F.col("value"), "1 minute", aggs=("max",), prefix="value"
    )
    final = drain(spark, agg, "update", ["window_start", "id"])
    out = {
        (r.window_start.isoformat(), r.id): r.max_value
        for r in final.collect()
    }
    # the late 99 must NOT have re-opened or raised the 12:00 window
    assert out[("2024-01-01T12:00:00", "x")] == 50.0
    assert len(out) == 3  # 12:00, 13:00, 13:03 windows — no 99 anywhere


def test_same_data_with_unbounded_watermark_keeps_late_row(spark, tmp_path):
    """Control: identical input, unbounded watermark → the late row IS
    aggregated (this is how the correctness gate runs)."""
    src = str(tmp_path / "src")
    _rows(spark, [("x", 43200, 50.0), ("x", 46800, 1.0)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    time.sleep(1.1)
    _rows(spark, [("x", 43230, 99.0)]).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "3650 days")
    )
    agg = window_agg(
        stream, "ts", ["id"], F.col("value"), "1 minute", aggs=("max",), prefix="value"
    )
    final = drain(spark, agg, "update", ["window_start", "id"])
    out = {
        (r.window_start.isoformat(), r.id): r.max_value
        for r in final.collect()
    }
    assert out[("2024-01-01T12:00:00", "x")] == 99.0


# --- r14: epoch-boundary semantics pins (raw Spark, no engine filter) --
# The strict/inclusive contract split (schemas.positive_event_time for
# stream-stream joins + dropDuplicatesWithinWatermark,
# schemas.nonnegative_event_time for windowed/session aggs) encodes
# MEASURED Spark behavior: row-level stateful ops drop input at
# ts <= the initial epoch-0 watermark, while window/session eviction
# keys on WINDOW END. These tests pin the raw behavior so a Spark
# upgrade that shifts either boundary fails here loudly, pointing at
# the contracts and their oracles, instead of surfacing as a silent
# one-row oracle mismatch.


def _epoch_rows(spark):
    e = dt.datetime(1970, 1, 1)
    rows = [
        ("pre", e - dt.timedelta(minutes=20), 1.0),
        ("pre", e - dt.timedelta(minutes=5), 2.0),
        ("exact", e, 3.0),
        ("exact", e + dt.timedelta(minutes=10), 4.0),
        ("plus", e + dt.timedelta(seconds=1), 5.0),
        ("plus", e + dt.timedelta(minutes=10, seconds=1), 6.0),
        ("ctrl", dt.datetime(2024, 1, 1, 10, 0, 0), 7.0),
        ("ctrl", dt.datetime(2024, 1, 1, 10, 10, 0), 8.0),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_stream_stream_join_drops_rows_at_or_before_epoch(spark, tmp_path):
    """RAW stream-stream interval join (no engine filter): the late-
    input filter tests ts <= the initial epoch-0 watermark, so the
    pre-epoch AND epoch-exact pairs vanish while epoch+1s survives —
    the measured basis of the strict positive_event_time contract."""
    src = str(tmp_path / "src")
    _epoch_rows(spark).coalesce(1).write.mode("overwrite").parquet(src)

    def mk():
        return spark.readStream.schema(SCHEMA).parquet(src).withWatermark(
            "ts", "3650 days"
        )

    left = mk().select(F.col("id").alias("lid"), F.col("ts").alias("l_ts"),
                       F.col("value").alias("lv"))
    right = mk().select(F.col("id").alias("rid"), F.col("ts").alias("r_ts"),
                        F.col("value").alias("rv"))
    cond = (
        (left.lid == right.rid)
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    pairs = drain(spark, left.join(right, cond, "inner"), "append")
    got = sorted(r.lid for r in pairs.collect())
    assert got == ["ctrl", "plus"]  # 'pre' and 'exact' dropped by Spark


def test_dedup_within_watermark_drops_rows_at_or_before_epoch(spark, tmp_path):
    """RAW dropDuplicatesWithinWatermark: same strict boundary as the
    join — epoch-exact input is dropped, epoch+1s kept."""
    src = str(tmp_path / "src")
    _epoch_rows(spark).coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(SCHEMA).parquet(src)
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["id", "ts"])
    )
    kept = sorted((r.id, r.ts) for r in drain(spark, stream, "append").collect())
    ids = [i for i, _ in kept]
    assert "pre" not in ids
    assert (
        "exact",
        dt.datetime(1970, 1, 1),
    ) not in kept  # epoch-exact dropped (strict)
    assert ("plus", dt.datetime(1970, 1, 1, 0, 0, 1)) in kept
    assert ids.count("ctrl") == 2


def test_session_window_keeps_epoch_exact_event(spark, tmp_path):
    """Session windows evict on WINDOW END, not row ts: an epoch-exact
    event's session ends at epoch+gap > 0 and SURVIVES — the measured
    basis for the >= (nonnegative_event_time) contract on session/
    window aggs, and the distinguisher from the strict row-level ops.
    The _epoch_rows 'pre' pair (-20/-5 min, 30-min gap) merges into ONE
    session ENDING at +25 min — it crosses epoch and survives (the r13
    'filter luck' shape); only a session ending AT or BEFORE epoch is
    evicted, so the dropped case here is an isolated -40 min event
    whose session ends at -10 min."""
    e = dt.datetime(1970, 1, 1)
    src = str(tmp_path / "src")
    extra = spark.createDataFrame(
        [("gone", e - dt.timedelta(minutes=40), 9.0)], SCHEMA
    )
    _epoch_rows(spark).union(extra).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    stream = (
        spark.readStream.schema(SCHEMA).parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("s"), "id", "n")
    )
    got = {(r.id, r.s) for r in drain(spark, stream, "append").collect()}
    # epoch-exact event's session survives (end = epoch+gap > 0)
    assert ("exact", dt.datetime(1970, 1, 1)) in got
    # the epoch-CROSSING pre-epoch session survives too (end +25 min)
    assert ("pre", e - dt.timedelta(minutes=20)) in got
    # a session ENDING pre-epoch is evicted
    assert all(i != "gone" for i, _ in got)
