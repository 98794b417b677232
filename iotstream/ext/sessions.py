"""Sessionization — gap-based session windows over the events stream.

Two equivalent implementations:
- ``sessionize_batch``: lag + running-sum session ids (plain window
  functions; ANSI-SQL-expressible, so oracle-checkable);
- ``session_window_stream``: Spark's native ``session_window`` for
  streaming (state-store backed, watermark-bounded) — the form that
  runs incrementally at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

GAP_SECONDS = 1800  # 30 minutes


def sessionize_batch(events: DataFrame, gap_seconds: int = GAP_SECONDS) -> DataFrame:
    """Per-user sessions: a new session starts when the gap from the
    previous event exceeds ``gap_seconds``. Integer epoch arithmetic
    keeps the computation bit-identical to the SQL oracle. Rows with
    NULL event time are excluded (schemas.event_time_only contract —
    they cannot be placed on a session timeline, and the engines'
    null-ordering defaults diverge)."""
    from iotstream.schemas import event_time_only

    events = event_time_only(events)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp("ts")
    new_sess = F.when(
        F.lag(epoch).over(w).isNull()
        | ((epoch - F.lag(epoch).over(w)) > gap_seconds),
        F.lit(1),
    ).otherwise(F.lit(0))
    with_ids = events.select("user_id", "event_id", "ts").withColumn(
        "session_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return with_ids.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def session_window_stream(
    sensor_stream: DataFrame,
    key: str = "id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming-native sessions via session_window: state merges
    adjacent windows within the gap; the watermark finalizes sessions
    once no in-gap event can still arrive. NULL event times are dropped
    by session_window itself; the explicit filter keeps the contract
    visible and the batch twin byte-identical.

    Boundary semantics (vs the batch lag/cumsum twin): windows merge on
    inclusive overlap (an event at exactly last_ts + gap still extends
    the session), so a new session starts only when the full-precision
    microsecond gap is STRICTLY greater than the threshold;
    session_end = last event + gap. Sessions MERGE as events arrive, so
    a keyed upsert would strand partial sessions that later merged
    away: drain in complete mode (the last micro-batch is the whole
    table), or in append mode under a finite watermark, where sessions
    finalize incrementally and merging is confined to open state.

    This is a WATERMARKED operator, so the non-negative event-time
    contract applies (schemas.nonnegative_event_time): Spark's
    watermark initializes at epoch 0 and evicts any session whose END
    does not cross it — a pre-epoch event whose session ends at or
    before 1970-01-01 silently vanishes while one ending a second
    later survives. The explicit ts >= epoch filter, mirrored in the
    oracle, turns that boundary into the declared rule."""
    from iotstream.schemas import nonnegative_event_time

    return (
        nonnegative_event_time(sensor_stream.filter(F.col("ts").isNotNull()))
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), key)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key,
            "n_events",
        )
    )
