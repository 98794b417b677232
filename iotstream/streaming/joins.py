"""Streaming joins — stream×static enrichment and stream×stream
interval joins (Structured Streaming state-store joins).

The reference has no joins at all (SURVEY.md §2.4); these are the EXT
capabilities a production stream actually needs: enrich events against
a dimension table without restarting the query, and correlate two
event streams within a time bound.

Scale notes (100 TB / 1000 executors):
- The static side of an enrichment join is broadcast — each micro-batch
  joins map-side with zero shuffle; refresh the dim by restarting from
  checkpoint (or use a rocksdb-state stream-stream join if the dim
  itself streams).
- A stream-stream inner join keeps both sides' rows in the state store
  until the watermark passes the join-condition time bound; the
  watermark delay is therefore the state-size knob — finite in
  production, effectively unbounded in correctness runs (matches are
  emitted eagerly for inner joins, so the drained result is complete
  either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iotstream.streaming import UNBOUNDED_WATERMARK, drain


def enrich_against_dim_final(
    spark: SparkSession,
    stream: DataFrame,
    dim: DataFrame,
    key: str,
    segment_col: str,
) -> DataFrame:
    """Stream×static broadcast join → running per-segment totals,
    drained in update mode keyed on ``segment_col``; returns the final
    state. The dim is explicitly broadcast: the join never shuffles the
    stream."""
    from iotstream.schemas import finite_measures

    # finite-measures contract: value feeds the exact-decimal total
    # (schemas.finite_measures) — the filter rides the stream scan
    joined = finite_measures(stream, "value").join(F.broadcast(dim), key)
    agg = joined.groupBy(segment_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,4)"))
        .cast("double")
        .alias("total_value"),
    )
    return drain(spark, agg, "update", [segment_col])


def interval_join_pairs(
    spark: SparkSession,
    left_stream: DataFrame,
    right_stream: DataFrame,
    key: str,
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    max_gap: str = "INTERVAL 30 MINUTES",
    watermark: str = UNBOUNDED_WATERMARK,
) -> DataFrame:
    """Stream-stream inner interval join: right rows in
    ``(left_ts, left_ts + max_gap]`` per key. Both sides watermarked —
    the time-range predicate lets Spark evict state once the watermark
    passes ``left_ts + max_gap``. Returns every pair, drained in
    append mode: inner-join matches are emitted eagerly, so the finite
    run is complete. An availableNow drain always runs two
    micro-batches: the second emits nothing and commits the advanced
    watermark.

    WATERMARKED operator → STRICTLY-positive event-time contract on
    BOTH sides (schemas.positive_event_time): Spark initializes every
    watermark at epoch 0 and the join's late-input filter tests
    ``ts <= watermark``, so a row at or before epoch on either side is
    "late" to the very first micro-batch and silently dropped
    regardless of the configured delay — an error at EXACTLY
    1970-01-01T00:00:00 loses its pair while one at 00:00:01 keeps it
    (strict, unlike the >= contract of windowed aggs whose eviction
    keys on window END). The explicit filter, mirrored in the oracle,
    turns the silent drop into the declared rule."""
    from iotstream.schemas import positive_event_time

    lw = positive_event_time(left_stream, left_ts).withWatermark(
        left_ts, watermark
    )
    rw = positive_event_time(right_stream, right_ts).withWatermark(
        right_ts, watermark
    )
    cond = (
        (lw[key] == rw[key])
        & (F.col(right_ts) > F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(max_gap))
    )
    return drain(spark, lw.join(rw, cond, "inner").drop(rw[key]), "append")
