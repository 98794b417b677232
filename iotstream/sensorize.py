"""Deterministic events→SensorEvent derivation shared with the oracle.

The driver fixtures provide a generic ``events`` table (event_id, ts,
user_id, event_type, value, props). The reference pipeline operates on
sensor events with the 1/9/90 quality mix injected by its generator
(reference iot-sensor/mqttgen.py:36-45):

    loop % 100 == 0 -> "empty" reading, Gson materializes {} as (0, 0)
    loop % 10  == 0 -> bad: temperature in [50,80], humidity in [100,130]
    else            -> valid: temperature in [10,50], humidity in [50,80]

We reproduce that mix *deterministically* from ``event_id`` with modular
arithmetic (no RNG), so the exact same SQL expressions run in Spark and
in the DuckDB oracle and agree bit-for-bit. ``(event_id*7) % 41`` spans
0..40 → temperature 10..50; ``(event_id*13) % 31`` spans 0..30.

messageId = id + loop counter mirrors mqttgen.py:32 (C2 string concat);
timestamp = epoch seconds as string mirrors mqttgen.py:33 +
SensorEvent.java:8 (C3/C5 capture + number→string coercion).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from iotstream.generator import quality_mix_sql

TEMP_SQL, HUM_SQL = quality_mix_sql("event_id")
ID_SQL = "'sensor-' || CAST(user_id AS STRING)"
MSGID_SQL = "'sensor-' || CAST(user_id AS STRING) || '-' || CAST(event_id AS STRING)"


def sensorize(events: DataFrame) -> DataFrame:
    """events fixture → SensorEvent-shaped frame (+ event-time ``ts``).

    Output columns: id, messageId, timestamp (epoch-seconds string),
    metrics struct<temperature bigint, humidity bigint>, ts timestamp.
    All expressions are native Columns — whole-stage codegen, no UDFs.
    """
    return events.select(
        F.expr(ID_SQL).alias("id"),
        F.expr(MSGID_SQL).alias("messageId"),
        F.unix_timestamp("ts").cast("string").alias("timestamp"),
        F.struct(
            F.expr(TEMP_SQL).alias("temperature"),
            F.expr(HUM_SQL).alias("humidity"),
        ).alias("metrics"),
        F.col("ts"),
    )


def sensor_cte() -> str:
    """DuckDB CTE producing the identical (flattened) sensor frame.

    Oracle SQL references this as ``WITH sensor AS (...)``; quoted
    aliases keep the camelCase column names byte-identical to Spark's.
    """
    return (
        "SELECT "
        f"{ID_SQL} AS id, "
        f'{MSGID_SQL} AS "messageId", '
        # floor, not CAST: DuckDB CAST(double AS BIGINT) rounds, while
        # Spark's unix_timestamp() truncates sub-second fractions.
        'CAST(CAST(floor(epoch(ts)) AS BIGINT) AS STRING) AS "timestamp", '
        f"{TEMP_SQL} AS temperature, "
        f"{HUM_SQL} AS humidity, "
        "ts "
        "FROM events"
    )


def temperature() -> Column:
    return F.col("metrics.temperature")


def humidity() -> Column:
    return F.col("metrics.humidity")
