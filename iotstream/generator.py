"""S4 — synthetic sensor generator (reference iot-sensor/mqttgen.py).

The reference generator is a multi-threaded MQTT publisher that stamps
``messageId = id + str(loop)`` (mqttgen.py:32), epoch-seconds timestamps
(mqttgen.py:33) and injects a quality mix keyed on the loop counter
(mqttgen.py:36-45): every 100th message an empty ``{}`` reading, else
every 10th an out-of-range reading (temp 50-80, hum 100-130), else a
valid one (temp 10-50, hum 50-80).

Here the mix is *deterministic* (modular arithmetic on the loop
counter, no RNG) so tests can assert the exact 1/9/90 split, and the
whole generator is native Column expressions — it runs distributed as
``spark.range`` (batch) or the ``rate`` source (streaming) at any scale
with zero Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: The 1/9/90 quality mix (mqttgen.py:38-45 branch structure; ranges
#: inclusive like randint) as ANSI SQL, valid verbatim in Spark SQL and
#: DuckDB: every 100th key an empty (0, 0) reading, else every 10th an
#: out-of-range one, else a valid one.
_MIX = (
    "CASE WHEN {key} % 100 = 0 THEN CAST(0 AS BIGINT) "
    "WHEN {key} % 10 = 0 THEN {bad} + ({key} * {mul}) % 31 "
    "ELSE {ok} + ({key} * {mul}) % {span} END"
)


def quality_mix_sql(key: str) -> tuple[str, str]:
    """(temperature, humidity) CASE expressions of the mix, keyed on the
    integer column ``key``: temperature 10..50 valid and 50..80 bad,
    humidity 50..80 valid and 100..130 bad."""
    return (
        _MIX.format(key=key, bad=50, mul=7, ok=10, span=41),
        _MIX.format(key=key, bad=100, mul=13, ok=50, span=31),
    )


_TEMP, _HUM = quality_mix_sql("loop")


def _sensor_columns(loop: Column, n_sensors: int, ts: Column) -> list[Column]:
    sensor_id = F.concat(
        F.lit("sensor"), (loop % n_sensors).cast("string"), F.lit("rcc-1")
    )
    return [
        sensor_id.alias("id"),
        F.concat(sensor_id, loop.cast("string")).alias("messageId"),
        F.unix_timestamp(ts).cast("string").alias("timestamp"),
        F.struct(
            F.expr(_TEMP).alias("temperature"), F.expr(_HUM).alias("humidity")
        ).alias("metrics"),
        ts.alias("ts"),
    ]


# C4 parity: the reference draws metrics with random.randint(lo, hi)
# (mqttgen.py:41-45). randomized=True reproduces that with rand()
# expressions; the default stays deterministic so tests can assert the
# exact 1/9/90 split.
_TEMP_RAND = (
    "CASE WHEN loop % 100 = 0 THEN CAST(0 AS BIGINT) "
    "WHEN loop % 10 = 0 THEN CAST(floor(rand() * 31 + 50) AS BIGINT) "
    "ELSE CAST(floor(rand() * 41 + 10) AS BIGINT) END"
)
_HUM_RAND = (
    "CASE WHEN loop % 100 = 0 THEN CAST(0 AS BIGINT) "
    "WHEN loop % 10 = 0 THEN CAST(floor(rand() * 31 + 100) AS BIGINT) "
    "ELSE CAST(floor(rand() * 31 + 50) AS BIGINT) END"
)


def synthetic_sensor_events(
    spark: SparkSession,
    n: int,
    n_sensors: int = 10,
    start: str = "2024-01-01 00:00:00",
    seconds_between: int = 2,
    randomized: bool = False,
) -> DataFrame:
    """Batch fixture: n sensor events, loop counter starting at 1
    (mqttgen.py starts its loop at 1 — the %100/%10 branches never fire
    on the first message). Event times are ``start + loop*interval``,
    mirroring the paced publisher loop (mqttgen.py:53)."""
    base = spark.range(1, n + 1).withColumnRenamed("id", "loop")
    ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit(start)) + F.col("loop") * seconds_between
    )
    cols = _sensor_columns(F.col("loop"), n_sensors, ts)
    if randomized:
        cols[3] = F.struct(
            F.expr(_TEMP_RAND).alias("temperature"),
            F.expr(_HUM_RAND).alias("humidity"),
        ).alias("metrics")
    return base.select(F.col("loop"), *cols)


def sensor_payload_json(loop: Column, n_sensors: int, ts: Column) -> Column:
    """One JSON payload string per row — what the MQTT broker would
    deliver (mqttgen.py:47 json.dumps). Used by RateSensorSource."""
    cols = _sensor_columns(loop, n_sensors, ts)
    return F.to_json(F.struct(cols[0], cols[1], cols[2], cols[3]))
