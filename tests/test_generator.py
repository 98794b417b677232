"""S4 — generator parity with mqttgen.py's quality mix and stamps."""

from __future__ import annotations

from pyspark.sql import functions as F

from iotstream.generator import synthetic_sensor_events


def test_quality_mix_1_9_90(spark):
    gen = synthetic_sensor_events(spark, 1000)
    t = F.col("metrics.temperature")
    h = F.col("metrics.humidity")
    empty = gen.filter((t == 0) & (h == 0)).count()
    bad = gen.filter((t >= 50) & (h >= 100)).count()
    valid = gen.filter((t >= 10) & (t <= 50) & (h >= 50) & (h <= 80)).count()
    assert empty == 10     # every 100th (mqttgen.py:38)
    assert bad == 90       # every remaining 10th (mqttgen.py:40)
    assert valid == 900


def test_ranges_inclusive_like_randint(spark):
    gen = synthetic_sensor_events(spark, 10000)
    t = F.col("metrics.temperature")
    h = F.col("metrics.humidity")
    bad = gen.filter((t >= 50) & (h >= 100))
    stats = bad.agg(
        F.min(t).alias("t0"), F.max(t).alias("t1"),
        F.min(h).alias("h0"), F.max(h).alias("h1"),
    ).first()
    assert 50 <= stats.t0 and stats.t1 <= 80      # mqttgen.py:41
    assert 100 <= stats.h0 and stats.h1 <= 130    # mqttgen.py:42


def test_message_id_concat(spark):
    row = synthetic_sensor_events(spark, 3).filter(F.col("loop") == 2).first()
    assert row.messageId == row.id + "2"          # mqttgen.py:32
    assert row.timestamp.isdigit()                # epoch seconds as string


def test_python_datasource_matches_expression_generator(spark):
    """The registered 'sensorgen' Python DataSource must emit the exact
    rows of synthetic_sensor_events (shared modular-arithmetic mix)."""
    from iotstream.generator import synthetic_sensor_events
    from iotstream.schemas import use_utc
    from iotstream.sources.pydatasource import register

    use_utc(spark)
    register(spark)
    ds = spark.read.format("sensorgen").option("n", "500").load()
    gen = synthetic_sensor_events(spark, 500)
    assert sorted(map(tuple, ds.collect())) == sorted(map(tuple, gen.collect()))


def test_python_datasource_partitions_shard_the_range(spark):
    from iotstream.sources.pydatasource import SensorGenReader

    r = SensorGenReader({"n": "100", "numPartitions": "8"})
    parts = r.partitions()
    assert len(parts) == 8
    covered = sorted(
        x for p in parts for x in range(p.lo, p.hi + 1)
    )
    assert covered == list(range(1, 101))
