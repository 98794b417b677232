"""T4/T7 — checkpointing and restart-from-checkpoint (the delivery
guarantee the reference lacks: its Flink job configures no checkpoints
and its Kafka producer is fire-and-forget, StreamProcessor.java:126)."""

from __future__ import annotations

from pyspark.sql import functions as F

from iotstream.config import EngineConfig
from iotstream.generator import sensor_payload_json, synthetic_sensor_events
from iotstream.pipeline import run_sensor_pipeline_stream
from iotstream.sources import FileStreamSource


def _payloads(spark, lo, hi):
    gen = synthetic_sensor_events(spark, hi).filter(F.col("loop") > lo)
    return gen.select(
        sensor_payload_json(F.col("loop"), 10, F.col("ts")).alias("value")
    )


def test_restart_resumes_from_offsets_exactly_once(spark, tmp_path):
    """Run the pipeline over file 1, then drop file 2 in and RERUN with
    the same checkpoint: the second run must process only file 2 —
    every input row lands in the sinks exactly once."""
    src_dir = tmp_path / "in"
    conf = EngineConfig(
        raw_archive_path=str(tmp_path / "raw"),
        clean_path=str(tmp_path / "clean"),
    )
    ckpt = str(tmp_path / "ckpt")
    schema = _payloads(spark, 0, 1).schema

    _payloads(spark, 0, 500).coalesce(1).write.mode("append").parquet(str(src_dir))
    stream = FileStreamSource(str(src_dir), schema).load(spark)
    run_sensor_pipeline_stream(spark, stream, conf, ckpt)
    assert spark.read.parquet(conf.raw_archive_path).count() == 500

    _payloads(spark, 500, 1000).coalesce(1).write.mode("append").parquet(str(src_dir))
    stream = FileStreamSource(str(src_dir), schema).load(spark)
    run_sensor_pipeline_stream(spark, stream, conf, ckpt)

    raw = spark.read.parquet(conf.raw_archive_path)
    assert raw.count() == 1000  # no duplicates, no gaps
    assert raw.select("_messageId").distinct().count() == 1000
    assert spark.read.parquet(conf.clean_path).count() == 900


def test_randomized_generator_matches_mix_shape(spark):
    """C4: rand()-based metrics keep the branch structure and ranges of
    random.randint (mqttgen.py:41-45), just without a fixed seed."""
    gen = synthetic_sensor_events(spark, 1000, randomized=True)
    t = F.col("metrics.temperature")
    h = F.col("metrics.humidity")
    assert gen.filter((t == 0) & (h == 0)).count() == 10
    bad = gen.filter((t >= 50) & (t <= 80) & (h >= 100) & (h <= 130)).count()
    valid = gen.filter((t >= 10) & (t <= 50) & (h >= 50) & (h <= 80)).count()
    assert bad == 90 and valid == 900


def test_rate_source_smoke(spark):
    """S4 streaming: the rate-source generator emits parseable sensor
    JSON payloads continuously."""
    import time

    from iotstream.operators.parse import parse_sensor_json
    from iotstream.sinks import ParquetUpsertSink
    from iotstream.sources import RateSensorSource

    stream = RateSensorSource(rows_per_second=200, n_sensors=5).load(spark)
    parsed = parse_sensor_json(stream)
    sink = ParquetUpsertSink(parsed.schema, ["messageId"])
    q = (
        parsed.writeStream.outputMode("append")
        .foreachBatch(sink.writer())
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 15
        while time.time() < deadline and not any(
            p["numInputRows"] > 0 for p in q.recentProgress
        ):
            time.sleep(0.5)
    finally:
        q.stop()
    row = sink.to_df(spark).first()
    assert row is not None, "rate source produced no parsed rows"
    assert row[0].startswith("sensor")  # id column
