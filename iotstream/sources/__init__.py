"""S1/S2/S4 — pluggable source abstraction.

The reference ingests from an MQTT broker via a hand-written blocking
SourceFunction (reference src/main/java/stream/sources/HiveMQSource.java:24-106,
QoS 2 subscribe at :75, auto-reconnect at :67) and re-reads the produced
Kafka topic in KSQL (reference README.md:76-83). Spark has no
first-party MQTT source; the idiomatic deployment bridges MQTT→Kafka
outside the engine and reads Kafka here (SURVEY.md §2.1 S1). Every
source yields the SAME schema — a raw string ``value`` column (plus
transport metadata) — so the downstream pipeline is source-agnostic.

Each source is a dataclass whose ``load(spark)`` returns a streaming
DataFrame: ``FileStreamSource`` (parquet directory, the test-time
stand-in for the broker hop), ``KafkaJsonSource`` and
``RateSensorSource`` (synthetic live stream).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from iotstream.config import EngineConfig


@dataclass
class FileStreamSource:
    """Micro-batch file stream over a parquet directory — the test-time
    replacement for the MQTT/Kafka hop. ``maxFilesPerTrigger`` paces
    micro-batches like the reference's 100 ms poll loop
    (HiveMQSource.java:86-93) paces message delivery."""

    path: str
    schema: StructType | str  # a StructType or a DDL string
    max_files_per_trigger: int | None = None

    def load(self, spark: SparkSession) -> DataFrame:
        import os

        reader = spark.readStream.schema(self.schema)
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        # The file source wants a directory or glob; turn a direct file
        # path into a glob matching exactly that file.
        path = self.path if os.path.isdir(self.path) else self.path + "*"
        return reader.parquet(path)


@dataclass
class KafkaJsonSource:
    """S2 — Kafka topic of JSON values (KSQL ``CREATE STREAM json``,
    README.md:76-83). Requires a reachable broker; config-only here
    (no broker in the test container). QoS-2-equivalent delivery comes
    from Spark's offset tracking + checkpointing, strictly stronger than
    the reference's unchecckpointed at-most-once (SURVEY.md §2.8 T4)."""

    conf: EngineConfig
    starting_offsets: str = "earliest"

    def load(self, spark: SparkSession) -> DataFrame:
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", self.conf.kafka_bootstrap)
            .option("subscribe", self.conf.kafka_topic)
            .option("startingOffsets", self.starting_offsets)
            .load()
            .select(F.col("value").cast("string").alias("value"))
        )


@dataclass
class RateSensorSource:
    """S4 — live synthetic sensor stream: ``rate`` source + the
    generator expressions (iotstream.generator). Reproduces the
    reference generator's 1/9/90 quality mix (mqttgen.py:36-45) as a
    JSON string stream, for demos and soak tests."""

    rows_per_second: int = 100
    n_sensors: int = 10

    def load(self, spark: SparkSession) -> DataFrame:
        from iotstream.generator import sensor_payload_json

        rate = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", self.rows_per_second)
            .load()
            # generator expressions reference the loop counter by name
            .select(F.col("value").alias("loop"), F.col("timestamp"))
        )
        return rate.select(
            sensor_payload_json(
                loop=F.col("loop"), n_sensors=self.n_sensors, ts=F.col("timestamp")
            ).alias("value")
        )
