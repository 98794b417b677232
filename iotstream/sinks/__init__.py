"""K1-K4 — sinks as foreachBatch writers.

The reference's sinks are: per-record Mongo inserts for the raw archive
(reference src/main/java/stream/mongodb/MongoDBRawData.java:36-53), a
per-record KafkaProducer for the clean stream (StreamProcessor.java:110-131
— a new producer per record, the classic anti-pattern), Kafka Connect
Mongo sinks for passthrough and aggregates (README.md:59-70,96-107), and
System.out tracing (K5, Spark's own ``console`` sink). Here every sink
is a batched write per micro-batch: Spark pools Kafka producers and
parquet writers amortize across the batch — the per-record overhead
disappears structurally.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from iotstream.config import EngineConfig
from iotstream.operators.project import raw_archive_projection


def kafka_json_writer(df: DataFrame, conf: EngineConfig, checkpoint: str):
    """K2 — clean stream → Kafka topic as JSON with null key (the
    reference publishes with a null key → round-robin partitioning,
    StreamProcessor.java:123-126). Config-only in this container (no
    broker); returns the unstarted writer."""
    from iotstream.operators.parse import to_sensor_json

    return (
        to_sensor_json(df)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", conf.kafka_bootstrap)
        .option("topic", conf.kafka_topic)
        .option("checkpointLocation", checkpoint)
    )


class ParquetUpsertSink:
    """K4 — keyed upsert of a streaming aggregate's changelog.

    KSQL's MAX_TABLE is a continuously-updated table: each window emits
    updated rows which the Connect sink upserts into Mongo keyed by
    (window, id) (README.md:87-107). Here each micro-batch APPENDS its
    changed rows (update mode) to a parquet log stamped with the epoch,
    and the merged view dedups per key keeping the highest epoch —
    exactly a changelog-table compaction (Delta MERGE / RocksDB
    last-write-wins), with no rows ever collected to the driver.

    ``schema`` is the drained frame's schema: the log is read under it
    (plus the bigint ``__epoch``), so an empty log reads as an empty
    table and no read infers a schema. A replayed micro-batch appends
    the same rows again under the same epoch, so the merged view does
    not change."""

    def __init__(self, schema: StructType, key_cols):
        from iotstream.streaming import ephemeral_dir

        self.key_cols = list(key_cols)
        self.path = ephemeral_dir("iotstream-upsert-")
        self.schema = StructType([*schema.fields, StructField("__epoch", LongType())])

    def writer(self) -> Callable[[DataFrame, int], None]:
        def write(batch: DataFrame, epoch_id: int) -> None:
            batch.withColumn("__epoch", F.lit(epoch_id).cast("bigint")).write.mode(
                "append"
            ).parquet(self.path)

        return write

    def to_df(self, spark) -> DataFrame:
        from pyspark.sql.window import Window

        log = spark.read.schema(self.schema).parquet(self.path)
        w = Window.partitionBy(*self.key_cols).orderBy(F.desc("__epoch"))
        return (
            log.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__epoch")
        )


def dual_sink_writer(
    raw_path: str, clean_path: str, keep: F.Column | None = None
) -> Callable[[DataFrame, int], None]:
    """F6→K1/K2 — the reference's dual-sink topology in ONE foreachBatch.

    The raw archive observes PRE-filter data, the clean sink POST-filter
    data (StreamProcessor.java:58 vs :81). Doing both writes inside one
    foreachBatch keeps a single source offset log — the stream is read
    once, not re-read per sink (SURVEY.md §7.4 risk 2). ``persist`` makes
    the two passes share the scan within the batch.

    The two writes are independent jobs over the same cached batch, so
    they run on CONCURRENT driver threads: each write alone
    underutilizes the executors (commit/file-finalize phases idle the
    cores), and overlapping them lets one write's idle phases run the
    other's tasks. The cache is materialized once (count)
    before the threads start so neither racing job pays the parse;
    submitting jobs from multiple driver threads is a supported Spark
    pattern (per-partition cache locking makes the shared persist
    safe).
    """
    import threading

    from iotstream.operators.filters import is_valid

    pred = keep if keep is not None else is_valid()

    def write(batch: DataFrame, epoch_id: int) -> None:
        batch.persist()
        errs: list[Exception] = []

        def run(job) -> None:
            try:
                job()
            except Exception as e:  # noqa: BLE001 — re-raised below
                errs.append(e)

        try:
            batch.count()  # materialize the shared cache once
            threads = [
                threading.Thread(
                    target=run,
                    args=(
                        lambda: raw_archive_projection(batch)
                        .write.mode("append")
                        .parquet(raw_path),
                    ),
                ),
                threading.Thread(
                    target=run,
                    args=(
                        lambda: batch.filter(pred)
                        .write.mode("append")
                        .parquet(clean_path),
                    ),
                ),
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            if errs:
                raise errs[0]
        finally:
            batch.unpersist()

    return write
