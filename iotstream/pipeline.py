"""The reference topology, assembled (SURVEY.md §3.1).

Reference dataflow (src/main/java/stream/StreamProcessor.java:51-83):

    MQTT source → parse JSON (F1) → [raw archive K1, PRE-filter]
                → validity filter (F2) → [Kafka JSON K2 / clean K3]
                → (KSQL) 1-min tumbling MAX/MIN/AVG by id (A1-A3) → upsert K4

One engine replaces three processes (Flink job + KSQL server + Connect
worker). The batch pipeline and the streaming pipeline are the same
Column expressions; streaming adds watermark + checkpoint + triggers.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iotstream.config import EngineConfig
from iotstream.operators.filters import validity_filter
from iotstream.operators.parse import parse_sensor_json
from iotstream.operators.project import raw_archive_projection
from iotstream.operators.windows import window_agg
from iotstream.schemas import normalize_event_time
from iotstream.sinks import dual_sink_writer
from iotstream.streaming import run_available_now


@dataclass
class BatchResult:
    raw_archive: DataFrame
    clean: DataFrame
    aggregates: DataFrame


def run_sensor_pipeline_batch(payloads: DataFrame, conf: EngineConfig | None = None) -> BatchResult:
    """Full reference pipeline over a batch of raw JSON payload strings.

    Returns the three observable frames: pre-filter raw archive, post-
    filter clean stream, and the windowed aggregates (``window_agg``,
    avg rounded to 6 places) — the contents of the reference's ``raw``
    / ``mongodb-connect`` / ``max`` collections.
    """
    conf = conf or EngineConfig()
    events = normalize_event_time(parse_sensor_json(payloads))
    clean = validity_filter(events)
    aggs = window_agg(
        clean,
        "ts",
        ["id"],
        F.col("metrics.temperature"),
        width=conf.window_width,
        prefix="temperature",
    )
    return BatchResult(
        raw_archive=raw_archive_projection(events),
        clean=clean,
        aggregates=aggs,
    )


def run_sensor_pipeline_stream(
    spark: SparkSession,
    payload_stream: DataFrame,
    conf: EngineConfig,
    checkpoint: str,
) -> None:
    """Streaming lift of the same pipeline: ONE foreachBatch does both
    the pre-filter archive write and the post-filter clean write, so the
    source is consumed once with a single offset log (§7.4 risk 2).
    Blocks until available input is drained (availableNow)."""
    events = normalize_event_time(parse_sensor_json(payload_stream))
    writer = events.writeStream.foreachBatch(
        dual_sink_writer(conf.raw_archive_path, conf.clean_path)
    )
    run_available_now(writer, checkpoint)
