"""iotstream — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference IoT stream processor
(bonsair/iot-stream-processor), rebuilt Spark-first.

The reference is a Flink 1.2 DataStream job (MQTT → parse → Mongo raw
archive → validity filter → Kafka JSON) plus a KSQL layer computing
per-sensor 1-minute tumbling MAX/MIN/AVG (reference README.md:87-92).
Here the whole topology is declarative DataFrame code: Catalyst handles
pushdown/pruning/partial aggregation, Structured Streaming handles the
incremental execution, and every operator is a pure
``DataFrame -> DataFrame`` function usable in batch and streaming alike.

Layout:
    schemas     — SENSOR_EVENT StructType + fixture table and events-stream loaders
    sensorize   — deterministic events→sensor-event derivation (test parity)
    operators   — parse (F1/C1), filter (F2), project (F3/F5), windows (A1-A3)
    sources     — source abstraction (S1-S4): parquet | file-stream | rate | kafka
    sinks       — foreachBatch writers (K1-K4) incl. keyed upsert
    pipeline    — the reference topology (dual sink: pre-filter raw, post-filter clean)
    streaming   — watermark policy, drain (availableNow, one per output mode)
    ext         — LLM-data-pipeline operators: dedup, similarity, text, multimodal, joins
"""

__version__ = "0.2.0"

from iotstream.schemas import SENSOR_EVENT, load_table  # noqa: F401
