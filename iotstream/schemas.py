"""Schemas and fixture IO.

The single core schema of the reference pipeline is the sensor event
produced by the generator (reference iot-sensor/mqttgen.py:32-45),
parsed by Gson (reference src/main/java/stream/StreamProcessor.java:87-92)
and re-declared in KSQL DDL (reference README.md:76-83):

    {id, messageId, timestamp, metrics{temperature, humidity}}

``timestamp`` is epoch *seconds*, emitted as a JSON int and coerced to
String by Gson (reference src/main/java/stream/data/SensorEvent.java:8) —
we keep the string column for fidelity and normalize to a proper
TimestampType column ``ts`` for event-time processing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

# Mirrors SensorEvent.java:6-9 + Metrics.java:5-6 (LongType to match the POJO).
METRICS = StructType(
    [
        StructField("temperature", LongType()),
        StructField("humidity", LongType()),
    ]
)

SENSOR_EVENT = StructType(
    [
        StructField("id", StringType()),
        StructField("messageId", StringType()),
        StructField("timestamp", StringType()),  # epoch seconds as string
        StructField("metrics", METRICS),
    ]
)

#: Declared schema of every fixture table (TESTDATA.md), as Spark DDL,
#: so that no load pays a schema-inference job. Each equals what Spark
#: infers from the committed files (their pyarrow ``timestamp[us]``
#: columns, TIMESTAMP(MICROS) without UTC adjustment, infer as
#: ``TIMESTAMP_NTZ``); ``tests/test_fixture_schemas.py`` holds that
#: equality for every scale and for the benchmark's fixture writer.
FIXTURE_SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": (
        "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"
    ),
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
        "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ),
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

FIXTURE_TABLES = tuple(FIXTURE_SCHEMAS)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table under its declared schema: a plain parquet
    scan, so Catalyst pushdown/pruning applies to whatever the caller
    selects/filters, and building it fires no Spark job (no schema
    inference). ``events.ts`` comes back as TimestampType.

    Pins the session to UTC (``use_utc``), as ``load_events_stream``
    does, so a builder that reads a fixture table needs no pin of its
    own: only a builder that reads no fixture sets it itself.

    The declaration is the contract: a file whose column types differ
    from it fails at read time with ``PARQUET_COLUMN_DATA_TYPE_MISMATCH``
    (it is never re-inferred), and a declared column missing from the
    file reads as NULL."""
    if name not in FIXTURE_SCHEMAS:
        raise KeyError(f"unknown fixture table {name!r}; one of {FIXTURE_TABLES}")
    use_utc(spark)
    df = spark.read.schema(FIXTURE_SCHEMAS[name]).parquet(table_path(sf_dir, name))
    return normalize_ns_timestamp(df) if name == "events" else df


def load_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a streaming file source under its declared
    schema, with ``ts`` as TimestampType (``normalize_ns_timestamp``)
    and the session pinned to UTC (``use_utc``) — the input of every
    streaming query over the fixtures."""
    from iotstream.sources import FileStreamSource

    use_utc(spark)
    source = FileStreamSource(table_path(sf_dir, "events"), FIXTURE_SCHEMAS["events"])
    return normalize_ns_timestamp(source.load(spark))


def normalize_ns_timestamp(df: DataFrame, col: str = "ts") -> DataFrame:
    """Cast the fixture ``ts`` column from ``timestamp_ntz`` (as declared)
    to TimestampType. Watermarks and ``unix_micros`` require
    TimestampType; under the session-UTC discipline (``use_utc``) the
    NTZ→TZ cast is a value no-op."""
    return df.withColumn(col, F.col(col).cast("timestamp"))


def normalize_event_time(df: DataFrame, epoch_str_col: str = "timestamp") -> DataFrame:
    """Add TimestampType ``ts`` from the reference's stringly epoch-seconds
    column (SensorEvent.java:8 stores epoch seconds as String). The
    instant is exact in every session time zone: no string round trip,
    so no DST fall-back hour is read twice."""
    return df.withColumn("ts", F.timestamp_seconds(F.col(epoch_str_col).cast("long")))


def event_time_only(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Exclude rows WITHOUT event time from event-time operators.

    Declared semantic: windowed aggregation,
    sessionization, ordered analytics (lag/lead/LOCF/EWMA), and
    time-bucketed rollups all require an event timestamp; a row with
    NULL event time cannot be placed on any timeline and is excluded —
    exactly what Structured Streaming's watermark/window operators do
    implicitly (Spark's ``F.window`` silently drops NULL timestamps).
    Making the filter explicit keeps batch and streaming twins
    byte-identical and gives the DuckDB oracles a single clause
    (``ts IS NOT NULL``) to mirror, instead of relying on the engines'
    DIVERGENT null-ordering defaults (Spark sorts NULLS FIRST
    ascending, DuckDB NULLS LAST — every lag/LOCF computation over a
    NULL-bearing timeline disagrees otherwise)."""
    return df.filter(F.col(ts_col).isNotNull())


def finite_measures(df: DataFrame, *cols: str) -> DataFrame:
    """Exclude rows whose measure is non-finite (NaN or ±Inf) from
    exact-decimal aggregation paths.

    Declared semantic: an exact DECIMAL sum
    is only defined over finite inputs — Spark's ``CAST(double AS
    DECIMAL)`` silently maps NaN/±Inf to NULL (the row vanishes from
    the sum with no trace; at corpus scale that is silent revenue
    loss), while DuckDB raises outright. Making the exclusion explicit
    gives both engines one clause (``x IS NULL OR isfinite(x)``) and
    turns silent divergence into a declared, auditable rule. NULL
    measures are NOT excluded — SUM skips them identically on both
    engines (the NULL-parity contract) — and rows quarantined here
    remain visible to data-quality profiling (``dq_report``)."""
    cond = F.lit(True)
    for name in cols:
        c = F.col(name)
        cond = cond & (
            c.isNull() | (~F.isnan(c) & (F.abs(c) != F.lit(float("inf"))))
        )
    return df.filter(cond)


def finite_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem under the TABLE-LEVEL finite-measures contract: rows
    with a non-finite value in ANY of the four float measures are
    excluded. A per-query variant ("guard only the columns this query
    casts") is not enough — a NaN row that dodges one query's filters
    still hits another's — so every
    exact-DECIMAL lineitem consumer declares the same uniform rule and
    mirrors it with one oracle clause (``_FINITE_LI`` in
    ``__spark_entry__.oracle_sql``). A lineitem row with any non-finite
    measure is corrupt at the source; dropping it whole is the
    defensible 100 TB semantic, and the conjunction evaluates scan-side
    (inside the scan's WholeStageCodegen stage, before any shuffle)."""
    return finite_measures(
        load_table(spark, sf_dir, "lineitem"),
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    )


def nonnegative_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Non-negative event-time domain for WATERMARKED streaming
    operators.

    Declared semantic: Structured Streaming
    initializes every watermark at epoch 0, so a pre-epoch event is
    "late" to the very first micro-batch and is silently dropped no
    matter the configured delay — a Spark limitation, not a choice this
    engine can make. Watermarked streaming queries therefore declare
    ts >= 1970-01-01 explicitly (the DuckDB twins mirror the clause),
    turning the silent drop into a visible contract. Batch operators
    are NOT restricted — the batch twins handle pre-epoch rows exactly
    (see the pmod bucket floor in ext/temporal.py).
    NULL event times pass through untouched: they do not participate
    in lateness at all (the NULL-parity contract — watermarked
    dedup keeps them, windowed aggs drop them downstream on both
    engines), and this filter must not change that.

    The boundary is built timezone-independently (epoch second 0, the
    instant Spark's watermark actually initializes at) — a string
    literal cast to timestamp would be read in the session timezone and
    silently shift the domain by the session offset for any caller that
    has not pinned UTC."""
    c = F.col(ts_col)
    return df.filter(c.isNull() | (c >= F.timestamp_seconds(F.lit(0))))


def positive_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """STRICTLY-positive event-time domain for stream-stream JOIN
    sides.

    The symmetric-hash join's late-input filter drops rows at EXACTLY
    epoch — an error event at 1970-01-01T00:00:00 loses its pair while
    one at 00:00:01 keeps it — because the input-row predicate tests
    ``ts <= watermark`` against the initial epoch-0 watermark. This
    differs from windowed/session aggregations, where eviction keys on
    the WINDOW END and an epoch-exact row survives (its window ends
    after epoch), hence the separate ``nonnegative_event_time``
    contract there. NULL event times pass through untouched — the join
    condition excludes them on both engines."""
    c = F.col(ts_col)
    return df.filter(c.isNull() | (c > F.timestamp_seconds(F.lit(0))))


def use_utc(spark: SparkSession) -> SparkSession:
    """Pin the session timezone so epoch<->timestamp conversions agree
    with the DuckDB oracle (which treats naive timestamps as UTC)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
