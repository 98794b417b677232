"""T5 EXT — custom stateful streaming operators.

The reference's only state is the KSQL windowed aggregation
(README.md:87-92). Structured Streaming additionally exposes
arbitrary per-key state via ``applyInPandasWithState`` — used here for
a per-sensor quality monitor that no built-in aggregate expresses:
running totals of valid/invalid readings plus the longest run of
consecutive invalid readings (an alerting primitive). State lives in
the state store, keyed by sensor — at 100 TB of stream history the
state is bounded by key cardinality, not event count.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [
        StructField("n_total", LongType()),
        StructField("n_invalid", LongType()),
        StructField("cur_run", LongType()),
        StructField("max_run", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("n_total", LongType()),
        StructField("n_invalid", LongType()),
        StructField("max_invalid_run", LongType()),
    ]
)


def _monitor(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n_total, n_invalid, cur_run, max_run = (
        state.get if state.exists else (0, 0, 0, 0)
    )
    # Concatenate ALL the group's Arrow chunks, then impose the total
    # order (ts, messageId) ONCE: (a) a per-chunk sort leaves the
    # CROSS-chunk order at arrival order, which varies with scheduling
    # — the same fixture would give max_run 1 or 2 across runs; (b)
    # duplicate timestamps within a sensor (the
    # hostile head-copied rows share ts with their originals) need the
    # unique messageId tie-break or "consecutive" is undefined — the
    # oracle's row_number mirrors the same two-key ORDER BY.
    #
    # Memory contract: the concat materializes O(rows per key per
    # micro-batch) on one executor — the price of the total order. A
    # key's micro-batch slice is bounded by trigger interval × that
    # sensor's event rate, not by table size, so this holds at 100 TB
    # unless a single sensor floods one trigger; if hot keys become
    # real, swap to a heap k-way merge over the pre-sorted chunks.
    chunks = list(pdfs)
    if chunks:
        import numpy as np

        pdf = pd.concat(chunks).sort_values(["ts", "messageId"])
        invalid = (
            (pdf["temperature"].eq(0) & pdf["humidity"].eq(0))
            | (pdf["temperature"].ge(50) & pdf["humidity"].ge(100))
        ).to_numpy()
        # Vectorized run-length scan, no per-row Python loop. For each position i, the invalid run
        # ending at i is i - (index of the most recent valid row ≤ i);
        # rows before the first valid row extend the carried-in
        # cur_run. Valid positions evaluate to run 0, so a single
        # max() over the array equals the loop's running max.
        n = invalid.size
        if n:
            idx = np.arange(n)
            last_valid = np.maximum.accumulate(np.where(~invalid, idx, -1))
            runs = np.where(last_valid < 0, idx + 1 + cur_run, idx - last_valid)
            n_total += n
            n_invalid += int(invalid.sum())
            max_run = max(max_run, int(runs.max()))
            cur_run = int(runs[-1]) if invalid[-1] else 0
    state.update((int(n_total), int(n_invalid), int(cur_run), int(max_run)))
    yield pd.DataFrame(
        {
            "id": [key[0]],
            "n_total": [n_total],
            "n_invalid": [n_invalid],
            "max_invalid_run": [max_run],
        }
    )


def quality_monitor(sensor_stream: DataFrame) -> DataFrame:
    """Per-sensor stateful quality totals over a SensorEvent stream.

    Input needs columns id, ts, messageId, metrics.{temperature,
    humidity}; each micro-batch emits the updated per-sensor totals
    (update semantics, like the reference's continuously-updated KSQL
    table) — drain it in update mode keyed on ``id``.
    """
    from pyspark.sql import functions as F

    flat = sensor_stream.select(
        "id",
        "ts",
        "messageId",  # unique per event — the in-group order tie-break
        F.col("metrics.temperature").alias("temperature"),
        F.col("metrics.humidity").alias("humidity"),
    )
    return flat.groupBy("id").applyInPandasWithState(
        _monitor,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 state API) — status-change detector


from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
)


class StatusChangeProcessor(StatefulProcessor):
    """Per-sensor validity-transition detector on the NEW arbitrary-state
    API (``transformWithStateInPandas``): emits a row whenever a sensor
    crosses between valid and invalid (the reference's filter predicate,
    StreamProcessor.java:61-78, used as an edge trigger instead of a
    drop rule — the alerting primitive its topology cannot express).

    ValueState holds only the last seen status per sensor — state size
    is O(keys), unbounded stream history. Rows are processed in event-
    time order within each micro-batch; across batches the file source
    replays in order, so the emitted transitions equal the batch lag()
    formulation (the oracle)."""

    def init(self, handle) -> None:
        from pyspark.sql.types import StringType, StructField, StructType

        self._last = handle.getValueState(
            "last_status", StructType([StructField("status", StringType())])
        )

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        pdf = pd.concat(list(rows)).sort_values(["ts", "messageId"])
        invalid = (
            (pdf["temperature"].eq(0) & pdf["humidity"].eq(0))
            | (pdf["temperature"].ge(50) & pdf["humidity"].ge(100))
        )
        status = invalid.map({True: "invalid", False: "valid"})
        carried = self._last.get()[0] if self._last.exists() else None
        prev = status.shift(1)
        if len(prev):
            prev.iloc[0] = carried
        changed = prev.ne(status) | prev.isna() if carried is None else prev.ne(status)
        out = pd.DataFrame(
            {
                "id": key[0],
                "ts": pdf["ts"][changed],
                "messageId": pdf["messageId"][changed],
                "prev_status": prev[changed],
                "status": status[changed],
            }
        )
        self._last.update((str(status.iloc[-1]),))
        if len(out):
            yield out

    def close(self) -> None:
        pass


def status_changes(sensor_stream: DataFrame) -> DataFrame:
    """Per-sensor validity transitions via ``StatusChangeProcessor``;
    append semantics (every batch's edges accumulate), so drain it in
    append mode."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    out_schema = StructType(
        [
            StructField("id", StringType()),
            StructField("ts", TimestampType()),
            StructField("messageId", StringType()),
            StructField("prev_status", StringType()),
            StructField("status", StringType()),
        ]
    )
    flat = sensor_stream.select(
        "id",
        "ts",
        "messageId",
        F.col("metrics.temperature").alias("temperature"),
        F.col("metrics.humidity").alias("humidity"),
    )
    return flat.groupBy("id").transformWithStateInPandas(
        StatusChangeProcessor(),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode="None",
    )
