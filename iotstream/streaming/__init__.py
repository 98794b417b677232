"""Streaming execution policy (SURVEY.md §2.8 T1-T7).

- T1: tumbling windows via ``operators.windows.window_agg``.
- T2: event-time domain — payload timestamps, not broker ROWTIME
  (documented deviation; deterministic + testable).
- T3: watermarks bound state; the reference has no late-data policy
  (KSQL 0.6 retains windows indefinitely), so correctness runs use an
  effectively-unbounded watermark and production runs a finite one.
- T4: every query gets a ``checkpointLocation`` → restartable
  (the reference checkpoints nothing, StreamProcessor.java:126); a
  one-shot drain's own checkpoint is removed when it ends. What
  a replayed micro-batch leaves behind depends on the output mode of
  ``drain``: append drains are exactly-once through the file sink's
  ``_spark_metadata`` log; update drains deduplicate a replayed epoch
  when the upsert table is read; complete drains overwrite, so a
  replay is harmless. ``sinks.dual_sink_writer`` is still
  at-least-once: a replayed epoch appends its raw and clean rows again.
  A drain's checkpoint logs one offset and one commit per micro-batch
  it ran; only an append drain runs (and logs) the trailing no-data
  batch, the one that emits what the final watermark closes.
- T5: streaming aggregation state lives in the state store, in as many
  partitions as the session's ``spark.sql.shuffle.partitions`` when the
  query first starts; a restarted checkpoint keeps its recorded width.
- T6: pacing via triggers (availableNow in tests, processingTime in
  production) instead of the reference's 100 ms sleep poll
  (HiveMQSource.java:86-93). An availableNow drain runs one micro-batch
  per input slice, plus one without input only in append mode (an
  update or complete result cannot change without input).
- T7: restart-from-checkpoint replaces swallow-and-continue error
  handling (MongoDBRawData.java:46-52).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


#: Don't place scratch on tmpfs unless this much is free: drain sinks
#: hold real (read-back-once) parquet output, and a container-default
#: 64 MB /dev/shm would ENOSPC queries that worked fine on /tmp.
_SHM_MIN_FREE = 8 << 30

#: Every dir ``ephemeral_dir`` made. A drained frame reads its output
#: dir lazily, so nothing earlier owns these dirs; the ones still there
#: are removed when the interpreter exits.
_MADE: set[str] = set()


@atexit.register
def _remove_made() -> None:
    for d in _MADE:
        shutil.rmtree(d, ignore_errors=True)


def ephemeral_dir(prefix: str) -> str:
    """Scratch dir for ONE-SHOT drains (checkpoints/spill sinks that
    are read back once and never revisited): prefer tmpfs (/dev/shm)
    so per-micro-batch commit fsyncs never hit disk — durability buys
    nothing for a throwaway dir, and the commit-log fsync is a fixed
    per-batch cost on every drained test/bench query. Falls back to
    the normal temp dir when /dev/shm is missing, read-only, or too
    small (Docker defaults it to 64 MB). Durable production queries
    pass their own ``checkpointLocation`` and are unaffected. The dir
    is removed at interpreter exit at the latest."""
    shm, base = "/dev/shm", None
    try:  # statvfs raises when /dev/shm is missing
        st = os.statvfs(shm)
        if os.access(shm, os.W_OK) and st.f_bavail * st.f_frsize >= _SHM_MIN_FREE:
            base = shm
    except OSError:
        pass
    path = tempfile.mkdtemp(prefix=prefix, dir=base)
    _MADE.add(path)
    return path

from iotstream.operators.windows import window_agg
from iotstream.sinks import ParquetUpsertSink

#: Correctness-mode watermark: large enough that no fixture row is ever
#: late-dropped, so the streaming result equals the batch result exactly.
UNBOUNDED_WATERMARK = "3650 days"


#: Spark's switch for micro-batches that read no input and run only to
#: advance the watermark (evict state, close windows, fire timeouts).
NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


def run_available_now(
    writer, checkpoint: str | None = None, no_data_batch: bool = True
):
    """Start a writeStream with availableNow trigger and block until all
    available input is processed. Returns the finished query.

    Without a ``checkpoint`` the query checkpoints into a fresh
    ``ephemeral_dir``, which is removed when the query ends, whether it
    finished or failed; a checkpoint the caller passes is kept.

    With ``no_data_batch=False`` the query runs no micro-batch without
    input: ``NO_DATA_BATCHES`` is off only across ``start()`` (the query
    clones the session conf when it starts), and the session's prior
    value, set or unset, is restored after."""
    own = checkpoint is None
    if own:
        checkpoint = ephemeral_dir("iotstream-ckpt-")
    try:
        writer = writer.option("checkpointLocation", checkpoint).trigger(
            availableNow=True
        )
        if no_data_batch:
            q = writer.start()
        else:
            conf = SparkSession.active().conf
            prior = conf.get(NO_DATA_BATCHES, None)
            conf.set(NO_DATA_BATCHES, "false")
            try:
                q = writer.start()
            finally:
                if prior is None:
                    conf.unset(NO_DATA_BATCHES)
                else:
                    conf.set(NO_DATA_BATCHES, prior)
        q.awaitTermination()
        return q
    finally:
        if own:
            shutil.rmtree(checkpoint, ignore_errors=True)


def drain(
    spark: SparkSession, df: DataFrame, output_mode: str, keys=()
) -> DataFrame:
    """Run the streaming frame ``df`` over all available input
    (availableNow) and return the table it leaves behind:

    - ``"append"``: every emitted row, through Spark's parquet file sink;
    - ``"update"``: the latest row per ``keys``, through
      ``ParquetUpsertSink`` (the KSQL MAX_TABLE → Connect → Mongo
      keyed upsert, README.md:87-107);
    - ``"complete"``: the result table of the last micro-batch (each
      batch overwrites the previous one).

    Only an append drain runs the trailing no-data micro-batch that
    advances the watermark past the last input: in append mode that
    batch emits the windows, sessions and join rows it closes. An
    update or complete drain skips it, because there it emits nothing:
    update mode emits a row when its input changes it, and a complete
    table does not change without input. An operator that emits when
    a state timeout or timer fires may need that batch, so it drains in
    append mode.

    With no input at all, every mode returns an empty table with
    ``df``'s columns. The query keeps its state in as many partitions
    as the session's ``spark.sql.shuffle.partitions``."""
    writer = df.writeStream.outputMode(output_mode)
    if output_mode == "update":
        sink = ParquetUpsertSink(df.schema, keys)
        run_available_now(writer.foreachBatch(sink.writer()), no_data_batch=False)
        return sink.to_df(spark)
    path = ephemeral_dir(f"iotstream-{output_mode}-")
    if output_mode == "append":
        writer = writer.format("parquet").option("path", path)
    elif output_mode == "complete":
        writer = writer.foreachBatch(
            lambda batch, _epoch: batch.write.mode("overwrite").parquet(path)
        )
    else:
        raise ValueError(f"unknown output mode {output_mode!r}")
    run_available_now(writer, no_data_batch=output_mode == "append")
    return spark.read.schema(df.schema).parquet(path)


def windowed_agg_final_state(
    spark: SparkSession,
    stream: DataFrame,
    ts_col: str,
    keys: list[str],
    value,
    width: str = "1 minute",
    watermark: str = UNBOUNDED_WATERMARK,
) -> DataFrame:
    """Run the A1-A3 windowed aggregate (``window_agg``) as a REAL
    streaming query and return its final state: an update-mode
    ``drain`` keyed on (window_start, keys).

    With the unbounded correctness watermark the final state equals the
    batch aggregate bit-for-bit — the batch-stream equivalence that
    Structured Streaming's design guarantees.
    """
    agg = window_agg(
        stream.withWatermark(ts_col, watermark),
        ts_col,
        keys,
        value,
        width=width,
        prefix="temperature",
    )
    return drain(spark, agg, "update", ["window_start", *keys])
