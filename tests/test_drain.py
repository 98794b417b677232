"""The drain contract (``iotstream.streaming.drain``): what each output
mode returns, with no input, across micro-batches and under a replayed
micro-batch."""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from iotstream.ext.sessions import session_window_stream
from iotstream.operators.windows import window_agg
from iotstream.sinks import ParquetUpsertSink
from iotstream.sources import FileStreamSource
from iotstream.streaming import (
    NO_DATA_BATCHES,
    UNBOUNDED_WATERMARK,
    drain,
    windowed_agg_final_state,
)

SCHEMA = "user_id long, ts timestamp"
READINGS = "id string, ts timestamp, temperature long"


class _Batches(StreamingQueryListener):
    """The id of every micro-batch a query reported progress for."""

    def __init__(self):
        self.ids: list[int] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.ids.append(event.progress.batchId)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _flush_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


@pytest.fixture
def batches(spark):
    _flush_listeners(spark)
    listener = _Batches()
    spark.streams.addListener(listener)
    yield listener
    spark.streams.removeListener(listener)


def _readings_files(spark, src: str, files: list[list[tuple]]) -> None:
    """One parquet file per list of (id, minute, second, temperature)."""
    for rows in files:
        spark.createDataFrame(
            [(i, dt.datetime(2024, 1, 1, 12, m, s), t) for i, m, s, t in rows],
            READINGS,
        ).coalesce(1).write.mode("append").parquet(src)


@pytest.mark.parametrize("mode", ["append", "update", "complete"])
def test_drain_of_an_empty_source_is_an_empty_table(spark, tmp_path, mode):
    src = tmp_path / "src"
    src.mkdir()
    stream = FileStreamSource(str(src), SCHEMA).load(spark)
    if mode != "append":
        stream = stream.groupBy("user_id").agg(F.max("ts").alias("last_ts"))
    out = drain(spark, stream, mode, ["user_id"] if mode == "update" else ())
    assert out.columns == stream.columns
    assert out.count() == 0


def test_complete_drain_keeps_only_the_last_batch_table(spark, tmp_path):
    """Batch 0 opens user 7's session at 12:00; batch 1's 11:45 event
    merges it into [11:45, 12:30). A keyed upsert on (session_start,
    user_id) would keep the stranded 12:00 session as a second row."""
    src = str(tmp_path / "src")
    for minute in (12 * 60, 11 * 60 + 45):
        ts = dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minute)
        spark.createDataFrame([(7, ts)], SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.1)  # file mtime orders the micro-batches
    stream = FileStreamSource(src, SCHEMA, max_files_per_trigger=1).load(spark)
    sessions = session_window_stream(
        stream, key="user_id", watermark=UNBOUNDED_WATERMARK
    )
    got = [tuple(r) for r in drain(spark, sessions, "complete").collect()]
    assert got == [
        (dt.datetime(2024, 1, 1, 11, 45), dt.datetime(2024, 1, 1, 12, 30), 7, 2)
    ]


def test_update_drain_ignores_a_replayed_epoch(spark):
    """The upsert writer called twice with the same epoch id (a
    replayed micro-batch) leaves the merged table unchanged."""
    schema = "k string, v long"
    batch0 = spark.createDataFrame([("a", 1), ("b", 1)], schema)
    batch1 = spark.createDataFrame([("a", 2)], schema)
    sink = ParquetUpsertSink(batch0.schema, ["k"])
    write = sink.writer()
    write(batch0, 0)
    write(batch1, 1)
    merged = sorted(map(tuple, sink.to_df(spark).collect()))
    assert merged == [("a", 2), ("b", 1)]
    write(batch1, 1)
    assert sorted(map(tuple, sink.to_df(spark).collect())) == merged


def test_drain_removes_the_checkpoint_it_made(spark, tmp_path, monkeypatch):
    """A drain makes its own checkpoint and removes it when the query
    ends, whether the query finished or failed; the output directory
    stays, since the returned table reads it lazily."""
    import os
    import tempfile

    from pyspark.errors import StreamingQueryException

    import iotstream.streaming as streaming

    made: list[str] = []

    def under_tmp(prefix: str) -> str:
        made.append(tempfile.mkdtemp(prefix=prefix, dir=tmp_path))
        return made[-1]

    monkeypatch.setattr(streaming, "ephemeral_dir", under_tmp)
    src = str(tmp_path / "src")
    spark.createDataFrame([(7, dt.datetime(2024, 1, 1))], SCHEMA).write.parquet(src)
    stream = FileStreamSource(src, SCHEMA).load(spark)
    assert drain(spark, stream, "append").count() == 1
    with pytest.raises(StreamingQueryException):
        drain(spark, stream.select(F.raise_error(F.lit("boom"))), "append")

    def named(prefix: str) -> list[str]:
        return [d for d in made if os.path.basename(d).startswith(prefix)]

    assert len(named("iotstream-ckpt-")) == 2
    assert not [d for d in named("iotstream-ckpt-") if os.path.exists(d)]
    assert all(os.path.isdir(d) for d in named("iotstream-append-"))


def test_ephemeral_dirs_are_removed_at_interpreter_exit():
    """A drained frame reads its output dir lazily, so the dirs
    ``ephemeral_dir`` makes live until the interpreter exits, and no
    longer."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c",
         "import iotstream.streaming as s; "
         "print(s.ephemeral_dir('iotstream-test-'))"],
        cwd=repo, capture_output=True, text=True, check=True,
    )
    made = out.stdout.strip()
    assert os.path.basename(made).startswith("iotstream-test-")
    assert not os.path.exists(made)


def test_update_drain_runs_one_batch_per_input_file(spark, tmp_path, batches):
    """Under a finite watermark, an update drain of ``window_agg`` over
    N files runs N micro-batches: the no-data batch after the last file
    could only evict state, which emits nothing in update mode. Its
    table equals the batch aggregate over the same rows."""
    src = str(tmp_path / "src")
    files = [
        [("a", 0, 10, 20), ("b", 0, 40, 30)],
        [("a", 0, 50, 24), ("a", 1, 5, 21)],
        [("b", 2, 0, 33), ("a", 2, 30, 22)],
    ]
    _readings_files(spark, src, files)
    stream = FileStreamSource(src, READINGS, max_files_per_trigger=1).load(spark)
    got = windowed_agg_final_state(
        spark, stream, "ts", ["id"], F.col("temperature"), watermark="1 hour"
    )
    rows = sorted(map(tuple, got.collect()))
    _flush_listeners(spark)
    assert batches.ids == list(range(len(files)))
    want = window_agg(
        spark.read.schema(READINGS).parquet(src),
        "ts", ["id"], F.col("temperature"), prefix="temperature",
    )
    assert rows == sorted(map(tuple, want.collect()))


def test_append_drain_emits_the_window_the_last_watermark_closes(
    spark, tmp_path, batches
):
    """In append mode a window is emitted once the watermark passes its
    end. The 12:00 window closes only at the watermark the last input
    sets (12:04:50), so only the trailing no-data batch emits it."""
    src = str(tmp_path / "src")
    _readings_files(spark, src, [[("a", 0, 10, 20), ("a", 5, 0, 25)]])
    stream = FileStreamSource(src, READINGS).load(spark)
    agg = window_agg(
        stream.withWatermark("ts", "10 seconds"), "ts", ["id"],
        F.col("temperature"), prefix="temperature",
    )
    got = [tuple(r) for r in drain(spark, agg, "append").collect()]
    _flush_listeners(spark)
    assert batches.ids == [0, 1]
    assert got == [
        (dt.datetime(2024, 1, 1, 12, 0), dt.datetime(2024, 1, 1, 12, 1),
         "a", 20, 20, 20.0)
    ]


@pytest.mark.parametrize("prior", [None, "true"])
def test_drain_leaves_the_no_data_batch_setting_as_it_found_it(
    spark, tmp_path, prior
):
    """The drain turns no-data batches off only while its query starts;
    the session's setting, unset or set, reads the same afterwards,
    also when ``start()`` raises."""
    src = str(tmp_path / "src")
    _readings_files(spark, src, [[("a", 0, 10, 20)]])
    stream = FileStreamSource(src, READINGS).load(spark)
    if prior is None:
        spark.conf.unset(NO_DATA_BATCHES)
    else:
        spark.conf.set(NO_DATA_BATCHES, prior)
    try:
        drain(spark, stream.groupBy("id").count(), "update", ["id"])
        assert spark.conf.get(NO_DATA_BATCHES, None) == prior
        # complete mode needs an aggregate, so start() raises here
        with pytest.raises(AnalysisException, match="(?i)complete"):
            drain(spark, stream, "complete")
        assert spark.conf.get(NO_DATA_BATCHES, None) == prior
    finally:
        spark.conf.unset(NO_DATA_BATCHES)
