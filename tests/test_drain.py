"""The drain contract (``iotstream.streaming.drain``): what each output
mode returns, with no input, across micro-batches and under a replayed
micro-batch."""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F

from iotstream.ext.sessions import session_window_stream
from iotstream.sinks import ParquetUpsertSink
from iotstream.sources import FileStreamSource
from iotstream.streaming import UNBOUNDED_WATERMARK, drain

SCHEMA = "user_id long, ts timestamp"


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
