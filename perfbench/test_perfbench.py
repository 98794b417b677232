"""Tests of the benchmark's pure parts: the load generator and its expected
answers, the percentile rule and the span arithmetic.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import loadgen
from perfbench.metrics import END_TO_END, PER_LAYER
from perfbench.spans import Recorder, Span, covered, self_time_by_kind, self_times
from perfbench.stats import median, min_samples, percentile

SPEC = loadgen.LoadSpec(n_sensors=10, events_per_file=100, disorder_s=4)


def test_same_seed_same_events_other_seed_other_events():
    a, b = loadgen.generate(7, SPEC, 1000), loadgen.generate(7, SPEC, 1000)
    c = loadgen.generate(8, SPEC, 1000)
    for f in loadgen.Events.__dataclass_fields__:
        assert np.array_equal(getattr(a, f), getattr(b, f))
    assert not np.array_equal(a.temperature, c.temperature)
    assert loadgen.payload_lines(a, 0, len(a)) == loadgen.payload_lines(b, 0, len(b))


def test_quality_mix_1_9_90_and_ranges():
    # 10 sensors x 100 messages each: every sensor's counter runs 1..100.
    ev = loadgen.generate(3, SPEC, 1000)
    t, h = ev.temperature, ev.humidity
    empty = (t == 0) & (h == 0)
    bad = (t >= 50) & (h >= 100)
    assert empty.sum() == 10 and np.array_equal(empty, ev.empty)
    assert bad.sum() == 90
    assert ev.valid().sum() == 900
    assert t[bad].min() >= 50 and t[bad].max() <= 80
    assert h[bad].min() >= 100 and h[bad].max() <= 130
    ok = ~empty & ~bad
    assert t[ok].min() >= 10 and t[ok].max() <= 50
    assert h[ok].min() >= 50 and h[ok].max() <= 80


def test_cadence_and_bounded_disorder():
    ev = loadgen.generate(5, SPEC, 1000)
    assert sorted(np.bincount(ev.sensor).tolist()) == [100] * 10
    # No event is older than the newest event before it by more than the
    # disorder bound, so a watermark above it drops nothing.
    lag = np.maximum.accumulate(ev.ts) - ev.ts
    assert lag.max() <= SPEC.disorder_s
    assert lag.max() > 0
    span = ev.ts.max() - ev.ts.min()
    assert abs(span - (1000 // 10) * SPEC.cadence_s) <= SPEC.disorder_s + SPEC.cadence_s


def test_payloads_are_mqttgen_shaped(tmp_path):
    ev = loadgen.generate(2, SPEC, 250)
    n = loadgen.write_backlog(ev, str(tmp_path), 100)
    assert n == 3 and sorted(os.listdir(tmp_path))[0] == "payload-00000.json"
    rows = [json.loads(line) for f in sorted(os.listdir(tmp_path)) for line in open(tmp_path / f)]
    assert len(rows) == 250
    assert set(rows[0]) == {"id", "messageId", "timestamp", "metrics"}
    for r, s, loop, empty in zip(rows, ev.sensor, ev.loop, ev.empty):
        assert r["id"] == loadgen.sensor_id(int(s))
        assert r["messageId"] == r["id"] + str(loop)
        assert isinstance(r["timestamp"], int)
        assert (r["metrics"] == {}) == bool(empty)


def test_round_half_up_matches_spark_round():
    assert loadgen.round_half_up(0.0000125, 6) == 0.000013
    assert loadgen.round_half_up(2.5, 0) == 3.0
    assert loadgen.round_half_up(31.3333333333, 6) == 31.333333


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_expected_answers_match_batch_pipeline(spark):
    from pyspark.sql import functions as F

    from iotstream.pipeline import run_sensor_pipeline_batch

    ev = loadgen.generate(11, loadgen.LoadSpec(n_sensors=40, events_per_file=0, disorder_s=4), 4000)
    lines = loadgen.payload_lines(ev, 0, len(ev)).splitlines()
    res = run_sensor_pipeline_batch(spark.createDataFrame([(x,) for x in lines], "value string"))
    assert res.raw_archive.count() == len(ev)
    assert res.clean.count() == int(ev.valid().sum())
    got = {
        (r.w, r.id): (r.max_temperature, r.min_temperature, r.a)
        for r in res.aggregates.select(
            F.unix_timestamp("window_start").alias("w"), "id", "max_temperature",
            "min_temperature", F.round("avg_temperature", 6).alias("a"),
        ).collect()
    }
    assert got == loadgen.expected_windows(ev)


def test_percentile_rule_requires_ten_samples_beyond():
    assert min_samples(0.9) == 100
    assert min_samples(0.75) == 40
    assert min_samples(0.5) == 20
    values = list(range(1, 101))
    assert percentile(values, 0.9) == 90
    with pytest.raises(ValueError):
        percentile(values[:99], 0.9)
    # The median is reported from any sample.
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([1.0, 2.0]) == 1.5
    with pytest.raises(ValueError):
        median([])


def test_covered_merges_and_clips_intervals():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == 5
    assert covered(0, 10, [(-5, 2), (9, 20)]) == 3


def test_self_time_subtracts_children_coverage():
    spans = [
        Span("run", "r", 0.0, 10.0, None),
        Span("query", "a", 1.0, 5.0, 0),
        Span("query", "b", 4.0, 9.0, 0),
        Span("job", "j", 2.0, 3.0, 1),
    ]
    assert self_times(spans) == pytest.approx([2.0, 3.0, 5.0, 1.0])
    assert self_time_by_kind(spans) == pytest.approx({"run": 2.0, "query": 8.0, "job": 1.0})


def test_recorder_spans_share_run_id_and_nest(tmp_path):
    rec = Recorder("r1")
    with rec.span("run", "all", None) as run:
        with rec.span("query", "q", run):
            pass
    path = tmp_path / "t.jsonl"
    rec.write(str(path))
    lines = [json.loads(x) for x in path.read_text().splitlines()]
    assert [x["run"] for x in lines] == ["r1", "r1"]
    assert lines[1]["parent"] == 0
    assert lines[0]["start"] <= lines[1]["start"] <= lines[1]["end"] <= lines[0]["end"]


def test_benchmark_json_lists_the_reported_metrics():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in PER_LAYER
    ]
    assert [w["name"] for w in spec["workloads"]] == ["window_state", "catalog"]
