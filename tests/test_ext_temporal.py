"""As-of and interval join semantics on hand-built timelines."""

import datetime as dt

from pyspark.sql import functions as F

from iotstream.ext.temporal import asof_last_purchase, interval_follow
from tests.conftest import SF_DIR

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _ev(spark, rows):
    return spark.createDataFrame(
        [(i, T0 + dt.timedelta(seconds=s), u, t, float(v)) for i, s, u, t, v in rows],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )


def test_asof_picks_latest_prior_purchase_inclusive(spark):
    ev = _ev(
        spark,
        [
            (1, 0, 7, "purchase", 10.0),
            (2, 60, 7, "purchase", 20.0),
            (3, 60, 7, "click", 1.0),   # equal ts → inclusive match (id 2)
            (4, 90, 7, "click", 1.0),   # latest prior is id 2, not id 1
            (5, 30, 8, "click", 1.0),   # user 8 has no purchase → NULLs
        ],
    )
    out = {r.event_id: r for r in asof_last_purchase(ev).collect()}
    assert out[3].purchase_event_id == 2
    assert out[4].purchase_event_id == 2
    assert out[5].purchase_event_id is None
    assert set(out) == {3, 4, 5}  # purchases are not left rows


def test_interval_follow_boundaries_and_bin_crossing(spark):
    w = 1800
    ev = _ev(
        spark,
        [
            (1, 0, 7, "error", 0.0),
            (2, 0, 7, "click", 5.0),        # f_ts == a_ts → excluded
            (3, w, 7, "click", 7.0),        # f_ts == a_ts + w → included
            (4, w + 1, 7, "click", 9.0),    # just past the window → excluded
            (5, 10, 9, "click", 3.0),       # other user → excluded
            # anchor late in its bin: follower lands in the NEXT time bin
            (6, w - 5, 9, "error", 0.0),
            (7, w + 5, 9, "click", 4.0),
        ],
    )
    out = {r.event_id: r for r in interval_follow(ev, window_seconds=w).collect()}
    assert out[1].n_follow == 1 and out[1].follow_value == 7.0
    assert out[6].n_follow == 1 and out[6].follow_value == 4.0
    # follower counts include other anchors' rows only per the predicate
    assert set(out) == {1, 6}


def test_interval_follow_counts_any_event_type(spark):
    ev = _ev(
        spark,
        [(1, 0, 7, "error", 0.0), (2, 5, 7, "error", 2.0), (3, 9, 7, "view", 4.0)],
    )
    out = {r.event_id: r for r in interval_follow(ev, window_seconds=60).collect()}
    assert out[1].n_follow == 2 and out[1].follow_value == 6.0
    assert out[2].n_follow == 1 and out[2].follow_value == 4.0


def _sensor_frame(spark, rows):
    """rows: (id, minute_offset, temperature)."""
    return spark.createDataFrame(
        [
            (i, T0 + dt.timedelta(minutes=m), (float(v), 0.0))
            for i, m, v in rows
        ],
        "id string, ts timestamp, metrics struct<temperature double, humidity double>",
    )


def test_gapfill_locf_fills_interior_gaps_only(spark):
    from iotstream.ext.temporal import gapfill_locf

    df = _sensor_frame(
        spark,
        [
            ("a", 0, 10.0),
            ("a", 0, 20.0),  # same bucket → avg 15.0
            ("a", 3, 40.0),  # minutes 1-2 are gaps
            ("b", 5, 9.0),   # single observation → single row, no fill
        ],
    )
    out = {
        (r.id, r.bucket.minute): (r.temperature, r.filled)
        for r in gapfill_locf(df).collect()
    }
    assert out[("a", 0)] == (15.0, False)
    assert out[("a", 1)] == (15.0, True)   # LOCF carries the bucket avg
    assert out[("a", 2)] == (15.0, True)
    assert out[("a", 3)] == (40.0, False)
    assert out[("b", 5)] == (9.0, False)
    # span-bounded: nothing before first or after last observation
    assert len(out) == 5


def test_gapfill_locf_wider_buckets_align_to_epoch(spark):
    from iotstream.ext.temporal import gapfill_locf

    df = _sensor_frame(
        spark,
        [("a", 7, 1.0), ("a", 130, 3.0)],  # 12:07 and 14:10
    )
    rows = sorted(
        gapfill_locf(df, bucket_width="60 minutes").collect(),
        key=lambda r: r.bucket,
    )
    # hour-aligned buckets 12:00, 13:00, 14:00
    assert [r.bucket.hour for r in rows] == [12, 13, 14]
    assert [r.bucket.minute for r in rows] == [0, 0, 0]
    assert [r.temperature for r in rows] == [1.0, 1.0, 3.0]
    assert [r.filled for r in rows] == [False, True, False]


def test_continuous_rollup_matches_direct_hour_agg(spark):
    """Re-aggregating minute partials must equal aggregating raw rows
    straight to the hour (decomposable-aggregate correctness)."""
    from iotstream.ext.temporal import continuous_rollup
    from iotstream.schemas import load_table, use_utc
    from iotstream.sensorize import sensorize

    use_utc(spark)
    sensor = sensorize(load_table(spark, SF_DIR, "events"))
    rolled = {
        (r["id"], r["hour_start"]): (
            r["max_temp"], r["min_temp"], r["avg_temp"], r["n_readings"]
        )
        for r in continuous_rollup(sensor).collect()
    }
    t = F.col("metrics.temperature")
    direct = {
        (r["id"], r["hour_start"]): (
            r["max_temp"], r["min_temp"], r["avg_temp"], r["n_readings"]
        )
        for r in sensor.groupBy(
            "id", F.date_trunc("hour", "ts").alias("hour_start")
        )
        .agg(
            F.max(t).alias("max_temp"),
            F.min(t).alias("min_temp"),
            F.round(F.avg(t), 6).alias("avg_temp"),
            F.count(F.lit(1)).alias("n_readings"),
        )
        .collect()
    }
    assert rolled == direct


def test_ewma_matches_pandas_reference(spark):
    """applyInPandas EWMA must equal a driver-side pandas computation
    over the identical ordering — exact, not tolerance-based."""
    import pandas as pd

    from iotstream.ext.temporal import ewma_smooth
    from iotstream.schemas import load_table, use_utc
    from iotstream.sensorize import sensorize

    use_utc(spark)
    sensor = sensorize(load_table(spark, SF_DIR, "events"))
    got = (
        ewma_smooth(sensor, alpha=0.2)
        .toPandas()
        .sort_values(["id", "ts", "messageId"])
        .reset_index(drop=True)
    )
    flat = (
        sensor.selectExpr(
            "id", "messageId", "ts", "metrics.temperature AS temperature"
        )
        .toPandas()
        .sort_values(["id", "ts", "messageId"])
        .reset_index(drop=True)
    )
    import numpy as np

    expect = flat.assign(
        ewma_t=flat.groupby("id")["temperature"]
        .transform(lambda s: s.ewm(alpha=0.2, adjust=False).mean())
        # half-up at 6 decimals, matching the kernel's oracle-portable
        # rounding (see ewma_smooth)
        .transform(lambda s: np.floor(s * 1e6 + 0.5) / 1e6)
    )
    pd.testing.assert_frame_equal(got, expect, check_like=True)


def test_ewma_null_id_recursion_survives_arrow_batch_splits(spark):
    """The NULL-id group's carried state must survive Arrow batch
    boundaries: pandas labels the dropna=False missing group NaN while
    Arrow hands NULL string ids back as None, so an unnormalized carry
    key silently restarts the NULL group's recursion at every batch
    (~10k rows in production; forced to 7 rows here). Regression for
    the r11 ADVICE item on iotstream/ext/temporal.py."""
    import numpy as np
    import pandas as pd

    from iotstream.ext.temporal import ewma_smooth

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        # 30 NULL-id rows interleaved with a real sensor: both timelines
        # span many 7-row batches after the id-partitioned sort.
        rows = [
            (
                None if k % 2 == 0 else "s1",
                f"m{k:03d}",
                T0 + dt.timedelta(seconds=k),
                (k * 7 % 13, 0),
            )
            for k in range(60)
        ]
        sensor = spark.createDataFrame(
            rows,
            "id string, messageId string, ts timestamp, "
            "metrics struct<temperature long, humidity long>",
        )
        got = (
            ewma_smooth(sensor, alpha=0.2)
            .toPandas()
            .sort_values(["id", "ts", "messageId"], na_position="first")
            .reset_index(drop=True)
        )
        flat = pd.DataFrame(
            {
                "id": [r[0] for r in rows],
                "messageId": [r[1] for r in rows],
                "ts": [r[2] for r in rows],
                "temperature": [r[3][0] for r in rows],
            }
        ).sort_values(["id", "ts", "messageId"], na_position="first")
        expect = flat.assign(
            ewma_t=flat.groupby("id", dropna=False)["temperature"]
            .transform(lambda s: s.ewm(alpha=0.2, adjust=False).mean())
            .transform(lambda s: np.floor(s * 1e6 + 0.5) / 1e6)
        ).reset_index(drop=True)
        pd.testing.assert_frame_equal(got, expect, check_like=True)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def _sensor_mid(spark, rows):
    """rows: (id, minute_offset, temperature) — includes messageId."""
    return spark.createDataFrame(
        [
            (i, f"{i}-{n}", T0 + dt.timedelta(minutes=m), (v, 0))
            for n, (i, m, v) in enumerate(rows)
        ],
        "id string, messageId string, ts timestamp, "
        "metrics struct<temperature long, humidity long>",
    )


def test_time_weighted_avg_weights_by_hold_time(spark):
    from iotstream.ext.temporal import time_weighted_avg

    # Readings at 0h/1h/4h: 10 held 1 h, 40 held 3 h; the final sample
    # gets zero weight (bucket integral ends at the last point).
    df = _sensor_mid(spark, [("s", 0, 10), ("s", 60, 40), ("s", 240, 99)])
    out = time_weighted_avg(df).collect()
    assert len(out) == 1
    assert out[0].n_readings == 3
    assert out[0].twa_temperature == (10 * 1 + 40 * 3) / 4


def test_time_weighted_avg_single_sample_degenerates_to_value(spark):
    from iotstream.ext.temporal import time_weighted_avg

    out = time_weighted_avg(_sensor_mid(spark, [("s", 0, 37)])).collect()
    assert out[0].twa_temperature == 37.0 and out[0].n_readings == 1


def test_interpolate_linear_interior_gap(spark):
    from iotstream.ext.temporal import interpolate_linear

    # Observations in 60-min buckets 0 and 3 → buckets 1, 2 are the
    # straight line between 10 and 40.
    df = _sensor_mid(spark, [("s", 0, 10), ("s", 180, 40)])
    rows = sorted(
        interpolate_linear(df, bucket_width="60 minutes").collect(),
        key=lambda r: r.bucket,
    )
    assert [r.temperature for r in rows] == [10.0, 20.0, 30.0, 40.0]
    assert [r.filled for r in rows] == [False, True, True, False]


def test_interpolate_linear_single_observation_and_adjacent(spark):
    from iotstream.ext.temporal import interpolate_linear

    # Sensor "a": one observation → exactly one output row, not filled.
    # Sensor "b": observations in adjacent buckets → no synthetic rows.
    df = _sensor_mid(
        spark, [("a", 0, 7), ("b", 0, 10), ("b", 60, 20)]
    )
    rows = sorted(
        interpolate_linear(df, bucket_width="60 minutes").collect(),
        key=lambda r: (r.id, r.bucket),
    )
    assert [(r.id, r.temperature, r.filled) for r in rows] == [
        ("a", 7.0, False),
        ("b", 10.0, False),
        ("b", 20.0, False),
    ]


def test_rate_of_change_per_hour_units_and_null_guard(spark):
    from iotstream.ext.temporal import rate_of_change

    df = _sensor_mid(spark, [("a", 0, 10), ("a", 120, 20), ("b", 0, 50)])
    out = {r.id: r for r in rate_of_change(df).collect()}
    assert out["a"].temp_rate_per_hour == 5.0  # +10 over 2 h
    assert out["b"].temp_rate_per_hour is None  # zero-width span
    assert out["b"].n_readings == 1


def test_interp_rounding_chain_negative_tie_parity(spark):
    """The interpolate_linear Spark kernel and its DuckDB oracle must
    use the IDENTICAL sign-aware HALF_AWAY chain — a sign-unaware
    floor(x*1e6+0.5) diverges on negative 7th-decimal ties and on tiny
    negatives (-0.0 vs 0.0, which the driver's %.9g value hash formats
    differently). Latent on the 0..80-degree fixture; this pins the
    parity on the exact adversarial values."""
    import duckdb

    vals = [-1.2345675, -5e-07, -2.5e-07, 1.2345675, 0.0, -3.0000005, 79.9999995]
    df = spark.createDataFrame([(v,) for v in vals], "raw double")
    raw = F.col("raw")
    got = {
        r["raw"]: r["r6"]
        for r in df.select(
            "raw",
            (
                F.signum(raw)
                * F.floor(F.abs(raw) * 1000000.0 + F.lit(0.5))
                / 1000000.0
            ).alias("r6"),
        ).collect()
    }
    for v in vals:
        (exp,) = duckdb.sql(
            f"SELECT sign(CAST({v!r} AS DOUBLE)) * "
            f"floor(abs(CAST({v!r} AS DOUBLE)) * 1000000.0 + 0.5) "
            "/ 1000000.0"
        ).fetchone()
        assert f"{got[v]:.9g}" == f"{exp:.9g}", (v, got[v], exp)


def test_interval_follow_nan_follower_counts_but_does_not_sum(spark):
    """Finite-measures contract on the SUM only (r13 reach audit): a
    follower with a NaN/Inf value is still an event — n_follow counts
    it — but the exact-DECIMAL sum is defined over finite inputs only.
    Before the explicit CASE, Spark's CAST silently NULLed NaN while
    the DuckDB twin raised on the same row."""
    nan, inf = float("nan"), float("inf")
    ev = _ev(
        spark,
        [
            (1, 0, 7, "error", 0.0),
            (2, 60, 7, "view", nan),
            (3, 120, 7, "view", 5.0),
            (4, 180, 7, "view", inf),
        ],
    )
    out = {r.event_id: r for r in interval_follow(ev).collect()}
    assert out[1].n_follow == 3  # NaN and Inf followers still count
    assert out[1].follow_value == 5.0  # only the finite value sums


def test_interval_follow_all_nonfinite_followers_sum_null(spark):
    ev = _ev(
        spark,
        [
            (1, 0, 7, "error", 0.0),
            (2, 60, 7, "view", float("nan")),
        ],
    )
    row = interval_follow(ev).collect()[0]
    assert row.n_follow == 1
    assert row.follow_value is None  # no fabricated 0


def test_gapfill_bucket_width_units(spark):
    """Hour and day widths bucket by that unit, epoch-aligned — not by
    N minutes. Three readings over two days give three day rows."""
    from iotstream.ext.temporal import gapfill_locf, interpolate_linear

    days = _sensor_frame(spark, [("a", 0, 10.0), ("a", 1440, 20.0), ("a", 2880, 30.0)])
    rows = sorted(gapfill_locf(days, bucket_width="1 day").collect(), key=lambda r: r.bucket)
    assert [r.bucket for r in rows] == [dt.datetime(2024, 1, d) for d in (1, 2, 3)]
    assert [(r.temperature, r.filled) for r in rows] == [
        (10.0, False), (20.0, False), (30.0, False),
    ]

    hours = _sensor_frame(spark, [("a", 0, 1.0), ("a", 250, 3.0)])  # 12:00, 16:10
    rows = sorted(gapfill_locf(hours, bucket_width="2 hours").collect(), key=lambda r: r.bucket)
    assert [r.bucket.hour for r in rows] == [12, 14, 16]
    assert [r.filled for r in rows] == [False, True, False]

    ends = _sensor_frame(spark, [("a", 0, 10.0), ("a", 2880, 30.0)])
    rows = sorted(
        interpolate_linear(ends, bucket_width="1 day").collect(), key=lambda r: r.bucket
    )
    assert [r.bucket.day for r in rows] == [1, 2, 3]
    assert [(r.temperature, r.filled) for r in rows] == [
        (10.0, False), (20.0, True), (30.0, False),
    ]


def test_time_weighted_avg_hour_buckets_floor_to_the_hour(spark):
    from iotstream.ext.temporal import time_weighted_avg

    # 03:01 and 03:31 on Jan 2: one 03:00 bucket; 10 held 30 min, the
    # final sample gets zero weight
    df = _sensor_mid(spark, [("s", 901, 10), ("s", 931, 40)])
    out = time_weighted_avg(df, bucket_width="60 minutes").collect()
    assert [(r.bucket, r.n_readings, r.twa_temperature) for r in out] == [
        (dt.datetime(2024, 1, 2, 3, 0), 2, 10.0)
    ]


def test_bucket_width_rejects_other_units(spark):
    import pytest

    from iotstream.ext.temporal import gapfill_locf, interpolate_linear, time_weighted_avg

    df = _sensor_mid(spark, [("s", 0, 10)])
    for fn in (gapfill_locf, interpolate_linear, time_weighted_avg):
        for width in ("1 week", "30 seconds", "minute", "0 minutes"):
            with pytest.raises(ValueError):
                fn(df, bucket_width=width)
