"""EXT — temporal joins the reference cannot express at all.

Two operators a training-data / IoT analytics pipeline needs constantly:

- **as-of join** (``asof_last_purchase``): attach to each left row the
  most recent right row at-or-before its timestamp, per key. Spark has
  no ASOF JOIN; the scalable formulation is NOT a join at all but a
  union + ordered window: tag both sides, sort within key by time, and
  carry the last-seen right row forward with ``last(..., ignorenulls)``.
  ONE shuffle on the key, zero join explosion, no range probing —
  survives any corpus size because each key's timeline is processed
  linearly.

- **interval join** (``interval_follow``): pair each anchor row with
  every row of the same key inside a following time window. A naive
  range join is O(n²) per key; the scale path buckets time into
  window-sized bins, equi-joins on (key, bin) with the anchor exploded
  to the two bins its window can reach, then applies the exact range
  predicate. Candidate count scales with true temporal density, not
  row-count² — the same blocking idea as LSH banding in ``dedup``.

- **gap-fill + LOCF** (``gapfill_locf``): densify a per-sensor time
  series to one row per bucket, carrying the last observation forward
  into empty buckets (TimescaleDB ``time_bucket_gapfill`` + ``locf``;
  the hypertable-rollup op the reference's KSQL layer cannot express).
  Missing buckets are generated with ``sequence()`` + ``explode`` from
  each sensor's own observed segments — distributed, no driver-side
  calendar, output bounded by span/width per key rather than by any
  global range. Both shuffles (bucket agg, segment window) are keyed on
  the sensor id and see only observed buckets, never the dense output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from iotstream.schemas import event_time_only


def asof_last_purchase(events: DataFrame) -> DataFrame:
    """For every click, the most recent purchase by the same user
    at-or-before the click (inclusive, like DuckDB ``ASOF JOIN ...
    ON c.ts >= p.ts``). Clicks with no prior purchase keep NULLs
    (left-outer semantics)."""
    ev = events.select("event_id", "ts", "user_id", "event_type", "value")
    both = ev.filter(F.col("event_type").isin("click", "purchase")).withColumn(
        "is_left", (F.col("event_type") == "click").cast("int")
    )
    # At equal ts the purchase sorts first (is_left asc) → inclusive >=.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("is_left"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    purchase = F.when(
        F.col("is_left") == 0,
        F.struct(
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        ),
    )
    return (
        both.withColumn("p", F.last(purchase, ignorenulls=True).over(w))
        .filter(F.col("is_left") == 1)
        .select(
            "event_id",
            "ts",
            "user_id",
            "value",
            F.col("p.purchase_event_id").alias("purchase_event_id"),
            F.col("p.purchase_ts").alias("purchase_ts"),
            F.col("p.purchase_value").alias("purchase_value"),
        )
    )


def interval_follow(
    events: DataFrame, anchor_type: str = "error", window_seconds: int = 1800
) -> DataFrame:
    """Per anchor event: count + exact sum of the same user's events in
    the (anchor.ts, anchor.ts + window] interval. Bucketed equi-join —
    the anchor side explodes to the two window-sized time bins its
    interval can touch, so the shuffle key is (user_id, bin) and no
    per-key cross product ever forms. Anchors with no followers are
    dropped (inner-join semantics, matching the SQL twin)."""
    ws = F.lit(window_seconds)
    ep = lambda c: F.unix_timestamp(F.col(c))  # noqa: E731  (second precision)
    follow = events.select(
        "user_id",
        F.col("ts").alias("f_ts"),
        F.col("value").alias("f_value"),
    ).withColumn("bin", F.floor(ep("f_ts") / ws))
    anchors = (
        events.filter(F.col("event_type") == anchor_type)
        .select("event_id", "user_id", F.col("ts").alias("a_ts"))
        .withColumn(
            "bin",
            F.explode(
                F.array(F.floor(ep("a_ts") / ws), F.floor(ep("a_ts") / ws) + 1)
            ),
        )
    )
    pairs = anchors.join(follow, ["user_id", "bin"]).filter(
        (F.col("f_ts") > F.col("a_ts"))
        & (F.col("f_ts") <= F.col("a_ts") + F.make_dt_interval(secs=ws))
    )
    # finite-measures contract on the SUM only: a
    # follower with a NaN/±Inf value is still an event — it counts in
    # n_follow — but the exact-DECIMAL sum is only defined over finite
    # inputs. Spark's CAST silently NULLs NaN (the row would vanish
    # from the sum with no declared rule) while DuckDB raises; the
    # explicit CASE gives both engines the same clause. NULL values
    # are skipped by SUM identically on both engines already.
    fv = F.col("f_value")
    finite_fv = ~F.isnan(fv) & (F.abs(fv) != F.lit(float("inf")))
    return pairs.groupBy("event_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_follow"),
        F.sum(F.when(finite_fv, fv).cast("decimal(12,4)"))
        .cast("double")
        .alias("follow_value"),
    )


_UNIT_SECONDS = {"minute": 60, "hour": 3600, "day": 86400}


def _bucket(width: str) -> tuple[Column, int]:
    """(start of the ``width`` bucket holding ``ts``, width in seconds)
    for ``width`` = "N minute(s)|hour(s)|day(s)", N ≥ 1. Buckets are
    aligned to the Unix epoch and floor on both sides of it. Any other
    unit raises ValueError."""
    n, _, unit = width.strip().partition(" ")
    unit = unit.strip()
    if not n.isdigit() or int(n) < 1 or unit.rstrip("s") not in _UNIT_SECONDS:
        raise ValueError(
            f"bucket width must be 'N minute(s)|hour(s)|day(s)', got {width!r}"
        )
    secs = int(n) * _UNIT_SECONDS[unit.rstrip("s")]
    # pmod, not %: Spark's % takes the dividend's sign, so a pre-epoch
    # second would round up into the next bucket.
    epoch = F.unix_timestamp(F.col("ts"))
    return F.timestamp_seconds(epoch - F.pmod(epoch, F.lit(secs))), secs


def _gapfill_segments(
    sensor: DataFrame, value: str, bucket_width: str
) -> DataFrame:
    """The dense per-sensor bucket series behind the gap-fill operators:
    one row per ``bucket_width`` bucket in each sensor's [first, last]
    observed span, as (id, bucket, seg_start, obs_v, nxt_bucket, nxt_v).
    Each observed bucket owns the segment [seg_start, nxt_bucket) up to
    the sensor's next observed bucket (the last owns only itself);
    obs_v is the segment's observed AVG(value) rounded to 6 and nxt_v
    the next segment's (NULL for the last). Readings with a NULL ``ts``
    have no bucket and are ignored.

    Only observed rows are aggregated and windowed; the dense rows come
    from a narrow explode of each segment, so no shuffle or window ever
    sees the densified output."""
    bucket, secs = _bucket(bucket_width)
    obs = (
        event_time_only(sensor)
        .groupBy(F.col("id"), bucket.alias("bucket"))
        .agg(F.round(F.avg(value), 6).alias("obs_v"))
    )
    w = Window.partitionBy("id").orderBy("bucket")
    seg = obs.select(
        "id",
        F.col("bucket").alias("seg_start"),
        "obs_v",
        F.lead("bucket").over(w).alias("nxt_bucket"),
        F.lead("obs_v").over(w).alias("nxt_v"),
    )
    seg_end = F.coalesce(
        F.timestamp_seconds(F.unix_timestamp("nxt_bucket") - F.lit(secs)),
        F.col("seg_start"),
    )
    step = F.expr(f"interval {secs} seconds")
    return seg.select(
        "id",
        "seg_start",
        "obs_v",
        "nxt_bucket",
        "nxt_v",
        F.explode(F.sequence(F.col("seg_start"), seg_end, step)).alias("bucket"),
    )


def gapfill_locf(
    sensor: DataFrame,
    value: str = "metrics.temperature",
    bucket_width: str = "1 minute",
) -> DataFrame:
    """Dense per-sensor series (id, bucket, temperature, filled): one
    row per ``bucket_width`` bucket ("N minute(s)|hour(s)|day(s)",
    epoch-aligned) in each sensor's [first, last] observed span;
    temperature is the bucket's AVG(``value``) where observed, else the
    last observation carried forward, and ``filled`` marks the
    synthesized rows. TimescaleDB ``time_bucket_gapfill(...) +
    locf(avg(...))`` semantics."""
    dense = _gapfill_segments(sensor, value, bucket_width)
    return dense.select(
        "id",
        "bucket",
        F.col("obs_v").alias("temperature"),
        (F.col("bucket") != F.col("seg_start")).alias("filled"),
    )


def continuous_rollup(sensor: DataFrame) -> DataFrame:
    """Hierarchical (continuous-aggregate-style) rollup: hour-level
    stats derived FROM the minute-level materialization, not from raw
    rows — TimescaleDB's continuous aggregate / hypertable rollup
    pattern, which the reference's KSQL layer cannot chain.

    The hour pass re-aggregates decomposable partials (max of maxes,
    min of mins, sum of sums / sum of counts for the average), so at
    production scale it reads the minute table — orders of magnitude
    smaller than raw — and stays exact: the partial sums are BIGINT,
    so re-aggregation is order-independent with no float drift. Both
    shuffles key on (id, bucket) and the second input is already tiny.
    """
    t = F.col("metrics.temperature")
    minute = sensor.groupBy(
        "id", F.window("ts", "1 minute").alias("w")
    ).agg(
        F.max(t).alias("max_t"),
        F.min(t).alias("min_t"),
        F.sum(t).alias("sum_t"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        minute.groupBy(
            "id", F.date_trunc("hour", F.col("w.start")).alias("hour_start")
        )
        .agg(
            F.max("max_t").alias("max_temp"),
            F.min("min_t").alias("min_temp"),
            F.round(F.sum("sum_t") / F.sum("cnt"), 6).alias("avg_temp"),
            F.sum("cnt").alias("n_readings"),
        )
    )


def ewma_smooth(sensor: DataFrame, alpha: float = 0.2) -> DataFrame:
    """Per-sensor exponentially weighted moving average — the
    recursive smoother (s_i = α·x_i + (1−α)·s_{i−1}) that SQL window
    frames cannot express.

    Shape: ONE shuffle (repartition by id + sortWithinPartitions), then
    ``mapInPandas`` streams each partition's Arrow batches through
    pandas' C *grouped* ewm kernel — one kernel call per batch covering
    every sensor in it, instead of one Python round-trip per sensor
    (IoT cardinalities mean thousands of tiny groups; per-group
    ``applyInPandas`` pays frame-construction overhead 1000×). A sensor
    whose timeline spans batch boundaries continues exactly via a
    carried seed row: ewm(adjust=False) starts at its first value, so
    prepending the previous batch's (unrounded) smoothed value replays
    the recursion bit-for-bit. State is O(sensors-per-partition)
    floats — no group ever needs to fit in memory whole, which is
    strictly weaker than the usual per-key-history contract."""
    import numpy as np
    import pandas as pd

    # A recursive smoother is order-defined: rows with NULL event time
    # have no position in the recursion.
    flat = event_time_only(sensor).select(
        "id", "messageId", "ts", F.col("metrics.temperature").alias("temperature")
    )
    spark = sensor.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    rep = flat.repartition(n, "id").sortWithinPartitions("id", "ts", "messageId")

    def smooth(batches):
        carry: dict = {}  # id (None for the NULL group) -> last smoothed value
        # Missing-key normalizer: pandas labels the dropna=False NULL
        # group NaN (a float) while Arrow delivers NULL string ids as
        # None — without one canonical key the NULL group's carried
        # state is stored under NaN and looked up under None, silently
        # restarting its recursion at every Arrow batch boundary.
        norm = lambda k: None if pd.isna(k) else k  # noqa: E731
        for pdf in batches:
            if pdf.empty:
                continue
            seeds = [s for s in pdf["id"].unique() if norm(s) in carry]
            if seeds:
                seed_df = pd.DataFrame(
                    {
                        "id": seeds,
                        "messageId": "",
                        "ts": pd.NaT,
                        "temperature": 0,
                        "_x": [carry[norm(s)] for s in seeds],
                        "_seed": True,
                    }
                )
                work = pd.concat(
                    [seed_df, pdf.assign(_x=pdf["temperature"].astype("float64"), _seed=False)],
                    ignore_index=True,
                )
            else:
                work = pdf.assign(_x=pdf["temperature"].astype("float64"), _seed=False)
            # Grouped C kernel: seed rows sort first within their group
            # (concat order), so each group's recursion resumes from the
            # carried state; row order within groups is already (ts,
            # messageId) from sortWithinPartitions. dropna=False: a NULL
            # sensor id is a legitimate SQL group (pandas' default
            # silently drops it — and crashes outright on a batch whose
            # ids are ALL null: zero groups to concatenate).
            s = (
                work.groupby("id", sort=False, dropna=False)["_x"]
                .ewm(alpha=alpha, adjust=False)
                .mean()
                .reset_index(level=0, drop=True)
            )
            work["_s"] = s
            carry.update(
                (norm(k), v)
                for k, v in work.groupby("id", sort=False, dropna=False)["_s"]
                .last()
                .items()
            )
            out = work[~work["_seed"]]
            yield pd.DataFrame(
                {
                    "id": out["id"],
                    "messageId": out["messageId"],
                    "ts": out["ts"],
                    "temperature": out["temperature"],
                    # half-AWAY at 6 decimals (not .round's banker's):
                    # SQL engines round half away from zero, and the
                    # recursive-CTE oracle must land on the identical
                    # value when s*1e6 sits exactly on a half-integer.
                    # copysign makes it sign-aware — plain floor(x+.5)
                    # rounds negative ties toward +inf, diverging from
                    # the oracle for below-zero temperatures.
                    "ewma_t": np.copysign(
                        np.floor(np.abs(out["_s"]) * 1e6 + 0.5), out["_s"]
                    )
                    / 1e6,
                }
            )

    return rep.mapInPandas(
        smooth,
        "id string, messageId string, ts timestamp, "
        "temperature bigint, ewma_t double",
    )

def time_weighted_avg(
    sensor: DataFrame,
    value: str = "metrics.temperature",
    bucket_width: str = "1 day",
) -> DataFrame:
    """Time-weighted average per sensor per bucket — TimescaleDB's
    ``time_weight('locf') → average()`` over irregular samples, which
    plain AVG gets wrong when readings are unevenly spaced (a value
    held for 9 h must count 9× more than one replaced after 1 h).

    Bucket-local LOCF integral: each reading holds its value until the
    sensor's NEXT reading inside the same bucket; the integral runs
    from the first to the last sample of the bucket and is divided by
    that observed span (carry-in from the previous bucket is not
    counted — documented deviation that keeps the op one ordered pass).
    Single-sample buckets (and zero-width spans) degenerate to the
    plain value, like TimescaleDB's ``average`` of a one-point weight.
    ``bucket_width`` is "N minute(s)|hour(s)|day(s)", epoch-aligned.

    Scale: the lead() window and the groupBy share the (id, bucket)
    partitioning — ONE shuffle; weights are exact integer microseconds
    and the numerator Σ(value·Δt) is a BIGINT sum (order-independent,
    < 2⁵³ for any realistic bucket), so the single final division is
    the only float op.
    """
    bucket, _ = _bucket(bucket_width)
    flat = sensor.select(
        "id",
        "messageId",
        "ts",
        bucket.alias("bucket"),
        F.col(value).alias("v"),
    )
    w = Window.partitionBy("id", "bucket").orderBy("ts", "messageId")
    dur = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    weighted = flat.withColumn("dur_us", dur)
    return (
        weighted.groupBy("id", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_readings"),
            F.sum(F.col("v") * F.col("dur_us")).alias("_num"),
            F.sum("dur_us").alias("_den"),
            F.min("v").alias("_fallback"),
        )
        .select(
            "id",
            "bucket",
            "n_readings",
            F.when(
                F.col("_den") > 0,
                F.round(
                    F.col("_num").cast("double") / F.col("_den").cast("double"), 6
                ),
            )
            .otherwise(F.col("_fallback").cast("double"))
            .alias("twa_temperature"),
        )
    )


def interpolate_linear(
    sensor: DataFrame,
    value: str = "metrics.temperature",
    bucket_width: str = "60 minutes",
) -> DataFrame:
    """Gap-fill with LINEAR interpolation (TimescaleDB
    ``time_bucket_gapfill + interpolate``): the ``gapfill_locf`` series
    with each missing bucket on the straight line between the
    surrounding observed buckets (every interior gap has both, since
    the span is anchored at observed endpoints). Arithmetic is
    exact-integer in x (epoch seconds), one float expression in y."""
    dense = _gapfill_segments(sensor, value, bucket_width)
    x = F.unix_timestamp("bucket")
    x0 = F.unix_timestamp("seg_start")
    x1 = F.unix_timestamp("nxt_bucket")
    is_obs = x == x0
    # sign(x)·floor(|x|·1e6 + 0.5)/1e6 instead of round(x, 6): engines
    # disagree on round() when the interpolated double sits exactly on a
    # 7th-decimal tie (Java rounds the shortest decimal repr, DuckDB the
    # scaled float); this explicit IEEE chain is bit-identical
    # everywhere, and the sign factor keeps it HALF_AWAY (matching SQL)
    # for negative temperatures too.
    raw = F.col("obs_v") + (F.col("nxt_v") - F.col("obs_v")) * (
        (x - x0).cast("double") / (x1 - x0).cast("double")
    )
    interp = (
        F.signum(raw) * F.floor(F.abs(raw) * 1000000.0 + F.lit(0.5)) / 1000000.0
    )
    return dense.select(
        "id",
        "bucket",
        F.when(is_obs, F.col("obs_v")).otherwise(interp).alias("temperature"),
        (~is_obs).alias("filled"),
    )


def rate_of_change(
    sensor: DataFrame,
    value: str = "metrics.temperature",
) -> DataFrame:
    """Per-sensor per-day rate of change — the PromQL ``rate()`` /
    TimescaleDB ``delta/duration`` idiom over irregular samples:
    (last − first) / observed span, scaled to per-hour units.

    min_by/max_by over the (ts, messageId) event-order struct — ONE
    partial-aggregating HashAggregate, no window sort (same plan shape
    as ``latest_reading``/``candlestick``); the division is the only
    float op, guarded against zero-width spans (single-sample days →
    NULL rate, count still reported).
    """
    order = F.struct("ts", "messageId")
    v = F.col(value)
    span_us = F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
    return (
        sensor.groupBy(
            "id", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_readings"),
            F.min_by(v, order).alias("first_v"),
            F.max_by(v, order).alias("last_v"),
            span_us.alias("_span_us"),
        )
        .select(
            "id",
            "day",
            "n_readings",
            F.when(
                F.col("_span_us") > 0,
                F.round(
                    (F.col("last_v") - F.col("first_v")).cast("double")
                    * 3600000000.0
                    / F.col("_span_us").cast("double"),
                    6,
                ),
            ).alias("temp_rate_per_hour"),
        )
    )
