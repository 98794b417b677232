"""EXT — product-analytics operators over the event stream.

Funnel conversion and cohort retention: the two queries every
event-analytics deployment of the reference's capability set runs
daily, and classic shuffle traps at scale. Both are built so every
stage shares ONE partitioning on ``user_id``:

- ``funnel``: ordered-stage conversion (view → click → purchase). The
  "first click AFTER the first view" dependency chain is expressed as
  stacked whole-partition window minima — Catalyst plans all three as
  Window ops over the same (user_id) shuffle+sort, so the per-user
  timeline is read once, never self-joined per stage (an N-stage
  funnel via self-joins is N shuffles and N join explosions).

- ``cohort_retention``: users bucketed by first-active week, distinct
  activity per (user, week), counts per (cohort, week-offset). The
  first-seen aggregate, the distinct, and the join all key on
  ``user_id``, so AQE reuses one exchange; the final rollup shuffles
  the already-tiny (cohort, offset) pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

FUNNEL_STAGES = ("view", "click", "purchase")


def funnel(events: DataFrame) -> DataFrame:
    """Per-stage user counts for the view → click → purchase funnel.

    A user converts to stage N at the first event of that type
    at-or-after their stage-N-1 conversion time (inclusive, matching
    the SQL twin). Returns (stage, users), one row per stage.
    """
    ev = events.select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    ty = F.col("event_type")
    s = ev.withColumn(
        "v_ts", F.min(F.when(ty == "view", F.col("ts"))).over(w)
    )
    s = s.withColumn(
        "c_ts",
        F.min(
            F.when((ty == "click") & (F.col("ts") >= F.col("v_ts")), F.col("ts"))
        ).over(w),
    )
    s = s.withColumn(
        "p_ts",
        F.min(
            F.when(
                (ty == "purchase") & (F.col("ts") >= F.col("c_ts")), F.col("ts")
            )
        ).over(w),
    )
    per_user = s.groupBy("user_id").agg(
        F.max("v_ts").alias("v"),
        F.max("c_ts").alias("c"),
        F.max("p_ts").alias("p"),
    )
    counts = per_user.agg(
        F.count("v").alias("nv"), F.count("c").alias("nc"), F.count("p").alias("np")
    )
    return counts.select(
        F.expr(
            "stack(3, 'view', nv, 'click_after_view', nc, "
            "'purchase_after_click', np) AS (stage, users)"
        )
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: for each first-active-week cohort, how
    many of its users were active 0, 1, 2, … weeks later. Returns
    (cohort_week, week_offset, active_users)."""
    ev = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    offset = (
        (F.unix_timestamp("wk") - F.unix_timestamp("cohort_week")) / 604800
    ).cast("long")
    return (
        ev.join(first, "user_id")
        .groupBy("cohort_week", offset.alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


def mad_outliers(sensor: DataFrame, k: float = 3.0) -> DataFrame:
    """Robust per-sensor outliers: |t − median(t)| > k · MAD(t), the
    median-absolute-deviation rule that, unlike the z-score, a single
    hot reading cannot drag.

    Exact two-pass shape: per-id medians are a dimension-sized
    aggregate (one row per sensor) that BROADCASTS back against the
    readings, so the big side never shuffles for either join; the two
    groupBys key on id like every other per-sensor stage. Medians of
    BIGINT temperatures land on exact halves (x.0/x.5 — binary-exact
    doubles), so the k·MAD comparison is deterministic cross-engine.
    """
    t = F.col("metrics.temperature")
    base = sensor.select(
        "id", "messageId", t.alias("temperature")
    )
    med = base.groupBy("id").agg(F.median("temperature").alias("med_t"))
    dev = base.join(F.broadcast(med), "id").withColumn(
        "absdev", F.abs(F.col("temperature") - F.col("med_t"))
    )
    mad = dev.groupBy("id").agg(F.median("absdev").alias("mad_t"))
    return (
        dev.join(F.broadcast(mad), "id")
        .filter(F.col("absdev") > F.lit(k) * F.col("mad_t"))
        .select("id", "messageId", "temperature", "med_t", "mad_t")
    )

def scd2_history(events: DataFrame) -> DataFrame:
    """Slowly-changing-dimension type-2 build from an event log — the
    CDC→warehouse op every training-data/analytics pipeline needs:
    collapse each user's event stream into status intervals
    [valid_from, valid_to) that change only when the event_type
    actually changes, with ``is_current`` on the open interval.

    Two stacked windows (change detection via lag, interval close via
    lead) share the user_id partitioning — the timeline never leaves
    its partition between them, and AQE coalesces the two sorts into
    the same exchange. Ties broken by event_id for determinism.
    Rows with NULL event time are excluded (schemas.event_time_only
    contract — an interval build needs a timeline position).
    """
    from iotstream.schemas import event_time_only

    events = event_time_only(events)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cur = events.select("user_id", "ts", "event_id", "event_type")
    changes = cur.withColumn(
        "_prev", F.lag("event_type").over(w)
    ).filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("event_type")))
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
    )


def rfm_segments(events: DataFrame) -> DataFrame:
    """RFM customer segmentation: per-user Recency (last purchase),
    Frequency (purchase count), Monetary (exact decimal revenue), each
    quartiled with ntile(4) → a 3-digit segment label (4=best).

    The three quartile ranks come from one
    ``ext/ranks.py::with_global_ranks`` call (no single-partition
    window; the per-user aggregate is materialized and counted once).
    Bit-identical to the ntile formulation the DuckDB oracle uses:
    every order is total (user_id tiebreaker), and monetary ranks on
    the exact DECIMAL sum.
    """
    from iotstream.ext.ranks import ntile_expr, with_global_ranks
    from iotstream.schemas import finite_measures

    p = (
        # finite-measures contract: value feeds the exact-decimal
        # Monetary sum (schemas.finite_measures)
        finite_measures(events, "value")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_purchase_ts"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("value").cast("decimal(12,4)")).alias("_mon"),
        )
    )
    p = with_global_ranks(
        p,
        _r_rn=[F.desc("last_purchase_ts"), F.asc("user_id")],
        _f_rn=[F.desc("frequency"), F.asc("user_id")],
        _m_rn=[F.desc("_mon"), F.asc("user_id")],
    )
    total = F.col("_total")
    return p.select(
        "user_id",
        "last_purchase_ts",
        "frequency",
        F.col("_mon").cast("double").alias("monetary"),
        # long casts: DuckDB's ntile yields int64, Spark's int32.
        (F.lit(5) - ntile_expr(F.col("_r_rn"), total, 4)).alias("r_score"),
        (F.lit(5) - ntile_expr(F.col("_f_rn"), total, 4)).alias("f_score"),
        (F.lit(5) - ntile_expr(F.col("_m_rn"), total, 4)).alias("m_score"),
    ).withColumn(
        "segment",
        F.concat_ws("", F.col("r_score"), F.col("f_score"), F.col("m_score")),
    )
