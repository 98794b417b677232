"""Global-rank entry and kernel vs Spark's built-in analytic functions —
bit-equality under total orders in both rank regimes, including the
N < n ntile edge, single-row percent_rank and empty input — plus the
one-action materialize-and-measure helper."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from iotstream.ext import checkpoint_observed, ranks
from iotstream.ext.ranks import (
    ntile_expr,
    percent_rank_expr,
    with_global_ranks,
    with_global_row_number,
)


def _frame(spark, n):
    # values with heavy duplication so the ORDER (not the values)
    # exercises the tiebreaker; ids descending to fight scan order
    rows = [(i, (i * 7) % 5) for i in range(n - 1, -1, -1)]
    return spark.createDataFrame(rows, "id bigint, v bigint")


def test_global_row_number_matches_builtin(spark):
    df = _frame(spark, 137)
    order = [F.desc("v"), F.asc("id")]
    got = {
        r["id"]: r["_rn"]
        for r in with_global_row_number(df, order, num_partitions=7).collect()
    }
    want = {
        r["id"]: r["rn"]
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order))
        ).collect()
    }
    assert got == want


def test_ntile_and_percent_rank_match_builtin(spark):
    for n_rows, tiles in ((137, 10), (7, 10), (1, 4), (40, 4)):
        df = _frame(spark, n_rows).withColumn("_total", F.lit(n_rows))
        order = [F.desc("v"), F.asc("id")]
        ranked = with_global_row_number(df, order, num_partitions=5)
        got = {
            r["id"]: (r["t"], round(r["p"], 9))
            for r in ranked.select(
                "id",
                ntile_expr(F.col("_rn"), F.col("_total"), tiles).alias("t"),
                percent_rank_expr(F.col("_rn"), F.col("_total")).alias("p"),
            ).collect()
        }
        w = Window.orderBy(*order)
        want = {
            r["id"]: (r["t"], round(r["p"], 9))
            for r in _frame(spark, n_rows)
            .select(
                "id",
                F.ntile(tiles).over(w).cast("long").alias("t"),
                F.percent_rank().over(w).alias("p"),
            )
            .collect()
        }
        assert got == want, (n_rows, tiles)


def test_global_row_number_across_arrow_batches(spark):
    """The per-partition counter must continue across Arrow batches —
    force multi-batch partitions with a tiny maxRecordsPerBatch."""
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = _frame(spark, 200)
        order = [F.desc("v"), F.asc("id")]
        got = {
            r["id"]: r["_rn"]
            for r in with_global_row_number(df, order, num_partitions=3).collect()
        }
        want = {
            r["id"]: r["rn"]
            for r in df.withColumn(
                "rn", F.row_number().over(Window.orderBy(*order))
            ).collect()
        }
        assert got == want
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def _builtin(df, order, tiles):
    w = Window.orderBy(*order)
    return {
        r["id"]: (r["rn"], r["t"], round(r["p"], 9))
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rn"),
            F.ntile(tiles).over(w).cast("long").alias("t"),
            F.percent_rank().over(w).alias("p"),
        ).collect()
    }


@pytest.mark.parametrize("rows_per_partition", [250_000, 20])
def test_global_ranks_match_builtin_in_both_regimes(
    spark, monkeypatch, rows_per_partition
):
    """The default constant puts a small table in the single-partition
    regime; a tiny one makes the measured count size a width > 1, the
    range + prefix regime."""
    monkeypatch.setattr(ranks, "ROWS_PER_PARTITION", rows_per_partition)
    n_rows, tiles = 137, 10
    width = ranks._rank_width(spark, n_rows)
    assert (width == 1) == (rows_per_partition > n_rows)
    order = [F.desc("v"), F.asc("id")]
    ranked = with_global_ranks(_frame(spark, n_rows), _rn=order)
    rn, total = F.col("_rn"), F.col("_total")
    got = {
        r["id"]: (r["_rn"], r["t"], round(r["p"], 9))
        for r in ranked.select(
            "id",
            "_rn",
            ntile_expr(rn, total, tiles).alias("t"),
            percent_rank_expr(rn, total).alias("p"),
        ).collect()
    }
    assert got == _builtin(_frame(spark, n_rows), order, tiles)
    assert {r["_total"] for r in ranked.select("_total").collect()} == {n_rows}


def test_global_ranks_several_orders_in_one_call(spark, monkeypatch):
    """The rfm shape: three orders over one materialized input, each
    equal to its own builtin row_number, in both regimes."""
    orders = {
        "_a": [F.desc("v"), F.asc("id")],
        "_b": [F.asc("v"), F.desc("id")],
        "_c": [F.asc("id")],
    }
    for rows_per_partition in (250_000, 30):
        monkeypatch.setattr(ranks, "ROWS_PER_PARTITION", rows_per_partition)
        ranked = with_global_ranks(_frame(spark, 137), **orders).collect()
        for out, order in orders.items():
            want = {
                r["id"]: r["rn"]
                for r in _frame(spark, 137)
                .withColumn("rn", F.row_number().over(Window.orderBy(*order)))
                .collect()
            }
            assert {r["id"]: r[out] for r in ranked} == want, (
                out,
                rows_per_partition,
            )


def test_global_ranks_empty_input(spark):
    out = with_global_ranks(_frame(spark, 0), _rn=[F.asc("id")])
    assert out.columns == ["id", "v", "_total", "_rn"]
    assert out.collect() == []


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("keep", [37, 0])
def test_checkpoint_observed_one_action(spark, keep):
    """Materialize-and-measure fires exactly the jobs of the checkpoint
    alone and returns the exact count, 0 on empty input."""
    df = (
        spark.range(1000)
        .groupBy((F.col("id") % 37).alias("k"))
        .count()
        .filter(F.col("k") < keep)
    )
    alone = _jobs(spark, f"lc-alone-{keep}", df.localCheckpoint)
    got = []
    fired = _jobs(
        spark,
        f"lc-observed-{keep}",
        lambda: got.extend(checkpoint_observed(df, n=F.count(F.lit(1)))),
    )
    assert fired == alone
    out, seen = got
    assert seen == {"n": keep}
    assert out.count() == keep
