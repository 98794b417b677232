"""Distributed global-rank primitive vs Spark's built-in analytic
functions — bit-equality under total orders, including the N < n
ntile edge and single-row percent_rank."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from iotstream.ext.ranks import (
    ntile_expr,
    percent_rank_expr,
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


def test_global_row_number_empty_input(spark):
    df = _frame(spark, 0)
    out = with_global_row_number(df, [F.asc("id")]).collect()
    assert out == []
