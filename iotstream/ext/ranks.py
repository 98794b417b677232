"""Exact global ``row_number`` / ``ntile`` / ``percent_rank`` over a
total order, without a single-partition window.

``row_number() over (order by ...)`` with no partition key funnels the
whole table through one task. ``with_global_ranks`` is the entry point:
it materializes its input once, measures the row count in that same
action, sizes the rank width from the count, and appends ``_total``
(a literal) plus one global row-number column per named order.

``with_global_row_number`` is the kernel. At width 1 it is one lazy
``repartition(1)`` + in-task sort + numbering pass. At width > 1:

1. ``repartitionByRange`` + ``sortWithinPartitions`` on the sort key —
   partition i holds a contiguous, ordered slice of the total order
   (boundaries come from sampling; where a row lands does not affect
   its final rank, only load balance);
2. per-partition local numbering via a narrow Arrow ``mapInPandas``
   pass (a running counter per partition, partition id from
   ``TaskContext``) — no second table-sized shuffle;
3. the numbered frame is ``localCheckpoint``-ed once, so the
   per-partition count table and the main join side read the same
   materialized partitions (correctness does not depend on two range
   exchanges sampling the same boundaries);
4. per-partition row counts — one row per partition, bounded by the
   width, never by data size — are prefix-summed on the driver and
   broadcast back as a tiny offset table added to the local rank.

Both regimes are bit-identical to the builtin window for any total
order (end the sort key with a unique column). ``ntile`` and
``percent_rank`` derive from the global row number and the scalar
total, matching Spark's builtins exactly: ntile's first ``N % n``
buckets take one extra row; percent_rank = (rank-1)/(N-1), 0.0 for a
single row (rank == row_number under a total order).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from iotstream.ext import checkpoint_observed

#: Rows per rank partition when sizing the width from a measured count.
ROWS_PER_PARTITION = 250_000


def _rank_width(spark, total_rows: int) -> int:
    """~``ROWS_PER_PARTITION`` rows per partition, floored at 1 (the
    single-partition regime) and capped at 32× cluster parallelism."""
    return max(
        1,
        min(
            spark.sparkContext.defaultParallelism * 32,
            -(-total_rows // ROWS_PER_PARTITION),
        ),
    )


def with_global_ranks(df: DataFrame, **orders: list[Column]) -> DataFrame:
    """Append ``_total`` (the row count, a literal) and, for each
    ``name=order_by``, an exact 1-based global ``row_number`` column
    ``name`` over ``order_by`` (a total order — end it with a unique
    tiebreaker).

    Eager: ``df`` is materialized once, and its row count is observed
    by that same action. The count sizes one width shared by every
    order, so a table that fits one task takes the lazy
    single-partition regime and a large one fans out linearly."""
    df, seen = checkpoint_observed(df, n=F.count(F.lit(1)))
    total = seen["n"]
    width = _rank_width(df.sparkSession, total)
    df = df.withColumn("_total", F.lit(total))
    for out, order_by in orders.items():
        df = with_global_row_number(df, order_by, width, out)
    return df


def with_global_row_number(
    df: DataFrame,
    order_by: list[Column],
    num_partitions: int,
    out: str = "_rn",
) -> DataFrame:
    """Append exact 1-based global ``row_number`` over ``order_by``
    (a total order — end it with a unique tiebreaker) as ``out``,
    ranking on ``num_partitions`` partitions.

    Width 1 is lazy: one job when actioned. Width > 1 is eager: it
    materializes the numbered frame (``localCheckpoint``) and collects
    the per-partition counts. Inputs with an expensive lineage should
    be materialized first (``with_global_ranks`` does), since the
    range boundaries are sampled in a job of their own."""
    import numpy as np

    spark = df.sparkSession
    if num_partitions == 1:
        ranged1 = df.repartition(1).sortWithinPartitions(*order_by)
        schema1 = StructType(
            list(df.schema.fields) + [StructField(out, LongType())]
        )

        def number_single(batches):
            seen = 0
            for pdf in batches:
                k = len(pdf)
                pdf = pdf.assign(
                    **{out: np.arange(seen + 1, seen + k + 1, dtype="int64")}
                )
                seen += k
                yield pdf

        return ranged1.mapInPandas(number_single, schema=schema1)
    ranged = df.repartitionByRange(num_partitions, *order_by).sortWithinPartitions(
        *order_by
    )

    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("_pid", LongType()), StructField("_lrn", LongType())]
    )

    def number(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seen = 0
        for pdf in batches:
            k = len(pdf)
            pdf = pdf.assign(
                _pid=np.int64(pid),
                _lrn=np.arange(seen + 1, seen + k + 1, dtype="int64"),
            )
            seen += k
            yield pdf

    local = ranged.mapInPandas(number, schema=out_schema).localCheckpoint()
    # one row per partition — bounded by the width, not data size, so
    # the exclusive prefix-sum is driver-side work
    counts = local.groupBy("_pid").agg(F.max("_lrn").alias("_cnt")).collect()
    acc = 0
    offsets = []
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((r["_pid"], acc))
        acc += r["_cnt"]
    prefix = spark.createDataFrame(offsets, "_pid long, _off long")
    return (
        local.join(F.broadcast(prefix), "_pid")
        .withColumn(out, F.col("_off") + F.col("_lrn"))
        .drop("_pid", "_lrn", "_off")
    )


def ntile_expr(rn: Column, total: Column, n: int) -> Column:
    """Spark-equivalent ``ntile(n)`` from a global row number and the
    scalar row count: bucket sizes are total//n, with the first
    total%n buckets taking one extra row."""
    base = (total / n).cast("long")  # floor for non-negative totals
    rem = total % n
    big = (base + 1) * rem  # rows covered by the (base+1)-sized buckets
    return (
        F.when(rn <= big, F.ceil(rn / (base + 1)))
        .otherwise(rem + F.ceil((rn - big) / F.greatest(base, F.lit(1))))
        .cast("long")
    )


def percent_rank_expr(rn: Column, total: Column) -> Column:
    """Spark-equivalent ``percent_rank`` under a total order (rank ==
    row_number): (rn − 1) / (N − 1), 0.0 when N == 1."""
    return F.when(total > 1, (rn - 1) / (total - 1)).otherwise(F.lit(0.0))
