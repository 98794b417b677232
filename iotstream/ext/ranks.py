"""Distributed global ranking — exact row_number / ntile / percent_rank
over a TOTAL order without the single-partition window.

``row_number() over (order by ...)`` with no partition key funnels the
whole table through one task — the same plan shape `ext/packing.py`
documents for prefix sums, and the last one hiding in the analytics
pack (RFM ntiles, user-value deciles: user-level tables that reach
hundreds of millions of rows at corpus scale). Formulation:

1. ``repartitionByRange`` + ``sortWithinPartitions`` on the sort key —
   partition i holds a contiguous, ordered slice of the total order
   (boundaries come from sampling; WHERE a row lands does not affect
   its final rank, only load balance);
2. per-partition local numbering via a NARROW Arrow ``mapInPandas``
   pass (a running counter per partition, partition id from
   ``TaskContext``) — no second table-sized shuffle, unlike a window
   partitioned by the partition id, which Catalyst would re-shuffle
   by hash;
3. the numbered frame is ``localCheckpoint``-ed ONCE, then both
   consumers (the per-partition count table and the main join side)
   read the same materialized partitions — correctness must not
   depend on exchange reuse deduplicating two range exchanges whose
   sampled boundaries could otherwise differ;
4. per-partition row counts — STRICTLY bounded at one row per
   partition, i.e. by cluster parallelism, never by data size —
   prefix-summed driver-side and broadcast back as a tiny offset
   table added to the local rank. (An earlier draft used a
   single-partition window over the count table; driver-side is the
   same bounded work without WindowExec's all-to-one-partition
   machinery or its warning.)

Bit-identical to the naive global window for any total order (ties
impossible when the sort key ends in a unique column — every caller
here appends one), with the table-sized stages one shuffle + one
narrow pass. ``ntile``/``percent_rank`` derive from the global row
number and the scalar total, matching Spark's built-ins exactly:
ntile's first ``N % n`` buckets take one extra row; percent_rank =
(rank-1)/(N-1) (0.0 for a single row, and rank == row_number under a
total order).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def with_global_row_number(
    df: DataFrame,
    order_by: list[Column],
    out: str = "_rn",
    num_partitions: int | None = None,
    materialize_input: bool = True,
) -> DataFrame:
    """Append exact 1-based global ``row_number`` over ``order_by``
    (must be a total order — end it with a unique tiebreaker).

    Eager: materializes the numbered frame (``localCheckpoint``) so
    the count table and the main output are guaranteed to see the
    same range-partition boundaries.

    ``materialize_input=False`` skips the input ``localCheckpoint``
    for callers whose input is ALREADY materialized (or provably
    cheap): r7 added the unconditional pin for corpus-lineage inputs,
    but a caller stacking several ranks over one checkpointed base
    (``rfm_segments``) re-copied the base per call — pure fixed cost
    (VERDICT r7 item 3).

    SINGLE-PARTITION FAST PATH (r8): when the resolved width is 1 —
    callers size it from a MEASURED row count, so this is the
    "table provably fits one task" regime, not a plan-shape guess —
    the exact rank is one round-robin ``repartition(1)`` + in-task
    sort + numbering pass: no boundary-sampling job, no count table,
    no prefix join, no checkpoints (a single partition has no
    boundary nondeterminism to pin). Lazy, one job when actioned.
    The distributed path is unchanged for any width > 1."""
    import numpy as np

    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    if n == 1:
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
    # Materialize the input once before range-partitioning:
    # repartitionByRange runs a SEPARATE sampling job over the child
    # lineage to pick boundaries, then the shuffle runs it again — for
    # rank inputs (always post-aggregation tables whose lineage is a
    # corpus-sized agg) that is two full corpus passes. The inputs
    # themselves are bounded (vocab / per-user tables), so pinning
    # them is cheap at any scale.
    if materialize_input:
        df = df.localCheckpoint()
    ranged = df.repartitionByRange(n, *order_by).sortWithinPartitions(*order_by)

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
    # one row per partition — bounded by parallelism, not data size, so
    # the exclusive prefix-sum is legitimate driver-side work (same
    # rationale as the IVF codebook staying in numpy)
    counts = local.groupBy("_pid").agg(F.max("_lrn").alias("_cnt")).collect()
    acc = 0
    offsets = []
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((r["_pid"], acc))
        acc += r["_cnt"]
    prefix = spark.createDataFrame(offsets, "_pid long, _off long")
    return (
        local.join(F.broadcast(prefix), "_pid")
        .withColumn(out, (F.col("_off") + F.col("_lrn")).cast("long"))
        .drop("_pid", "_lrn", "_off")
    )


def adaptive_rank_width(
    spark, total_rows: int, rows_per_partition: int = 250_000
) -> int:
    """Rank width from a MEASURED row count: ~250k rows per partition,
    floored at 1 (→ the single-partition fast path), capped at 32×
    cluster parallelism. Callers count their (already materialized)
    rank input and stop paying session-width scheduling overhead on
    dictionary/user-sized tables, while corpus-scale tables fan out
    linearly with size — same exponent, smaller constant."""
    return max(
        1,
        min(
            spark.sparkContext.defaultParallelism * 32,
            -(-total_rows // rows_per_partition),
        ),
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
