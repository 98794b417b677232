"""A1-A3 — the grouped window aggregate (the KSQL analytics layer).

Reference (README.md:87-92):
    CREATE TABLE MAX_TABLE AS
      SELECT ID, MAX(metrics->temperature) AS MAX_TEMPERATURE
      FROM json WINDOW TUMBLING (SIZE 1 MINUTES) GROUP BY ID;
README.md:72 states min and avg are computed the same way.

``window_agg`` is the one kernel: tumbling windows by default, KSQL's
``WINDOW HOPPING (SIZE w, ADVANCE BY s)`` with a ``slide``. The same
expression serves batch frames and streaming frames (the streaming
query adds a watermark upstream and runs it against the state store).

Time domain: KSQL windows on Kafka ROWTIME; we window on payload event
time (documented deviation, SURVEY.md §2.8 T2) — deterministic and
testable. The aggregation is a stock Catalyst hash aggregate with
map-side partial aggregation; a hopping window expands each event into
width/slide copies map-side, before the single aggregate shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from iotstream.schemas import event_time_only

#: agg-name → Column factory.
_AGGS = {
    "max": F.max,
    "min": F.min,
    "avg": F.avg,
}


def window_agg(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    value: str | Column,
    width: str = "1 minute",
    slide: str | None = None,
    aggs: Sequence[str] = ("max", "min", "avg"),
    prefix: str = "",
) -> DataFrame:
    """Per-key window aggregate over event time ``ts_col``: tumbling
    windows of ``width``, or hopping windows advancing by ``slide``.

    Rows without event time are excluded (``event_time_only``; Spark's
    ``F.window`` would drop them silently). Returns columns
    window_start, window_end, *keys, then ``<agg>_<prefix>`` (or
    ``<agg>`` without a prefix) per agg. Avg is rounded to 6 decimals,
    as the DuckDB oracles round it, so float summation order cannot
    change the answer.
    """
    val = F.col(value) if isinstance(value, str) else value
    names = [f"{a}_{prefix}" if prefix else a for a in aggs]
    w = F.window(F.col(ts_col), width, slide)
    return (
        event_time_only(df, ts_col)
        .groupBy(w.alias("w"), *keys)
        .agg(*[_AGGS[a](val).alias(n) for a, n in zip(aggs, names)])
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            *[
                F.round(n, 6).alias(n) if a == "avg" else F.col(n)
                for a, n in zip(aggs, names)
            ],
        )
    )
