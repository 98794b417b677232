"""Entry point 2 parity — the KSQL layer as Spark SQL (SURVEY.md §3.2).

The reference registers a schema over the Kafka topic
(``CREATE STREAM json (…) WITH (KAFKA_TOPIC='event1', VALUE_FORMAT=
'JSON')``, reference README.md:76-83) and then runs persistent SQL
queries against it (``CREATE TABLE MAX_TABLE AS SELECT …``,
README.md:87-92). The Spark equivalent: register the parsed stream as a
temp view (``create_stream_view``) and run the reference's statements
through the dialect translator (``run_ksql``) — the same Catalyst plan
as the DataFrame API, so everything here works over batch or streaming
frames. The KSQL MAX_TABLE is spelled once, as the statement the
``ksql_max_table`` query runs.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def create_stream_view(sensor_events: DataFrame, name: str = "json") -> None:
    """``CREATE STREAM json`` equivalent: register the typed event frame
    under the KSQL stream's name."""
    sensor_events.createOrReplaceTempView(name)


# ------------------------------------------------------- KSQL translator

_CREATE_RE = re.compile(r"^\s*CREATE\s+TABLE\s+(\w+)\s+AS\s+", re.I | re.S)
_WINDOW_RE = re.compile(
    r"\bWINDOW\s+TUMBLING\s*\(\s*SIZE\s+(\d+)\s+"
    r"(MILLISECONDS?|SECONDS?|MINUTES?|HOURS?|DAYS?)\s*\)",
    re.I,
)
_HOPPING_RE = re.compile(
    r"\bWINDOW\s+HOPPING\s*\(\s*SIZE\s+(\d+)\s+"
    r"(MILLISECONDS?|SECONDS?|MINUTES?|HOURS?|DAYS?)\s*,\s*"
    r"ADVANCE\s+BY\s+(\d+)\s+"
    r"(MILLISECONDS?|SECONDS?|MINUTES?|HOURS?|DAYS?)\s*\)",
    re.I,
)
_SESSION_RE = re.compile(
    r"\bWINDOW\s+SESSION\s*\(\s*(\d+)\s+"
    r"(MILLISECONDS?|SECONDS?|MINUTES?|HOURS?|DAYS?)\s*\)",
    re.I,
)


def ksql_to_spark_sql(stmt: str) -> tuple[str | None, str]:
    """Translate the reference's KSQL dialect subset (exactly the
    statement shapes in README.md:76-107) to Spark SQL:

    - ``CREATE TABLE <name> AS <select>`` → (<name>, <select>) — caller
      registers the result under <name> (KSQL's continuously-updated
      table becomes a view over the same plan);
    - ``a->b`` struct dereference → ``a.b``;
    - ``WINDOW TUMBLING (SIZE n <unit>)`` → ``window(ts, 'n <unit>')``
      in SELECT + GROUP BY, surfacing window_start/window_end the way
      KSQL exposes WINDOWSTART/WINDOWEND. Windows on payload event time
      ``ts``, not ROWTIME — the engine's documented T2 deviation.
    - ``WINDOW HOPPING (SIZE n <unit>, ADVANCE BY m <unit>)`` →
      ``window(ts, width, slide)``; ``WINDOW SESSION (n <unit>)`` →
      ``session_window(ts, gap)`` (KSQL merges events within the
      inactivity gap; Spark's session_window does the same, splitting
      only when the gap is strictly exceeded).

    A dialect bridge for the reference's published statements, not a
    general KSQL parser.
    """
    stmt = stmt.strip().rstrip(";")
    name = None
    m = _CREATE_RE.match(stmt)
    if m:
        name = m.group(1)
        stmt = stmt[m.end():]
    stmt = re.sub(r"\s*->\s*", ".", stmt)
    win = None
    sm = _SESSION_RE.search(stmt)
    if sm:
        gap = f"{int(sm.group(1))} {sm.group(2).lower()}"
        win = f"session_window(ts, '{gap}')"
        stmt = _SESSION_RE.sub("", stmt)
    hm = _HOPPING_RE.search(stmt)
    if hm:
        width = f"{int(hm.group(1))} {hm.group(2).lower()}"
        slide = f"{int(hm.group(3))} {hm.group(4).lower()}"
        win = f"window(ts, '{width}', '{slide}')"
        stmt = _HOPPING_RE.sub("", stmt)
    wm = _WINDOW_RE.search(stmt)
    if wm:
        width = f"{int(wm.group(1))} {wm.group(2).lower()}"
        win = f"window(ts, '{width}')"
        stmt = _WINDOW_RE.sub("", stmt)
    if win:
        stmt = re.sub(
            r"^\s*SELECT\s+",
            f"SELECT {win}.start AS window_start, {win}.end AS window_end, ",
            stmt,
            flags=re.I,
        )
        stmt = re.sub(r"\bGROUP\s+BY\s+", f"GROUP BY {win}, ", stmt, flags=re.I)
    return name, stmt


def run_ksql(spark: SparkSession, stmt: str) -> DataFrame:
    """Run one reference-dialect KSQL statement against the registered
    stream views; CREATE TABLE AS also registers the result view."""
    name, sql = ksql_to_spark_sql(stmt)
    df = spark.sql(sql)
    if name:
        df.createOrReplaceTempView(name)
    return df
