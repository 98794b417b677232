"""The reference's VERBATIM KSQL statement (README.md:87-92) runs
through the dialect translator and matches the DataFrame-API flagship."""

from pyspark.sql import functions as F

from iotstream.operators.filters import validity_filter
from iotstream.operators.windows import window_agg
from iotstream.schemas import load_table, use_utc
from iotstream.sensorize import sensorize
from iotstream.sql import create_stream_view, ksql_to_spark_sql, run_ksql
from tests.conftest import SF_DIR

# reference README.md:87-92, character for character
REFERENCE_STMT = """CREATE TABLE MAX_TABLE AS
SELECT ID AS MAX_ID,
MAX(metrics->temperature) AS MAX_TEMPERATURE
FROM json
WINDOW TUMBLING (SIZE 1 MINUTES)
GROUP BY ID;"""


def test_reference_statement_translates_and_matches_flagship(spark):
    use_utc(spark)
    # KSQL reads topic event1 = the POST-filter clean stream
    clean = validity_filter(sensorize(load_table(spark, SF_DIR, "events")))
    create_stream_view(clean, "json")
    out = run_ksql(spark, REFERENCE_STMT)

    expect = window_agg(
        clean, "ts", ["id"], F.col("metrics.temperature"), "1 minute",
        aggs=("max",), prefix="temperature",
    )
    got = {
        (r.window_start, r.MAX_ID): r.MAX_TEMPERATURE for r in out.collect()
    }
    want = {
        (r.window_start, r.id): r.max_temperature for r in expect.collect()
    }
    assert got == want
    # CREATE TABLE AS registered the view under the KSQL table name
    assert spark.table("MAX_TABLE").count() == len(want)


def test_translator_shapes():
    name, sql = ksql_to_spark_sql(REFERENCE_STMT)
    assert name == "MAX_TABLE"
    assert "->" not in sql and "WINDOW TUMBLING" not in sql.upper()
    assert "window(ts, '1 minutes')" in sql
    assert sql.count("window(ts, '1 minutes')") == 3  # start, end, group


HOPPING_STMT = (
    "CREATE TABLE HOP_TABLE AS SELECT ID, MAX(metrics->temperature) AS "
    "MAX_TEMPERATURE FROM json WINDOW HOPPING (SIZE 2 MINUTES, ADVANCE BY "
    "1 MINUTES) GROUP BY ID;"
)


def test_hopping_translates_and_matches_native(spark):
    use_utc(spark)
    clean = validity_filter(sensorize(load_table(spark, SF_DIR, "events")))
    create_stream_view(clean, "json")
    out = run_ksql(spark, HOPPING_STMT)
    expect = window_agg(
        clean, "ts", ["id"], F.col("metrics.temperature"),
        width="2 minutes", slide="1 minutes", aggs=("max",), prefix="temperature",
    )
    got = {(r.window_start, r.ID): r.MAX_TEMPERATURE for r in out.collect()}
    want = {(r.window_start, r.id): r.max_temperature for r in expect.collect()}
    assert got == want


def test_hopping_translator_shape():
    name, sql = ksql_to_spark_sql(HOPPING_STMT)
    assert name == "HOP_TABLE"
    assert "HOPPING" not in sql.upper()
    assert "window(ts, '2 minutes', '1 minutes')" in sql


SESSION_STMT = (
    "CREATE TABLE SESSION_TABLE AS "
    "SELECT ID, COUNT(*) AS N_EVENTS "
    "FROM json WINDOW SESSION (30 MINUTES) GROUP BY ID;"
)


def test_session_translator_shape():
    name, sql = ksql_to_spark_sql(SESSION_STMT)
    assert name == "SESSION_TABLE"
    assert "SESSION" not in sql.upper().replace("SESSION_WINDOW", "")
    assert "session_window(ts, '30 minutes')" in sql


def test_session_translator_runs_and_matches_batch_sessionizer(spark):
    """KSQL WINDOW SESSION through the translator == the lag/cumsum
    batch sessionizer's (per-user session count, per-session sizes)."""
    import datetime as dt

    from iotstream.ext.sessions import sessionize_batch
    from iotstream.schemas import use_utc
    from iotstream.sql import create_stream_view, run_ksql

    use_utc(spark)
    T0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 7: two sessions (gap of 31 min splits)
        (1, T0, 7), (2, T0 + dt.timedelta(minutes=10), 7),
        (3, T0 + dt.timedelta(minutes=41, seconds=1), 7),
        # user 8: one session
        (4, T0, 8),
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, "click", 0.0) for i, ts, u in rows],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    create_stream_view(ev.withColumnRenamed("user_id", "ID"), "json")
    out = run_ksql(spark, SESSION_STMT)
    got = sorted((r.ID, r.N_EVENTS) for r in out.collect())
    sess = sessionize_batch(ev, gap_seconds=1800)
    want = sorted((r.user_id, r.n_events) for r in sess.collect())
    assert got == want == [(7, 1), (7, 2), (8, 1)]
