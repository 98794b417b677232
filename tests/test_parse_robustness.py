"""Serde-boundary robustness: malformed, truncated, and alien payloads
must degrade to typed nulls / Gson-style defaults — never fail the
query. (The reference swallows per-record errors,
MongoDBRawData.java:46-52; our contract is stronger: corrupt input is
data, not an exception.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from iotstream.operators.filters import validity_filter
from iotstream.operators.parse import parse_sensor_json
from iotstream.schemas import normalize_event_time

PAYLOADS = [
    # well-formed
    '{"id":"sensor1","messageId":"sensor1-1","timestamp":"1704067200",'
    '"metrics":{"temperature":20,"humidity":60}}',
    # empty metrics → Gson default (0,0), dropped by validity filter
    '{"id":"sensor2","messageId":"sensor2-1","timestamp":"1704067201",'
    '"metrics":{}}',
    # missing metrics key entirely → same (0,0)
    '{"id":"sensor3","messageId":"sensor3-1","timestamp":"1704067202"}',
    # unknown extra fields → ignored
    '{"id":"sensor4","messageId":"sensor4-1","timestamp":"1704067203",'
    '"metrics":{"temperature":21,"humidity":55},"firmware":"v2","x":[1,2]}',
    # truncated JSON → all-null row, metrics normalized to (0,0)
    '{"id":"sensor5","messageId":"sen',
    # not JSON at all
    "hello world",
    # wrong shape (array)
    "[1,2,3]",
]


def test_corrupt_payloads_never_throw_and_normalize(spark):
    df = spark.createDataFrame([(p,) for p in PAYLOADS], "value string")
    parsed = parse_sensor_json(df)
    collected = parsed.collect()
    assert len(collected) == len(PAYLOADS)  # every payload yields a row
    rows = {r["id"]: r for r in collected if r["id"] is not None}
    # well-formed rows keep their values
    assert rows["sensor1"]["metrics"]["temperature"] == 20
    assert rows["sensor4"]["metrics"]["humidity"] == 55  # extras ignored
    # empty/missing metrics → Gson (0,0)
    for sid in ("sensor2", "sensor3"):
        assert rows[sid]["metrics"]["temperature"] == 0
        assert rows[sid]["metrics"]["humidity"] == 0
    # the 3 garbage payloads → null-id rows, metrics still normalized
    garbage = [r for r in collected if r["id"] is None]
    assert len(garbage) == 3
    assert all(r["metrics"]["temperature"] == 0 for r in garbage)


def test_corrupt_rows_flow_through_validity_filter(spark):
    df = spark.createDataFrame([(p,) for p in PAYLOADS], "value string")
    valid = validity_filter(parse_sensor_json(df))
    ids = {r["id"] for r in valid.collect()}
    # (0,0) readings — including normalized garbage — are dropped by the
    # empty-reading branch; real readings survive
    assert ids == {"sensor1", "sensor4"}


def test_event_time_is_exact_across_a_dst_fall_back(spark):
    """1699162200 and 1699165800 are both 01:30 local time in New York
    on 2023-11-05 (EDT, then EST). The epoch seconds map to their own
    instants whatever the session time zone."""
    epochs = [1699162200, 1699165800]
    key = "spark.sql.session.timeZone"
    prior = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        df = spark.createDataFrame([(str(e),) for e in epochs], "timestamp string")
        got = normalize_event_time(df).select(F.unix_seconds("ts")).collect()
        assert [r[0] for r in got] == epochs
    finally:
        spark.conf.set(key, prior)
