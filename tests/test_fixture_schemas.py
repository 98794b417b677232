"""The declared fixture schemas (``iotstream.schemas.FIXTURE_SCHEMAS``)
equal what Spark infers from every committed fixture scale and from the
benchmark's fixture writer, and loading the fixtures fires no Spark job."""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import StructType

from iotstream.schemas import FIXTURE_SCHEMAS, FIXTURE_TABLES, load_table, table_path
from tests.conftest import SF_DIR

SCALES = [
    os.path.join(os.path.dirname(SF_DIR), sf) for sf in ("sf0.001", "sf0.01", "sf0.1")
]


def _assert_declared(spark, sf_dir: str) -> None:
    for name in FIXTURE_TABLES:
        inferred = spark.read.parquet(table_path(sf_dir, name)).schema
        assert inferred == StructType.fromDDL(FIXTURE_SCHEMAS[name]), (sf_dir, name)


@pytest.mark.parametrize("sf_dir", SCALES)
def test_declared_schemas_match_committed_fixtures(spark, sf_dir):
    _assert_declared(spark, sf_dir)


def test_declared_schemas_match_benchmark_fixtures(spark, tmp_path):
    from perfbench.fixtures import write_fixtures

    write_fixtures(seed=3, scale=1, directory=str(tmp_path))
    _assert_declared(spark, str(tmp_path))


def test_loading_every_fixture_table_fires_no_job(spark):
    sc = spark.sparkContext
    group = "test-fixture-schemas-load"
    sc.setJobGroup(group, group)
    try:
        for name in FIXTURE_TABLES:
            load_table(spark, SF_DIR, name)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_declared_schema_contract_on_divergent_files(spark, tmp_path):
    """A column whose stored type differs from the declaration fails at
    read time (no re-inference); a declared column absent from the file
    reads as NULL."""
    wrong = str(tmp_path / "wrong")
    spark.createDataFrame([("0",)], "r_regionkey string").write.parquet(
        table_path(wrong, "region")
    )
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        load_table(spark, wrong, "region").collect()

    partial = str(tmp_path / "partial")
    spark.createDataFrame([(1,)], "r_regionkey int").write.parquet(
        table_path(partial, "region")
    )
    rows = load_table(spark, partial, "region").collect()
    assert [tuple(r) for r in rows] == [(1, None)]


def test_load_table_pins_the_session_to_utc(spark):
    """A builder that reads a fixture table needs no time-zone pin of
    its own: ``load_table`` sets the session to UTC."""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "America/New_York")
        load_table(spark, SF_DIR, "orders")
        assert spark.conf.get(key) == "UTC"
    finally:
        spark.conf.set(key, old)
