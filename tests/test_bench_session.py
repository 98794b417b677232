"""The session every test runs is the record session, and ``measure``
times a query in it."""

from __future__ import annotations

import bench


def test_test_session_is_the_record_session(spark):
    conf = spark.conf
    cpus = bench.session_cpus()
    assert spark.sparkContext.master == f"local[{cpus}]"
    assert conf.get("spark.sql.shuffle.partitions") == cpus
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert conf.get("spark.sql.join.preferSortMergeJoin") == "false"
    assert conf.get("spark.sql.adaptive.enabled") == "true"


def test_measure_returns_seconds_and_its_steal_window(spark):
    runs = []

    def fn(s, sf_dir):
        runs.append(sf_dir)
        return s.range(1000).selectExpr("sum(id) AS s")

    sec, w = bench.measure(spark, fn, "sf-dir")
    assert runs == ["sf-dir"] * 3  # warm-up + min of 2
    assert sec > 0
    assert set(w) == {"mono0", "steal0", "mono1", "steal1", "load1"}
    assert w["mono1"] - w["mono0"] >= sec
