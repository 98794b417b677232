from __future__ import annotations

import pytest

import bench

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = bench._session(
        extra_conf={"spark.driver.memory": "2g"}, app="iotstream-tests"
    )
    yield s
    s.stop()
