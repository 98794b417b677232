"""S1 — the pluggable-source abstraction on Spark 4's Python
DataSource API.

The reference's source is a hand-rolled Java SourceFunction polling an
MQTT broker (HiveMQSource.java:24-106). Spark's modern answer is a
registered data source: ``spark.dataSource.register(SensorGenDataSource)``
then ``spark.read.format("sensorgen").option(...)`` — the engine plans
it like any table, with PARTITIONED parallel reads, in a session with
Spark's default config. The reader pushes no filter down: Spark applies
every filter above the scan.

Scale design: the generator is partition-range sharded (each task
produces its own loop-counter slice — embarrassingly parallel, no
driver materialization). Each partition computes its quality mix with
numpy, then ``read`` yields one Python tuple per row.

The emitted rows reproduce ``generator.synthetic_sensor_events``
bit-for-bit (same modular-arithmetic quality mix from
mqttgen.py:36-45), so the same DuckDB oracle covers both paths.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

#: epoch seconds of the default generator start (2024-01-01 00:00:00 UTC)
_DEFAULT_START = 1_704_067_200

SENSORGEN_SCHEMA = (
    "loop bigint, id string, messageId string, timestamp string, "
    "metrics struct<temperature: bigint, humidity: bigint>, ts timestamp"
)


class _LoopRange(InputPartition):
    def __init__(self, lo: int, hi: int) -> None:
        self.lo = lo
        self.hi = hi


class SensorGenReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n = int(options.get("n", "1000"))
        self.n_sensors = int(options.get("sensors", "10"))
        self.start_epoch = int(options.get("startEpoch", str(_DEFAULT_START)))
        self.interval = int(options.get("secondsBetween", "2"))
        self.n_parts = int(options.get("numPartitions", "8"))

    def partitions(self):
        """Inclusive slices of the loop range 1..n, one per task."""
        if self.n <= 0:
            return [_LoopRange(1, 0)]
        step = -(-self.n // max(1, min(self.n_parts, self.n)))
        return [
            _LoopRange(lo, min(lo + step - 1, self.n))
            for lo in range(1, self.n + 1, step)
        ]

    def read(self, partition: _LoopRange):
        import datetime as dt

        import numpy as np

        lo, hi = partition.lo, partition.hi
        if hi < lo:
            return
        loop = np.arange(lo, hi + 1, dtype=np.int64)
        empty = loop % 100 == 0
        bad = (loop % 10 == 0) & ~empty
        temp = np.where(
            empty, 0, np.where(bad, 50 + (loop * 7) % 31, 10 + (loop * 7) % 41)
        )
        hum = np.where(
            empty, 0, np.where(bad, 100 + (loop * 13) % 31, 50 + (loop * 13) % 31)
        )
        epoch = self.start_epoch + loop * self.interval
        sid = loop % self.n_sensors
        for i in range(len(loop)):
            s = f"sensor{sid[i]}rcc-1"
            yield (
                int(loop[i]),
                s,
                f"{s}{loop[i]}",
                str(int(epoch[i])),
                (int(temp[i]), int(hum[i])),
                dt.datetime.fromtimestamp(int(epoch[i]), dt.timezone.utc).replace(
                    tzinfo=None
                ),
            )


class SensorGenDataSource(DataSource):
    """``spark.read.format("sensorgen")`` — options: n, sensors,
    startEpoch, secondsBetween, numPartitions."""

    @classmethod
    def name(cls) -> str:
        return "sensorgen"

    def schema(self) -> str | StructType:
        return SENSORGEN_SCHEMA

    def reader(self, schema) -> SensorGenReader:
        return SensorGenReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(SensorGenDataSource)
