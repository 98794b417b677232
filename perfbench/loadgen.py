"""Seeded sensor load generator and the answers the engine must produce.

Payloads follow the reference publisher (``iot-sensor/mqttgen.py``): each
sensor publishes ``{"id", "messageId", "timestamp", "metrics"}`` with an
epoch-seconds timestamp and ``messageId = id + str(loop)``, where ``loop``
is that sensor's own message counter starting at 1.  The quality mix is
keyed on the counter exactly as mqttgen keys it: every 100th message is an
empty ``{}`` reading, every other 10th is out of range (temperature 50-80,
humidity 100-130), and the rest are valid (temperature 10-50, humidity
50-80), all bounds inclusive and drawn from the seed.

Every sensor reports once per ``cadence_s`` of event time.  Messages
arrive in nominal-time order, but each carries a timestamp up to
``disorder_s`` seconds older than its nominal time, so arrival disorder is
bounded by ``disorder_s``.

The expected answers are computed here in plain Python from the generated
events, independently of the engine: which events pass the validity
filter, and the per (window, id) MAX/MIN/AVG of temperature over them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

#: 2024-01-01T00:00:40Z: 40 s into a minute, so the first tumbling window
#: closes after 20 s of event time.
START_EPOCH = 1704067240


@dataclass(frozen=True)
class LoadSpec:
    n_sensors: int
    events_per_file: int
    cadence_s: int = 2
    disorder_s: int = 0
    start_epoch: int = START_EPOCH


@dataclass(frozen=True)
class Events:
    """Generated events in arrival order, one array per field."""

    sensor: np.ndarray  # int64 sensor number
    loop: np.ndarray  # int64 per-sensor message counter, from 1
    ts: np.ndarray  # int64 epoch seconds (event time)
    temperature: np.ndarray  # int64, 0 for an empty reading
    humidity: np.ndarray  # int64, 0 for an empty reading
    empty: np.ndarray  # bool: published as ``"metrics": {}``

    def __len__(self) -> int:
        return len(self.ts)

    def valid(self) -> np.ndarray:
        """The reference validity filter (StreamProcessor.java:61-78)."""
        t, h = self.temperature, self.humidity
        return ~((t == 0) & (h == 0)) & ((t < 50) | (h < 100))


def sensor_id(n: int) -> str:
    return f"sensor{n}rcc-1"


def generate(seed: int, spec: LoadSpec, n_events: int) -> Events:
    """``n_events`` events in arrival order; the same seed gives the same
    events."""
    rng = np.random.default_rng(seed)
    idx = np.arange(n_events, dtype=np.int64)
    # Round-robin over a seed-shuffled sensor order: one full round per
    # cadence, so every sensor keeps its cadence.
    order = rng.permutation(spec.n_sensors).astype(np.int64)
    rnd, pos = np.divmod(idx, spec.n_sensors)
    sensor = order[pos]
    loop = rnd + 1
    nominal = spec.start_epoch + rnd * spec.cadence_s + (pos * spec.cadence_s) // spec.n_sensors
    lag = rng.integers(0, spec.disorder_s + 1, n_events) if spec.disorder_s else 0
    ts = nominal - lag

    empty = loop % 100 == 0
    bad = (loop % 10 == 0) & ~empty
    temperature = np.where(
        bad, rng.integers(50, 81, n_events), rng.integers(10, 51, n_events)
    )
    humidity = np.where(
        bad, rng.integers(100, 131, n_events), rng.integers(50, 81, n_events)
    )
    temperature = np.where(empty, 0, temperature).astype(np.int64)
    humidity = np.where(empty, 0, humidity).astype(np.int64)
    return Events(sensor, loop, ts.astype(np.int64), temperature, humidity, empty)


def head(ev: Events, n: int) -> Events:
    """The first ``n`` events."""
    return Events(*(getattr(ev, f)[:n] for f in Events.__dataclass_fields__))


def payload_lines(ev: Events, lo: int, hi: int) -> str:
    """JSON lines for events ``[lo, hi)``, shaped like mqttgen's
    ``json.dumps`` output."""
    out = []
    for i in range(lo, hi):
        sid = sensor_id(int(ev.sensor[i]))
        if ev.empty[i]:
            metrics = "{}"
        else:
            metrics = (
                f'{{"temperature": {ev.temperature[i]}, "humidity": {ev.humidity[i]}}}'
            )
        out.append(
            f'{{"id": "{sid}", "messageId": "{sid}{ev.loop[i]}", '
            f'"timestamp": {ev.ts[i]}, "metrics": {metrics}}}\n'
        )
    return "".join(out)


def write_backlog(ev: Events, directory: str, events_per_file: int) -> int:
    """Write the events as numbered JSON-lines files, oldest first, and
    return the number of files."""
    os.makedirs(directory, exist_ok=True)
    n_files = 0
    for lo in range(0, len(ev), events_per_file):
        path = os.path.join(directory, f"payload-{n_files:05d}.json")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(payload_lines(ev, lo, min(lo + events_per_file, len(ev))))
        n_files += 1
    return n_files


def round_half_up(x: float, digits: int) -> float:
    """Spark's ``round``: HALF_UP on the shortest decimal form of the
    double."""
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def expected_windows(
    ev: Events, width_s: int = 60, avg_digits: int = 6
) -> dict[tuple[int, str], tuple[int, int, float]]:
    """(window start epoch s, sensor id) -> (max, min, rounded avg) of
    temperature over clean events, for tumbling windows of ``width_s``."""
    keep = ev.valid()
    acc: dict[tuple[int, int], list[int]] = {}
    for s, t, temp in zip(
        ev.sensor[keep].tolist(), ev.ts[keep].tolist(), ev.temperature[keep].tolist()
    ):
        key = (t - t % width_s, s)
        a = acc.get(key)
        if a is None:
            acc[key] = [temp, temp, temp, 1]
        else:
            a[0] = max(a[0], temp)
            a[1] = min(a[1], temp)
            a[2] += temp
            a[3] += 1
    return {
        (w, sensor_id(s)): (mx, mn, round_half_up(tot / n, avg_digits))
        for (w, s), (mx, mn, tot, n) in acc.items()
    }
