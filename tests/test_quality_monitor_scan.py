"""The quality monitor's vectorized run-length scan equals a per-row loop.

``iotstream.streaming.stateful._monitor`` finds the longest run of
consecutive invalid readings with numpy array operations. This file
keeps the plain per-row loop it replaced as the reference and checks
the two agree on the whole carried state (n_total, n_invalid, cur_run,
max_run): exhaustively for every input of length <= 8 from every
carried state up to run length 3, and on seeded random long inputs.
No Spark session is needed: ``_monitor`` is called directly with a
stub ``GroupState``.
"""

from __future__ import annotations

import datetime as dt
import itertools
import random

import pandas as pd

from iotstream.streaming.stateful import _monitor

VALID = (20, 40)
#: one reading per branch of the validity predicate
INVALID = ((0, 0), (55, 120))


class StubState:
    """The part of ``GroupState`` that ``_monitor`` uses."""

    def __init__(self, carried=None):
        self.exists = carried is not None
        self.get = carried

    def update(self, value):
        self.exists, self.get = True, value


def reference(carried, invalid):
    """The per-row loop: totals and longest invalid run, in order."""
    n_total, n_invalid, cur_run, max_run = carried or (0, 0, 0, 0)
    for bad in invalid:
        n_total += 1
        if bad:
            n_invalid += 1
            cur_run += 1
            max_run = max(max_run, cur_run)
        else:
            cur_run = 0
    return n_total, n_invalid, cur_run, max_run


def readings(invalid):
    """One sensor's readings in event-time order, one per flag."""
    t0 = dt.datetime(2024, 1, 1)
    return pd.DataFrame(
        {
            "ts": [t0 + dt.timedelta(seconds=i) for i in range(len(invalid))],
            "messageId": [f"m{i:04d}" for i in range(len(invalid))],
            "temperature": [INVALID[i % 2][0] if b else VALID[0] for i, b in enumerate(invalid)],
            "humidity": [INVALID[i % 2][1] if b else VALID[1] for i, b in enumerate(invalid)],
        }
    )


def scan(carried, pdf, n_chunks=2):
    """Run ``_monitor`` over ``pdf`` delivered in reverse order, split
    into up to ``n_chunks`` non-empty chunks (Spark delivers no empty
    Arrow chunk), and return the state it leaves."""
    rows = pdf.iloc[::-1]
    chunks = [rows.iloc[i::n_chunks] for i in range(min(n_chunks, len(rows)))]
    state = StubState(carried)
    (out,) = list(_monitor(("s1",), iter(chunks), state))
    n_total, n_invalid, _, max_run = state.get
    assert out.to_dict("records") == [
        {"id": "s1", "n_total": n_total, "n_invalid": n_invalid, "max_invalid_run": max_run}
    ]
    return state.get


#: no state, plus every (cur_run, max_run) with cur_run <= max_run <= 3
CARRIED = [None] + [
    (10 + max_run, max_run, cur_run, max_run)
    for max_run in range(4)
    for cur_run in range(max_run + 1)
]


def test_scan_equals_loop_for_every_short_input():
    for n in range(9):
        for invalid in itertools.product((False, True), repeat=n):
            pdf = readings(invalid)
            for carried in CARRIED:
                assert scan(carried, pdf) == reference(carried, invalid), (carried, invalid)


def test_scan_equals_loop_on_random_long_inputs():
    rng = random.Random(20240101)
    for _ in range(200):
        n = rng.randint(9, 400)
        p_bad = rng.choice((0.1, 0.5, 0.9))
        invalid = [rng.random() < p_bad for _ in range(n)]
        carried = rng.choice(CARRIED[1:] + [(500, 200, 37, 80)])
        assert scan(carried, readings(invalid), rng.randint(1, 5)) == reference(
            carried, invalid
        )


def test_no_rows_leave_the_state_unchanged():
    for carried in CARRIED[1:]:
        state = StubState(carried)
        list(_monitor(("s1",), iter([]), state))
        assert state.get == carried
