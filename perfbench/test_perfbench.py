"""Tests for the benchmark's own code: statistics, open-loop accounting,
the generator and the engine-free expected store.  No Spark needed:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pytest

import oracle
from gen import MINUTE_NS, Spec, generate, is_valid
from stats import OpenLoop, tail

SMALL = Spec(
    symbols=4,
    history_days=0.5,
    start=datetime(2026, 10, 3, tzinfo=timezone.utc),
    revision_share=0.1,
    invalid_share=0.05,
    hole_share=0.02,
    island_max=5,
)


# --- tail percentile --------------------------------------------------------


def test_tail_needs_ten_samples_beyond():
    assert tail(range(10)) is None
    pct, value, n = tail(range(11))
    assert (pct, value, n) == (100.0 * 1 / 11, 0, 11)


def test_tail_leaves_exactly_ten_beyond():
    xs = list(np.random.default_rng(0).permutation(200).astype(float))
    pct, value, n = tail(xs)
    assert n == 200
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(95.0)


# --- open loop --------------------------------------------------------------


class FakeClock:
    def __init__(self):
        self.now = 100.0

    def __call__(self):
        return self.now

    def sleep(self, dt):
        self.now += dt


def test_open_loop_waits_until_due_and_counts_no_lateness():
    clock = FakeClock()
    loop = OpenLoop(100.0, 5.0, clock=clock, sleep=clock.sleep)
    for k in range(3):
        due = loop.wait(k)
        assert due == clock.now == 100.0 + 5.0 * k
        loop.mark(due)
    assert loop.late_max() == 0.0


def test_open_loop_does_not_wait_for_slow_events_and_reports_lateness():
    clock = FakeClock()
    loop = OpenLoop(100.0, 5.0, clock=clock, sleep=clock.sleep)
    loop.mark(loop.wait(0))
    clock.now += 12.0  # event 0 stalls past the due times of events 1 and 2
    due1 = loop.wait(1)
    loop.mark(due1)
    assert due1 == 105.0  # latency is still taken from the due time
    assert loop.late_max() == pytest.approx(7.0)
    assert loop.wait(2) == 110.0 and clock.now == 112.0  # no sleep when late


def test_open_loop_counts_events_due_before_end():
    loop = OpenLoop(0.0, 15.0)
    assert [loop.count_before(s) for s in (0, 1, 15, 16, 30)] == [0, 1, 1, 2, 2]


# --- generator --------------------------------------------------------------


def test_generator_is_deterministic_per_seed():
    a, b, c = generate(SMALL, 7, 3), generate(SMALL, 7, 3), generate(SMALL, 8, 3)
    pd.testing.assert_frame_equal(a.seed_rows, b.seed_rows)
    pd.testing.assert_frame_equal(a.hole_keys, b.hole_keys)
    for x, y in zip(a.tail, b.tail):
        pd.testing.assert_frame_equal(x, y)
    assert np.array_equal(a.popularity, b.popularity)
    assert not a.seed_rows["close"].equals(c.seed_rows["close"])


def test_generator_injects_exactly_the_counted_invalid_rows():
    ds = generate(SMALL, 3, 4)
    assert (~is_valid(ds.seed_rows)).sum() == ds.seed_invalid > 0
    assert [int((~is_valid(t)).sum()) for t in ds.tail] == ds.tail_invalid


def test_holes_are_missing_from_the_seed_and_never_refilled_by_the_tail():
    ds = generate(SMALL, 5, 6)
    assert len(ds.hole_keys) and ds.islands
    keys = set(zip(ds.hole_keys["symbol"], ds.hole_keys["start"]))
    landed = pd.concat([ds.seed_rows, *ds.tail])
    assert not keys & set(zip(landed["symbol"], landed["start"]))
    # the first and last history minute of each symbol are never holes
    first, last = ds.truth["start"].min(), ds.truth["start"].max()
    assert not ds.hole_keys["start"].isin([first, last]).any()


def test_truth_is_the_latest_version_of_every_history_key():
    ds = generate(SMALL, 9, 0)
    present = oracle.latest(ds.seed_rows[is_valid(ds.seed_rows)])
    want = ds.truth.merge(present[["symbol", "start"]], on=["symbol", "start"])
    got = present.sort_values(["symbol", "start"]).reset_index(drop=True)
    assert oracle.diff(got, want[got.columns], ["symbol", "start"]) == ""
    assert len(ds.truth) == len(present) + len(ds.hole_keys)


# --- expected store ---------------------------------------------------------


def test_rollup_by_hand():
    t0 = 1_700_000_400 * 10**9  # on a 5-minute boundary
    rows = pd.DataFrame(
        {
            "exchange": "X",
            "symbol": "S",
            "start": [t0 + i * MINUTE_NS for i in (3, 0, 1, 5)],
            "open": [4.0, 1.0, 2.0, 6.0],
            "high": [9.0, 5.0, 6.0, 7.0],
            "low": [0.5, 0.1, 0.2, 0.3],
            "close": [4.5, 1.5, 2.5, 6.5],
            "volume": [0.001, 0.002, 0.003, 0.004],
            "trades": [1, 2, 3, 4],
        }
    )
    got = oracle.rollup(rows, 5)
    assert got["candle_start"].tolist() == [t0, t0 + 5 * MINUTE_NS]
    first = got.iloc[0]
    assert (first["open"], first["close"], first["high"], first["low"]) == (1.0, 4.5, 9.0, 0.1)
    assert (first["open_time"], first["close_time"]) == (t0, t0 + 3 * MINUTE_NS)
    assert (first["volume"], first["trades"]) == (0.006, 6)


def test_latest_breaks_receipt_ties_on_close_then_volume():
    rows = pd.DataFrame(
        {
            "exchange": "X",
            "symbol": "S",
            "start": [0, 0, 0],
            "receipt_timestamp": [5, 5, 4],
            "close": [1.0, 2.0, 9.0],
            "volume": [3.0, 1.0, 1.0],
        }
    )
    assert oracle.latest(rows)["close"].tolist() == [2.0]


def test_diff_ignores_row_order_and_reports_changed_columns():
    a = pd.DataFrame({"k": [1, 2], "v": [0.1, 0.2]})
    assert oracle.diff(a.iloc[::-1], a, ["k"]) == ""
    b = a.assign(v=[0.1, 0.3])
    assert oracle.diff(b, a, ["k"]) == "v on 1 rows"
    assert oracle.diff(a.iloc[:1], a, ["k"]) == "1 rows, want 2"
