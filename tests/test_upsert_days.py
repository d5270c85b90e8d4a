"""The rollup upsert recomputes whole touched UTC days of every level.

``upsert_rollup_levels`` collects the batch's touched (exchange,
symbol, day) keys, recomputes every level's buckets of those days from
the deduplicated raw rows in one aggregation, and rewrites only the
months holding them.  These tests pin what that design promises: the
result equals the batch cascade across day and month boundaries and
late revisions, an empty batch rewrites nothing, the number of Spark
jobs does not grow with the batch, and levels that would straddle
midnight are refused.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pytest
from test_streaming_partitions import _candle, _snapshot

from trade_data_collection_service_spark.operators import cascade, dedup_latest
from trade_data_collection_service_spark.schema import CANDLE_SCHEMA, ROLLUP_MINUTES
from trade_data_collection_service_spark.streaming.pipeline import (
    read_rollup_level,
    rollup_paths,
    table_exists,
    upsert_rollup_levels,
)

UTC = dt.timezone.utc
SYMBOLS = ("BTC-USDT", "ETH-USDT")
# The fixed job budget of one upsert, whatever the batch size and the
# number of levels: the touched keys, the stage write's shuffles and
# the write itself (7 measured); the publish renames run no job.
MAX_JOBS = 10


def _minutes(t0: dt.datetime, n: int, price: float, symbols=SYMBOLS):
    return [
        _candle(sym, t0 + dt.timedelta(minutes=i), price + 10 * k + i)
        for k, sym in enumerate(symbols)
        for i in range(n)
    ]


def _append(spark, raw_path: str, rows):
    batch = spark.createDataFrame(rows, CANDLE_SCHEMA)
    batch.write.mode("append").parquet(raw_path)
    return batch


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn`` launches, counted on a job group."""
    sc = spark.sparkContext
    group = f"upsert-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_levels_match_cascade(spark, raw_path, base):
    expected = cascade(dedup_latest(spark.read.parquet(raw_path)), ROLLUP_MINUTES)
    paths = rollup_paths(base)
    for m in ROLLUP_MINUTES:
        stored = read_rollup_level(spark, paths[m])
        assert stored.exceptAll(expected[m]).count() == 0, f"level {m}: extra rows"
        assert expected[m].exceptAll(stored).count() == 0, f"level {m}: missing rows"
        assert not table_exists(spark, paths[m] + ".stage")
    assert not table_exists(spark, os.path.join(base, "_rollup.stage"))


@pytest.fixture
def store(spark, tmp_path):
    """An 8-level store: two symbols on 2024-02-10 and on each of
    2024-03-01..06, with candles on both sides of every March
    midnight."""
    base = str(tmp_path)
    raw_path = os.path.join(base, "candles_raw")
    rows = _minutes(dt.datetime(2024, 2, 10, 8, 0, tzinfo=UTC), 30, 50.0)
    for day in range(1, 7):
        t0 = dt.datetime(2024, 3, day, tzinfo=UTC)
        rows += _minutes(t0 - dt.timedelta(minutes=20), 40, 100.0 + day)
        rows += _minutes(t0 + dt.timedelta(hours=13), 25, 200.0 + day)
    batch = _append(spark, raw_path, rows)
    upsert_rollup_levels(spark, raw_path, batch, base)
    return base, raw_path


def test_multi_day_revisions_match_cascade(spark, store):
    base, raw_path = store
    paths = rollup_paths(base)
    before = {m: _snapshot(paths[m]) for m in ROLLUP_MINUTES}

    # A late revision four days back, one candle on each side of the
    # 2024-03-06 UTC midnight, a new symbol; 03-03 and 03-04 stay idle.
    rows = [
        _candle("BTC-USDT", dt.datetime(2024, 3, 2, 13, 5, tzinfo=UTC), 999.0, version=6),
        _candle("ETH-USDT", dt.datetime(2024, 3, 5, 23, 59, tzinfo=UTC), 321.0, version=2),
        _candle("ETH-USDT", dt.datetime(2024, 3, 6, 0, 0, tzinfo=UTC), 654.0, version=2),
        _candle("SOL-USDT", dt.datetime(2024, 3, 6, 0, 0, tzinfo=UTC), 20.0),
    ]
    # the same key twice in one batch: last write wins within a batch too
    rows.append(_candle("BTC-USDT", dt.datetime(2024, 3, 2, 13, 5, tzinfo=UTC), 998.0, version=7))
    batch = _append(spark, raw_path, rows)
    upsert_rollup_levels(spark, raw_path, dedup_latest(batch), base)

    _assert_levels_match_cascade(spark, raw_path, base)
    for m in ROLLUP_MINUTES:
        after = _snapshot(paths[m])
        feb_before = {k: v for k, v in before[m].items() if "month=202402" in k}
        feb_after = {k: v for k, v in after.items() if "month=202402" in k}
        assert feb_before and feb_after == feb_before, f"level {m}: untouched month rewritten"


def test_empty_batch_rewrites_nothing(spark, store):
    base, raw_path = store
    paths = rollup_paths(base)
    before = {m: _snapshot(paths[m]) for m in ROLLUP_MINUTES}
    empty = spark.createDataFrame([], CANDLE_SCHEMA)
    jobs = _jobs(spark, lambda: upsert_rollup_levels(spark, raw_path, empty, base))
    for m in ROLLUP_MINUTES:
        assert _snapshot(paths[m]) == before[m], f"level {m} rewritten"
    # finding the batch empty is the only work
    assert jobs <= 2, jobs


def test_job_count_does_not_grow_with_the_batch(spark, store):
    base, raw_path = store
    one_row = _append(
        spark, raw_path, [_candle("BTC-USDT", dt.datetime(2024, 3, 4, 6, 0, tzinfo=UTC), 70.0, 1)]
    )
    jobs_row = _jobs(spark, lambda: upsert_rollup_levels(spark, raw_path, one_row, base))
    whole_day = _append(
        spark,
        raw_path,
        _minutes(dt.datetime(2024, 3, 7, tzinfo=UTC), 24 * 60, 80.0, SYMBOLS[:1]),
    )
    jobs_day = _jobs(spark, lambda: upsert_rollup_levels(spark, raw_path, whole_day, base))
    assert jobs_row <= MAX_JOBS, jobs_row
    assert jobs_day <= MAX_JOBS, jobs_day
    _assert_levels_match_cascade(spark, raw_path, base)


def test_job_count_does_not_grow_with_the_levels(spark, store, tmp_path_factory):
    """The same batch upserted into a 3-level and into the 8-level
    store launches the same number of jobs."""
    base, raw_path = store
    batch = _append(
        spark, raw_path, [_candle("ETH-USDT", dt.datetime(2024, 3, 2, 7, 0, tzinfo=UTC), 60.0, 1)]
    )
    three = [1, 5, 1440]
    base3 = str(tmp_path_factory.mktemp("three_levels"))
    upsert_rollup_levels(spark, raw_path, spark.read.parquet(raw_path), base3, three)
    jobs3 = _jobs(spark, lambda: upsert_rollup_levels(spark, raw_path, batch, base3, three))
    jobs8 = _jobs(spark, lambda: upsert_rollup_levels(spark, raw_path, batch, base))
    assert jobs3 == jobs8 <= MAX_JOBS, (jobs3, jobs8)


@pytest.mark.parametrize("levels", [[1, 7], [1, 5, 2880]])
def test_levels_must_divide_a_day(spark, tmp_path, levels):
    batch = spark.createDataFrame(
        [_candle("BTC-USDT", dt.datetime(2024, 3, 1, tzinfo=UTC), 1.0)], CANDLE_SCHEMA
    )
    with pytest.raises(ValueError, match="do not divide a day"):
        upsert_rollup_levels(spark, batch, batch, str(tmp_path), levels)
    assert not os.listdir(tmp_path)
