"""OHLCV tumbling-window rollups + the cascade (SURVEY.md §2.4 A4-A6).

Spark twin of the reference's materialized-view cascade
(clickhouse_schema.py:149-206): per (exchange, symbol, bucket) —

    argMinState(open, time)  -> min_by(open, time)   + open_time  = min(time)
    maxState(high)           -> max(high)
    minState(low)            -> min(low)
    argMaxState(close, time) -> max_by(close, time)  + close_time = max(time)
    sumState(volume)         -> sum(volume)
    sumState(toUInt64(trades)) -> sum(trades) cast long

ClickHouse stores unmerged AggregateFunction *states*; Spark's
HashAggregate already does partial→final merge inside a query, so at
rest we store finalized values plus the argMin/argMax time payloads
(open_time / close_time).  Those payloads make re-aggregation of a
coarser level from a finer level EXACT (A6): 1m→5m→15m ≡ 1m→15m,
which is the invariant the reference's divisibility check protects
(clickhouse_schema.py:98-99).

Scale notes:
- Each rollup level is one hash aggregation; Catalyst plans
  partial_min_by/partial_max_by map-side, so the shuffle carries one
  partially-aggregated row per (key, bucket) per input partition, not
  raw rows.
- The cascade aggregates level N from level N-1 (already ~N× smaller),
  exactly like the reference's MV chain — re-computing every level
  from raw would scan the big table 8 times; the cascade scans it once.
- Volume sums are rounded at 6 decimals to keep results stable under
  partial-aggregation reordering (documented engine semantic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trade_data_collection_service_spark.functions.timeutil import bucket_start
from trade_data_collection_service_spark.schema import ROLLUP_MINUTES, cascade_specs


def _raw_aggs() -> list[Column]:
    """The rollup columns aggregated from deduped 1m candles."""
    return [
        F.min_by("open", "start").alias("open"),
        F.min("start").alias("open_time"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", "start").alias("close"),
        F.max("start").alias("close_time"),
        F.round(F.sum("volume"), 6).alias("volume"),
        F.sum(F.col("trades").cast("long")).alias("trades"),
    ]


def rollup_raw(df: DataFrame, minutes: int) -> DataFrame:
    """Aggregate deduped raw 1m candles into an N-minute rollup.

    Twin of the MV SELECT (clickhouse_schema.py:178-206) and its batch
    backfill copy (data_quality_check.py:338-390) — deliberately the
    same code path for streaming foreachBatch and batch repair, as in
    the reference.
    """
    return df.groupBy(
        "exchange",
        "symbol",
        bucket_start("start", minutes).alias("candle_start"),
    ).agg(*_raw_aggs())


def rollup_levels(df: DataFrame, minutes: list[int]) -> DataFrame:
    """Every level of ``minutes`` straight from deduped 1m candles, in
    ONE aggregation: each candle is exploded into one
    ``(level, candle_start)`` key per level and grouped once with
    ``rollup_raw``'s aggregates.  Returns the rollup rows with a
    leading ``level`` column (bucket width in minutes).

    Equal to ``cascade`` level by level (the exactness invariant
    above), but one shuffle and one plan instead of a chain of
    aggregations; used where all levels are needed for a small slice
    of raw, such as the touched days of a micro-batch."""
    keys = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(m).alias("level"),
                    bucket_start("start", m).alias("candle_start"),
                )
                for m in minutes
            ]
        )
    )
    return (
        df.withColumn("__k", keys)
        .groupBy(
            F.col("__k.level").alias("level"),
            "exchange",
            "symbol",
            F.col("__k.candle_start").alias("candle_start"),
        )
        .agg(*_raw_aggs())
    )


def rollup_reagg(df: DataFrame, minutes: int) -> DataFrame:
    """Aggregate a finer rollup into a coarser one (agg-of-aggs, A6).

    Twin of the cascade MVs (clickhouse_schema.py:169-176): level N is
    built from level N-1's states; here from its finalized rows via
    the open_time/close_time payloads.
    """
    return (
        df.groupBy(
            "exchange",
            "symbol",
            bucket_start("candle_start", minutes).alias("candle_start"),
        )
        .agg(
            F.min_by("open", "open_time").alias("open"),
            F.min("open_time").alias("open_time"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "close_time").alias("close"),
            F.max("close_time").alias("close_time"),
            F.round(F.sum("volume"), 6).alias("volume"),
            F.sum("trades").alias("trades"),
        )
    )


def cascade(
    raw_1m: DataFrame,
    minutes: list[int] | None = None,
    prepartition: bool = True,
) -> dict[int, DataFrame]:
    """Build every rollup level, each from the previous level.

    Returns {minutes: rollup DataFrame}.  Level 1 is the raw candles
    re-shaped to rollup schema; each subsequent level re-aggregates the
    prior one (divisibility enforced by RollupSpec).

    ``prepartition`` hash-partitions the input ONCE on (exchange,
    symbol) — a subset of every level's grouping keys, so
    HashPartitioning(exchange, symbol) satisfies each aggregation's
    ClusteredDistribution and the whole 8-level cascade runs with a
    single shuffle instead of one per level.  At 100 TB that removes
    7 full-table shuffles; per-key skew is bounded because a symbol's
    candles are at most minutes-per-retention rows.
    """
    minutes = minutes or ROLLUP_MINUTES
    if prepartition:
        raw_1m = raw_1m.repartition("exchange", "symbol")
    out: dict[int, DataFrame] = {}
    prev: DataFrame | None = None
    for spec in cascade_specs(minutes):
        if prev is None:
            level = rollup_raw(raw_1m, spec.minutes)
        else:
            level = rollup_reagg(prev, spec.minutes)
        out[spec.minutes] = level
        prev = level
    return out
