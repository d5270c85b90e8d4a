"""Schemas and rollup specs.

Mirrors the reference's explicit DDL-first schema system:
- raw candle table: ``CREATE_CANDLES_TABLE_QUERY`` (clickhouse_schema.py:123-147)
- rollup tables:    ``build_rollup_table_query`` (clickhouse_schema.py:149-164)
- rollup cascade:   ``ROLLUP_MINUTES`` + divisibility check (clickhouse_schema.py:29,94-106)
- timeframe regex:  ``^(\\d+)([smhdw])$`` (load_history.py:238-260)

Rollup rows store *finalized* aggregate values plus the argMin/argMax
time payloads (``open_time``/``close_time``) so higher levels can be
re-aggregated exactly from lower levels (SURVEY.md §1.4, §2.4 A6) —
the Spark-native replacement for ClickHouse AggregateFunction states.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import types as T

# Cascade levels, identical to the reference (clickhouse_schema.py:29).
ROLLUP_MINUTES: list[int] = [1, 5, 15, 30, 60, 120, 240, 1440]

_TIMEFRAME_RE = re.compile(r"^(\d+)([smhdw])$")
_UNIT_SECONDS = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}


def parse_timeframe(tf: str) -> int:
    """Parse a timeframe string like '1m', '4h', '1d' into seconds.

    Twin of ``load_history.py:238-260`` / ``data_quality_check.py:55-76``.
    """
    m = _TIMEFRAME_RE.match(tf)
    if not m:
        raise ValueError(f"invalid timeframe: {tf!r} (expected ^(\\d+)([smhdw])$)")
    n, unit = int(m.group(1)), m.group(2)
    if n <= 0:
        raise ValueError(f"invalid timeframe: {tf!r} (count must be positive)")
    return n * _UNIT_SECONDS[unit]


def timeframe_label(minutes: int) -> str:
    """Human label for a rollup level: 5 -> '5m', 60 -> '1h', 1440 -> '1d'."""
    if minutes % 1440 == 0:
        return f"{minutes // 1440}d"
    if minutes % 60 == 0:
        return f"{minutes // 60}h"
    return f"{minutes}m"


@dataclass(frozen=True)
class RollupSpec:
    """One rollup level: label, bucket width, source level.

    Twin of the reference's RollupSpec (clickhouse_schema.py:32-106),
    including the cascade divisibility invariant (:98-99): each level
    must be an integer multiple of the level it is built from.
    """

    minutes: int
    source_minutes: int

    def __post_init__(self) -> None:
        if self.minutes <= 0 or self.source_minutes <= 0:
            raise ValueError("rollup minutes must be positive")
        if self.minutes % self.source_minutes != 0:
            raise ValueError(
                f"rollup {self.minutes}m is not divisible by its source "
                f"{self.source_minutes}m — cascade would be inexact"
            )

    @property
    def label(self) -> str:
        return timeframe_label(self.minutes)

    @property
    def table(self) -> str:
        return f"candles_{self.label}"

    @property
    def seconds(self) -> int:
        return self.minutes * 60


def cascade_specs(minutes: list[int] | None = None) -> list[RollupSpec]:
    """Build the cascade 1m→5m→15m→30m→1h→2h→4h→1d, each level sourced
    from the previous (clickhouse_schema.py:94-106)."""
    minutes = minutes or ROLLUP_MINUTES
    specs = []
    for i, m in enumerate(minutes):
        src = minutes[i - 1] if i > 0 else m
        specs.append(RollupSpec(minutes=m, source_minutes=src))
    return specs


DAY_MINUTES = 1440


def check_day_levels(minutes: list[int]) -> list[int]:
    """Validate levels for a cascade maintained one UTC day at a time.

    Beyond ``cascade_specs``' divisibility, every level must divide a
    day: only then does each bucket lie inside one UTC day, so that
    recomputing the touched days recomputes every touched bucket
    whole.  Raises ``ValueError`` otherwise; returns ``minutes``."""
    cascade_specs(minutes)
    bad = [m for m in minutes if DAY_MINUTES % m]
    if bad:
        raise ValueError(
            f"rollup levels {bad} do not divide a day ({DAY_MINUTES} minutes)"
            " — their buckets would straddle UTC midnight"
        )
    return minutes


# Raw candle schema — Spark twin of clickhouse_schema.py:123-147.
CANDLE_SCHEMA = T.StructType(
    [
        T.StructField("exchange", T.StringType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("interval", T.StringType(), False),
        T.StructField("start", T.TimestampType(), False),
        T.StructField("stop", T.TimestampType(), False),
        T.StructField("close_unixtime", T.LongType(), False),
        T.StructField("trades", T.LongType(), False),
        T.StructField("open", T.DoubleType(), False),
        T.StructField("high", T.DoubleType(), False),
        T.StructField("low", T.DoubleType(), False),
        T.StructField("close", T.DoubleType(), False),
        T.StructField("volume", T.DoubleType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("receipt_timestamp", T.TimestampType(), False),
    ]
)

# Dedup key + version column (ReplacingMergeTree(receipt_timestamp)
# ORDER BY (exchange, symbol, start, interval), clickhouse_schema.py:143-145).
CANDLE_KEY = ["exchange", "symbol", "start", "interval"]
CANDLE_VERSION = "receipt_timestamp"

# Rollup schema — finalized states + arg payloads (SURVEY.md §1.4).
ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("exchange", T.StringType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("candle_start", T.TimestampType(), False),
        T.StructField("open", T.DoubleType(), False),
        T.StructField("open_time", T.TimestampType(), False),
        T.StructField("high", T.DoubleType(), False),
        T.StructField("low", T.DoubleType(), False),
        T.StructField("close", T.DoubleType(), False),
        T.StructField("close_time", T.TimestampType(), False),
        T.StructField("volume", T.DoubleType(), False),
        T.StructField("trades", T.LongType(), False),
    ]
)

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
