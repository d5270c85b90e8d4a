"""Read-path query surface (SURVEY.md §2.2, §2.4 A1-A3/A7-A8, §2.6).

Each function is a pure DataFrame transform over the (deduped) candle
table or a rollup level — the notebook / README / watchdog queries of
the reference, re-expressed declaratively so Catalyst pushes filters
into the parquet scan and plans TakeOrderedAndProject for top-N.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def earliest_per_symbol(candles: DataFrame, exchange: str, interval: str) -> DataFrame:
    """A1 (load_history.py:285-295): SELECT symbol, MIN(start) ...
    WHERE exchange=? AND interval=? GROUP BY symbol."""
    return (
        candles.filter((F.col("exchange") == exchange) & (F.col("interval") == interval))
        .groupBy("symbol")
        .agg(F.min("start").alias("earliest_start"))
    )


def minmax_window(candles: DataFrame, exchange: str, symbol: str) -> DataFrame:
    """A2 (data_quality_check.py:512-521): scalar min/max start for one pair."""
    return (
        candles.filter((F.col("exchange") == exchange) & (F.col("symbol") == symbol))
        .agg(F.min("start").alias("min_start"), F.max("start").alias("max_start"))
    )


def count_distinct_in_window(
    candles: DataFrame, exchange: str, symbol: str, start, end
) -> DataFrame:
    """A3 (data_quality_check.py:459-469): exact uniq of candle starts
    inside a half-open window — backfill verification."""
    return (
        candles.filter(
            (F.col("exchange") == exchange)
            & (F.col("symbol") == symbol)
            & (F.col("start") >= F.lit(start).cast("timestamp"))
            & (F.col("start") < F.lit(end).cast("timestamp"))
        )
        .agg(F.countDistinct("start").alias("n_candles"))
    )


def latest_per_symbol(candles: DataFrame) -> DataFrame:
    """A7 (data_quality_check.py:107-109,125): latest candle per symbol
    (freshness probe input) — row_number over stop desc."""
    w = Window.partitionBy("symbol").orderBy(
        F.col("stop").desc(), F.col("exchange").desc()
    )
    return (
        candles.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def distinct_pairs(candles: DataFrame) -> DataFrame:
    """A8 (data_quality_check.py:605-608): SELECT DISTINCT exchange, symbol."""
    return candles.select("exchange", "symbol").distinct()


def recent_candles(
    candles: DataFrame, exchange: str, symbol: str, interval: str, limit: int
) -> DataFrame:
    """O3 (notebooks/ohlcv_views.ipynb cell 2): top-N newest candles for
    one (exchange, symbol, interval), re-sorted ascending for plotting.

    Catalyst plans the inner top-N as TakeOrderedAndProject — no full
    sort at scale."""
    return (
        candles.filter(
            (F.col("exchange") == exchange)
            & (F.col("symbol") == symbol)
            & (F.col("interval") == interval)
        )
        .orderBy(F.col("start").desc())
        .limit(limit)
        .orderBy("start")
    )


def symbols_filtered(
    symbols: DataFrame,
    whitelist: list[str] | None,
    symbol_type: str,
    blacklist: list[str],
) -> DataFrame:
    """P5 (data_collector.py:59-94): whitelist ∩ available (priority),
    else substring match, then minus blacklist, then sorted."""
    col = F.col("symbol")
    if whitelist:
        out = symbols.filter(col.isin(whitelist))
    else:
        out = symbols.filter(col.contains(symbol_type))
    if blacklist:
        out = out.filter(~col.isin(blacklist))
    return out.orderBy("symbol")


def readme_window_query(
    candles: DataFrame, symbols: list[str], hours: int, now_expr=None
) -> DataFrame:
    """P4/O4 (README.md:56-68): IN-list symbols over the trailing N
    hours, ordered by (symbol, start).  ``now`` defaults to the max
    event time in the table so results are deterministic for the
    oracle; production passes current_timestamp().

    The default "now" is a broadcast scalar join, not a driver-side
    collect — one job instead of two, and the whole query stays a
    single lazy plan (ADVICE r1: no .collect() in operators/)."""
    if now_expr is None:
        now_ts = F.col("__now")
        base = candles.crossJoin(
            F.broadcast(candles.agg(F.max("start").alias("__now")))
        )
    else:
        now_ts = F.lit(now_expr).cast("timestamp")
        base = candles
    return (
        base.filter(
            F.col("symbol").isin(symbols)
            & (F.col("start") >= now_ts - F.expr(f"INTERVAL {hours} HOURS"))
        )
        .select("symbol", "start", "open", "high", "low", "close", "volume")
        .orderBy("symbol", "start")
    )


def listing_diff(candles: DataFrame, split_ts) -> DataFrame:
    """J2 (data_collector.py:135-137): symbol-universe diff.  The
    watcher compares the exchange's current listings against the known
    set each minute: current − known = hot-add, known − current =
    delist.  Derived deterministically here by splitting the table at
    ``split_ts``: known = symbols seen before, current = seen after.
    Set difference via exceptAll / anti-join."""
    known = candles.filter(F.col("start") < F.lit(split_ts).cast("timestamp")).select(
        "exchange", "symbol"
    ).distinct()
    current = candles.filter(
        F.col("start") >= F.lit(split_ts).cast("timestamp")
    ).select("exchange", "symbol").distinct()
    added = current.exceptAll(known).withColumn("change", F.lit("added"))
    delisted = known.exceptAll(current).withColumn("change", F.lit("delisted"))
    return added.unionByName(delisted).orderBy("exchange", "symbol", "change")


def listing_stable(candles: DataFrame, split_ts) -> DataFrame:
    """§2.7 completion (with exceptAll/union in listing_diff): the
    symbol universe present on BOTH sides of the split — INTERSECT.
    Spark plans intersect as an aggregate + left-semi join, so the
    distinct sets never materialize a cross product."""
    before = candles.filter(
        F.col("start") < F.lit(split_ts).cast("timestamp")
    ).select("exchange", "symbol")
    after = candles.filter(
        F.col("start") >= F.lit(split_ts).cast("timestamp")
    ).select("exchange", "symbol")
    return before.intersect(after).orderBy("exchange", "symbol")


def freshness(candles: DataFrame, threshold_minutes: int = 2) -> DataFrame:
    """T5 (data_quality_check.py:111-141): newest stop per symbol, lag
    vs the table's max stop (the deterministic stand-in for now()),
    stale flag at the 2-minute SLO.  The table's max stop is the max of
    the per-symbol maxima, taken over an unpartitioned window on the
    one-row-per-symbol result, so the candles are aggregated once."""
    now = F.max("latest_stop").over(Window.partitionBy())
    return (
        candles.groupBy("symbol")
        .agg(F.max("stop").alias("latest_stop"))
        .withColumn("lag_seconds", F.unix_timestamp(now) - F.unix_timestamp("latest_stop"))
        .withColumn("is_stale", F.col("lag_seconds") > threshold_minutes * 60)
        .orderBy("symbol")
    )
