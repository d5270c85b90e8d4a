"""The expected store, computed without the engine.

The engine keeps a raw candle table (every valid version, last write
wins on read) and eight rollup levels, each partitioned by month.  This
module rebuilds what those tables must hold from the generated rows
alone, with pandas, and reads what the engine stored with pyarrow, so
a check costs no Spark job and does not trust the code it checks.

Every level is aggregated straight from the 1-minute rows, not from the
level below, so the check also covers the cascade's exactness (an
N-minute bucket re-aggregated from finer buckets equals the same bucket
built from 1-minute candles).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads

from gen import MINUTE_NS

LEVELS = (1, 5, 15, 30, 60, 120, 240, 1440)  # the engine's cascade, in minutes
LEVEL_DIRS = {1: "candles_1m", 5: "candles_5m", 15: "candles_15m", 30: "candles_30m",
              60: "candles_1h", 120: "candles_2h", 240: "candles_4h", 1440: "candles_1d"}
BUCKET_KEY = ["exchange", "symbol", "candle_start"]
RAW_COLS = ["exchange", "symbol", "interval", "start", "stop", "close_unixtime", "trades",
            "open", "high", "low", "close", "volume", "timestamp", "receipt_timestamp"]


def rollup(latest: pd.DataFrame, minutes: int) -> pd.DataFrame:
    """One level from deduplicated 1-minute rows: open/close at the
    earliest/latest minute, high max, low min, volume summed and rounded
    to 6 decimals, trades summed.  ``start`` is epoch nanoseconds."""
    step = minutes * MINUTE_NS
    df = latest.assign(candle_start=latest["start"].to_numpy() // step * step).sort_values(
        BUCKET_KEY + ["start"]
    )
    g = df.groupby(BUCKET_KEY, sort=True)
    out = pd.DataFrame(
        {
            "open": g["open"].first(),
            "open_time": g["start"].min(),
            "high": g["high"].max(),
            "low": g["low"].min(),
            "close": g["close"].last(),
            "close_time": g["start"].max(),
            "volume": g["volume"].sum().round(6),
            "trades": g["trades"].sum(),
        }
    )
    return out.reset_index()


def read_table(path: str) -> pd.DataFrame:
    """A Spark-written parquet table as pandas; timestamps as int64 ns,
    the ``month`` partition column dropped."""
    t = pads.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = {}
    for name, col in zip(t.column_names, t.columns):
        if name == "month":
            continue
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("ns", tz=col.type.tz)).cast(pa.int64())
        cols[name] = col.to_numpy()
    return pd.DataFrame(cols)


def latest(rows: pd.DataFrame) -> pd.DataFrame:
    """Last write wins per (symbol, start): the highest receipt, then the
    highest close and volume, as the engine breaks ties."""
    return (
        rows.sort_values(["exchange", "symbol", "start", "receipt_timestamp", "close", "volume"])
        .drop_duplicates(["exchange", "symbol", "start"], keep="last")
        .reset_index(drop=True)
    )


def diff(got: pd.DataFrame, want: pd.DataFrame, key: list[str]) -> str:
    """'' when both frames hold the same rows (any order), else what
    differs.  Floats are compared rounded to 6 decimals."""
    if len(got) != len(want):
        return f"{len(got)} rows, want {len(want)}"
    cols = list(want.columns)
    if sorted(got.columns) != sorted(cols):
        return f"columns {sorted(got.columns)}, want {sorted(cols)}"
    a = got[cols].sort_values(key).reset_index(drop=True)
    b = want.sort_values(key).reset_index(drop=True)
    bad = []
    for c in cols:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            same = np.round(x.astype(float), 6) == np.round(y.astype(float), 6)
        else:
            same = x == y
        if not same.all():
            bad.append(f"{c} on {int((~same).sum())} rows")
    return "; ".join(bad)


def check_store(store_dir: str, want_latest: pd.DataFrame) -> list[str]:
    """Compare the stored raw table (deduplicated) and all eight levels
    with ``want_latest``, the latest valid version of every key that
    must be stored.  Returns one message per table that differs."""
    errs = []
    raw = latest(read_table(os.path.join(store_dir, "candles_raw"))[RAW_COLS])
    want = want_latest[RAW_COLS]
    d = diff(raw, want, ["symbol", "start"])
    if d:
        errs.append(f"raw: {d}")
    for m in LEVELS:
        got = read_table(os.path.join(store_dir, LEVEL_DIRS[m]))
        d = diff(got, rollup(want, m), BUCKET_KEY)
        if d:
            errs.append(f"level {m}m: {d}")
    return errs
