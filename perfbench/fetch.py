"""Benchmark-owned exchange client for the gap-repair refill.

Serves the generated truth, one parquet file per symbol sorted by
``start`` with one-day row groups, so each call reads only the row
groups its range touches.  Instances are shipped to Spark's Python
workers by value (see ``run.py``), so this module must stay free of
benchmark state beyond the directory path.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq


class TruthFetcher:
    """``fetcher(symbol, start, end)`` for ``sources.rest.fetch_chunks``:
    the truth candles of ``symbol`` with ``start <= t < end``."""

    def __init__(self, truth_dir: str):
        self.truth_dir = truth_dir

    def __call__(self, symbol: str, start, end) -> pd.DataFrame:
        lo, hi = _utc(start), _utc(end)
        t = pq.read_table(
            os.path.join(self.truth_dir, f"{symbol}.parquet"),
            filters=[("start", ">=", lo), ("start", "<", hi)],
        )
        out = t.to_pandas()
        for c in ("start", "stop", "timestamp", "receipt_timestamp"):
            out[c] = out[c].dt.tz_convert("UTC").dt.tz_localize(None)
        return out


def _utc(ts) -> pd.Timestamp:
    ts = pd.Timestamp(ts)
    return ts.tz_localize("UTC") if ts.tzinfo is None else ts.tz_convert("UTC")
