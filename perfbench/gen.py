"""Seeded synthetic 1-minute candles for the benchmark.

Independent of the engine: numpy, pandas and pyarrow only, so the
inputs (and the expectations derived from them) do not move when the
engine changes.  The same ``(spec, seed)`` always yields the same rows.

Dimensions (``Spec``): symbol count, history depth, share of late
revisions, share of invalid rows, share of history minutes punched out
as holes and their island lengths, and the Zipf skew of read
popularity.

Row model, matching the engine's raw-candle schema:
- every (symbol, minute) has a first version; a revision is a second
  row for the same key with a later ``receipt_timestamp`` and a moved
  close/volume (still valid), so last-write-wins must pick it;
- an invalid row is a copy of a valid row with ``high`` below
  ``least(open, close)`` and ``start`` shifted by 30 s, so it has its
  own key and the validator must drop it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CANDLE_ARROW_SCHEMA = pa.schema(
    [
        ("exchange", pa.string()),
        ("symbol", pa.string()),
        ("interval", pa.string()),
        ("start", pa.timestamp("us", tz="UTC")),
        ("stop", pa.timestamp("us", tz="UTC")),
        ("close_unixtime", pa.int64()),
        ("trades", pa.int64()),
        ("open", pa.float64()),
        ("high", pa.float64()),
        ("low", pa.float64()),
        ("close", pa.float64()),
        ("volume", pa.float64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("receipt_timestamp", pa.timestamp("us", tz="UTC")),
    ]
)
COLUMNS = CANDLE_ARROW_SCHEMA.names
MINUTE_NS = 60_000_000_000
SECOND_NS = 1_000_000_000


@dataclass(frozen=True)
class Spec:
    symbols: int
    history_days: float
    start: datetime  # first history minute, UTC
    revision_share: float  # late revisions per landed file, as a share of symbols
    invalid_share: float  # invalid rows per landed file, as a share of its rows
    hole_share: float = 0.0  # history minutes missing from the store
    island_min: int = 1
    island_max: int = 30
    zipf_s: float = 1.1  # read popularity skew over symbols
    exchange: str = "EXCH_A"

    @property
    def history_minutes(self) -> int:
        return int(round(self.history_days * 1440))


@dataclass
class Dataset:
    spec: Spec
    symbols: list[str]
    seed_rows: pd.DataFrame  # what lands first: history minus holes, + revisions + invalid
    truth: pd.DataFrame  # latest version of every valid history key, holes included
    hole_keys: pd.DataFrame  # (symbol, start) of every punched minute
    islands: int  # number of punched islands
    seed_invalid: int
    popularity: np.ndarray  # read probability per symbol
    tail: list[pd.DataFrame] = field(default_factory=list)
    tail_invalid: list[int] = field(default_factory=list)


def _minute_ns(spec: Spec) -> int:
    ts = spec.start
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=timezone.utc)
    return int(ts.timestamp()) * SECOND_NS


def _candles(rng, symbols: list[str], minutes: np.ndarray, spec: Spec, price0) -> pd.DataFrame:
    """First versions for every (symbol, minute) on the grid; ``minutes``
    are epoch nanoseconds.  Prices are cents, volumes thousandths, so
    sums stay exact after the engine's 6-decimal rounding."""
    ns, nm = len(symbols), len(minutes)
    steps = rng.normal(0.0, 0.0015, size=(ns, nm))
    close = np.round(price0[:, None] * np.exp(np.cumsum(steps, axis=1)), 2)
    open_ = np.concatenate([np.round(price0[:, None], 2), close[:, :-1]], axis=1)
    spread = np.round(np.abs(rng.normal(0.0, 0.002, size=(ns, nm))) * close, 2)
    high = np.maximum(open_, close) + spread
    low = np.maximum(np.minimum(open_, close) - spread, 0.01)
    volume = np.round(rng.uniform(0.1, 100.0, size=(ns, nm)), 3)
    trades = rng.integers(1, 200, size=(ns, nm))
    receipt_s = rng.integers(1, 6, size=(ns, nm))
    start = np.tile(minutes, ns)
    stop = start + MINUTE_NS
    return pd.DataFrame(
        {
            "exchange": spec.exchange,
            "symbol": np.repeat(np.array(symbols, dtype=object), nm),
            "interval": "1m",
            "start": start,
            "stop": stop,
            "close_unixtime": stop // SECOND_NS,
            "trades": trades.ravel().astype(np.int64),
            "open": open_.ravel(),
            "high": np.round(high.ravel(), 2),
            "low": np.round(low.ravel(), 2),
            "close": close.ravel(),
            "volume": volume.ravel(),
            "timestamp": start + 59 * SECOND_NS,
            "receipt_timestamp": stop + receipt_s.ravel() * SECOND_NS,
        }
    )


def _revise(rows: pd.DataFrame, rng, receipt_ns) -> pd.DataFrame:
    """Later, still-valid versions of ``rows``: close moves inside
    [low, high], volume grows, receipt is ``receipt_ns``."""
    rev = rows.copy()
    step = np.round(rng.uniform(-1.0, 1.0, size=len(rev)) * (rev["high"] - rev["low"]), 2)
    rev["close"] = np.round(np.clip(rev["close"] + step, rev["low"], rev["high"]), 2)
    rev["volume"] = np.round(rev["volume"] + 1.0, 3)
    rev["receipt_timestamp"] = receipt_ns
    return rev


def _corrupt(rows: pd.DataFrame) -> pd.DataFrame:
    """Invalid copies: OHLC ordering violated, key shifted by 30 s."""
    bad = rows.copy()
    bad["start"] = bad["start"] + 30 * SECOND_NS
    bad["high"] = np.minimum(bad["open"], bad["close"]) - 1.0
    return bad


def _holes(rng, n_minutes: int, spec: Spec) -> list[tuple[int, int]]:
    """Non-touching islands (first minute, length) inside the history,
    never at its first or last minute, covering ~hole_share of it."""
    if spec.hole_share <= 0:
        return []
    target = spec.hole_share * n_minutes
    taken = np.zeros(n_minutes, dtype=bool)
    out: list[tuple[int, int]] = []
    missing = 0
    while missing < target:
        length = int(rng.integers(spec.island_min, spec.island_max + 1))
        first = int(rng.integers(1, n_minutes - length - 1))
        # one present minute on each side keeps islands apart
        if taken[first - 1 : first + length + 1].any():
            continue
        taken[first : first + length] = True
        out.append((first, length))
        missing += length
    return out


def generate(spec: Spec, seed: int, tail_files: int = 0) -> Dataset:
    """Build the seed history and ``tail_files`` live files.

    Tail file k holds minute ``history_minutes + k`` for every symbol,
    revisions of earlier minutes for ``revision_share`` of the symbols,
    and ``invalid_share`` invalid rows.  Tail revisions carry a receipt
    30 s after their file's minute closes, later than any earlier
    version of the same key.
    """
    rng = np.random.default_rng(seed)
    symbols = [f"SYM{i:03d}" for i in range(spec.symbols)]
    t0 = _minute_ns(spec)
    h = spec.history_minutes
    minutes = t0 + np.arange(h + tail_files, dtype=np.int64) * MINUTE_NS
    # Fixed per symbol, not drawn from the seed: the price level sets how
    # well the store compresses, and store size must not swing by seed.
    price0 = np.geomspace(20.0, 500.0, spec.symbols)
    grid = _candles(rng, symbols, minutes, spec, price0)
    minute_idx = np.tile(np.arange(h + tail_files), spec.symbols)
    history = grid[minute_idx < h].reset_index(drop=True)

    # Seed revisions: a second, later version for some history keys.
    n_rev = int(round(spec.revision_share * len(history)))
    rev_idx = np.sort(rng.choice(len(history), size=n_rev, replace=False))
    rev = _revise(
        history.iloc[rev_idx],
        rng,
        history["receipt_timestamp"].to_numpy()[rev_idx]
        + rng.integers(10, 60, size=n_rev) * SECOND_NS,
    )
    truth = history.copy()
    for c in ("close", "volume", "receipt_timestamp"):
        truth.loc[rev_idx, c] = rev[c].to_numpy()

    # Holes, per symbol.
    hole_mask = np.zeros(len(history), dtype=bool)
    islands = 0
    for s in range(spec.symbols):
        for first, length in _holes(rng, h, spec):
            hole_mask[s * h + first : s * h + first + length] = True
            islands += 1
    present = ~hole_mask
    n_bad = int(round(spec.invalid_share * present.sum()))
    bad = _corrupt(history[present].sample(n=n_bad, random_state=rng.integers(2**31)))
    rev_present = rev[present[rev_idx]]
    seed_rows = pd.concat([history[present], rev_present, bad], ignore_index=True)

    ds = Dataset(
        spec=spec,
        symbols=symbols,
        seed_rows=seed_rows,
        truth=truth,
        hole_keys=history.loc[hole_mask, ["symbol", "start"]].reset_index(drop=True),
        islands=islands,
        seed_invalid=n_bad,
        popularity=_zipf(rng, spec),
    )
    # Live tail: minute h+k for every symbol + late revisions + invalid rows.
    present_keys = present.copy()
    for k in range(tail_files):
        m = h + k
        first = grid[minute_idx == m]
        n_r = int(round(spec.revision_share * spec.symbols))
        picks = []
        for s in rng.choice(spec.symbols, size=n_r, replace=False):
            back = int(rng.integers(1, min(m, 1440) + 1))
            j = m - back
            if j < h and not present_keys[s * h + j]:
                continue  # never revise a hole: it would refill it
            picks.append(s * (h + tail_files) + j)
        receipt = minutes[m] + MINUTE_NS + 30 * SECOND_NS
        revs = _revise(grid.iloc[picks], rng, receipt)
        n_inv = int(round(spec.invalid_share * len(first)))
        inv = _corrupt(first.sample(n=n_inv, random_state=rng.integers(2**31)))
        ds.tail.append(pd.concat([first, revs, inv], ignore_index=True))
        ds.tail_invalid.append(n_inv)
    return ds


def _zipf(rng, spec: Spec) -> np.ndarray:
    ranks = rng.permutation(spec.symbols) + 1
    w = 1.0 / ranks.astype(float) ** spec.zipf_s
    return w / w.sum()


def to_arrow(rows: pd.DataFrame) -> pa.Table:
    out = {}
    for f in CANDLE_ARROW_SCHEMA:
        col = rows[f.name].to_numpy()
        if pa.types.is_timestamp(f.type):
            out[f.name] = pa.array(col.astype("int64") // 1000, type=pa.int64()).cast(f.type)
        else:
            out[f.name] = pa.array(col, type=f.type)
    return pa.table(out, schema=CANDLE_ARROW_SCHEMA)


def write_atomic(rows: pd.DataFrame, path: str, row_group_size: int | None = None) -> None:
    """Write a parquet file under a hidden name, then rename it into
    place: a file-source stream never sees a partial file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(to_arrow(rows), tmp, row_group_size=row_group_size)
    os.replace(tmp, path)


def is_valid(rows: pd.DataFrame) -> pd.Series:
    """The rows the engine's validator must accept: every generated
    invalid row, and only those, has ``high`` below ``max(open, close)``."""
    return rows["high"] >= np.maximum(rows["open"], rows["close"])
