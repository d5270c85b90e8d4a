"""Versioned dedup — last-write-wins over the candle key.

Spark twin of ``ReplacingMergeTree(receipt_timestamp)`` + ``FINAL``
(clickhouse_schema.py:143-145; FINAL reads at load_history.py:287,
data_quality_check.py:118).  The reference relies on background merges
collapsing duplicate keys to the max-receipt row; here it is a
read-side view (row_number over the key) plus an optional compaction
rewrite (the ``OPTIMIZE TABLE FINAL`` analog).

Scale note: the window shuffles once on the dedup key — the same
shuffle any groupBy on the key would pay.  Because the physical layout
writes data hash-distributed and sorted by (exchange, symbol, start)
(sources/tables.py), AQE can often satisfy this with an existing
partitioning; duplicates are rare (<5%) so there is no skew concern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from trade_data_collection_service_spark.schema import CANDLE_KEY, CANDLE_VERSION


def dedup_latest(
    df: DataFrame,
    keys: list[str] | None = None,
    version_col: str = CANDLE_VERSION,
    tiebreakers: list[str] | None = None,
    method: str = "agg",
) -> DataFrame:
    """Keep, per key, the single row with max ``version_col``.

    ClickHouse's ReplacingMergeTree tie-break is arbitrary; we make it
    deterministic by additionally ordering on the value columns
    (SURVEY.md §7 "hard parts").

    ``method="agg"`` (default): one aggregation taking
    ``max(struct(version, tiebreakers, payload...))`` — struct
    comparison is lexicographic, so the winner is the max-version row.
    A ``max`` over a struct has no fixed-width buffer, so Spark cannot
    run it as a ``HashAggregate``: the plan is a partial and a final
    ``SortAggregate``, with a ``Sort`` on each side of the shuffle.
    Scale rationale: the partial aggregate runs map-side, so duplicate
    versions collapse BEFORE the shuffle; the window form must shuffle
    every version.  Requires all non-key columns to be orderable types
    (true for the candle schema).

    ``method="window"``: row_number over (version desc, tiebreakers
    desc) — use when payload columns are unorderable (maps, arrays).
    """
    keys = keys or CANDLE_KEY
    tiebreakers = [
        c for c in (tiebreakers if tiebreakers is not None else ["close", "volume"])
        if c in df.columns
    ]
    if method == "agg":
        order = [version_col] + tiebreakers
        payload = [c for c in df.columns if c not in keys and c not in order]
        return (
            df.groupBy(*keys)
            .agg(F.max(F.struct(*order, *payload)).alias("__v"))
            .select(
                *[
                    F.col(c) if c in keys else F.col(f"__v.{c}").alias(c)
                    for c in df.columns
                ]
            )
        )
    order_cols = [F.col(version_col).desc()] + [F.col(c).desc() for c in tiebreakers]
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
