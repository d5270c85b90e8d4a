"""Physical table layout (SURVEY.md §2.1 S5-S6, §4).

Spark twin of the reference's MergeTree physical design
(clickhouse_schema.py:143-146):

    PARTITION BY toYYYYMM(start)          -> write.partitionBy(month)
    ORDER BY (exchange,symbol,start,...)  -> sortWithinPartitions(...)
    column codecs / LowCardinality        -> parquet zstd + dict encoding
    index_granularity 8192                -> parquet row-group min/max stats

Writing sorted-within-partitions gives parquet row groups tight
min/max ranges on (exchange, symbol, start), so key-prefix predicates
prune row groups exactly like ClickHouse's sparse primary index, and
month partition directories give Catalyst partition pruning for
time-range queries.  At 100 TB this is the difference between reading
one month × few symbols and scanning the table.

``compact`` is the OPTIMIZE TABLE FINAL analog
(data_quality_check.py:473): rewrite a month partition deduped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from trade_data_collection_service_spark.functions.timeutil import yyyymm
from trade_data_collection_service_spark.operators.dedup import dedup_latest


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def write_candles(df: DataFrame, path: str, mode: str = "append") -> None:
    """Append candles with the reference's partition/sort layout."""
    (
        df.withColumn("month", yyyymm("start"))
        .repartition("month")
        .sortWithinPartitions("exchange", "symbol", "start")
        .write.mode(mode)
        .partitionBy("month")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    n_buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Persist a table hash-bucketed (and sorted) on its join key —
    the co-located-join layout (task brief: "bucketing for co-located
    joins").  Two tables bucketed on the same key with the same bucket
    count join with ZERO shuffle: Catalyst recognizes the output
    partitioning of both scans and plans a sort-merge join directly on
    the bucket files.  At 100 TB this removes the dominant cost of
    every fact⋈fact join that repeats a key (candles⋈candles as-of
    lookups, lineitem⋈orders, …).

    Requires a catalog (saveAsTable) — bucket metadata lives in the
    metastore, not in parquet."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, *keys)
        .sortBy(*keys)
        .format("parquet")
        .saveAsTable(table)
    )


def compact(spark: SparkSession, path: str, months: list[str] | None = None) -> None:
    """Rewrite (a subset of) month partitions with duplicates collapsed
    — OPTIMIZE FINAL.  Repairs after gap refill keep windows
    partition-aligned to bound rewrite cost (SURVEY.md §7).

    Publish protocol (ADVICE r1): the compacted months are first
    materialized to a sibling ``.stage`` directory, then written into
    the live table with dynamic partition overwrite.  Reading and
    overwriting the same path in one job is fragile (it only worked
    because the repartition happened to materialize a shuffle before
    the commit), and a crash mid-commit would lose the partitions
    being rewritten; with the stage step a pre-publish crash leaves
    the table untouched, and a mid-publish crash is repaired by
    re-running compact() on the same months from the intact raw
    versions in stage-input history (same two-step as
    streaming.pipeline.upsert_rollup_levels)."""
    from trade_data_collection_service_spark.streaming.pipeline import _rm

    df = spark.read.parquet(path)
    if months:
        df = df.filter(df["month"].isin(months))
    deduped = dedup_latest(df.drop("month"))
    stage = path + ".stage"
    (
        deduped.withColumn("month", yyyymm("start"))
        .repartition("month")
        .sortWithinPartitions("exchange", "symbol", "start")
        .write.mode("overwrite")
        .partitionBy("month")
        .parquet(stage)
    )
    # per-write option, not a session conf: a session-wide dynamic
    # mode leaks into every later write in the session, and under it
    # the committer skips the _SUCCESS marker that stage WALs rely on
    (
        spark.read.parquet(stage)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("month")
        .parquet(path)
    )
    _rm(spark, stage)
