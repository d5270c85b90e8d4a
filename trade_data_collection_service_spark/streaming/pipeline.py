"""Structured Streaming shell (SURVEY.md §2.9 T1-T11, §3.1).

The reference's realtime path is: websocket candle feed → closed
candles only → insert with retries → ClickHouse MV cascade keeps the
rollups fresh.  The Spark-native shape (SURVEY.md §7 step 7):

    readStream (candle events)
      → validate                    (P6, same batch operator)
      → foreachBatch:
           append raw candles, all versions (T3: ReplacingMergeTree
             model — last-write-wins resolved on read, see below)
           recompute every rollup bucket touched by the batch (T4)

The batch-core functions (validate / dedup_latest / rollup_levels)
ARE the streaming logic — foreachBatch wraps them, so
streaming and repair compute identical results (mirrors the reference
reusing the same SELECT for MV and backfill, clickhouse_schema.py:189-206
vs data_quality_check.py:375-390).

Exactly-once: the checkpoint replays an in-flight batch after a
crash; both sinks are idempotent — the raw append is deduped on read
(A9) or compaction, and the rollup upsert recomputes whole
(exchange, symbol, UTC day) slices of every level, so a replay
converges to the same table (SURVEY.md §7 "hard parts").

Why foreachBatch and not a stateful windowed agg: the rollup cascade
must serve reads of EVERY intermediate level (1m..1d), and repairs
must be able to rewrite history far past any watermark.  Keeping the
levels as tables updated per micro-batch — incremental-MV style —
matches the reference's semantics exactly; an in-engine stateful agg
would hold 1d windows open in state for a day and still need the
repair path.  State here is bounded by the batch's touched days,
not by window width.
"""

from __future__ import annotations

import datetime as dt
import os
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trade_data_collection_service_spark.functions.timeutil import yyyymm
from trade_data_collection_service_spark.operators.dedup import dedup_latest
from trade_data_collection_service_spark.operators.rollup import rollup_levels
from trade_data_collection_service_spark.operators.validate import validate
from trade_data_collection_service_spark.schema import (
    CANDLE_SCHEMA,
    DAY_MINUTES,
    ROLLUP_MINUTES,
    ROLLUP_SCHEMA,
    cascade_specs,
    check_day_levels,
)

# A level table's files as stored: the rollup columns plus the month
# partition.  Reading with it skips the footer-reading schema
# inference job that every schema-less read pays.
_LEVEL_FILE_SCHEMA = T.StructType(
    [*ROLLUP_SCHEMA.fields, T.StructField("month", T.StringType())]
)
_DAY_S = DAY_MINUTES * 60


def rollup_paths(base_dir: str, minutes: list[int] | None = None) -> dict[int, str]:
    return {s.minutes: os.path.join(base_dir, s.table) for s in cascade_specs(minutes)}


def _utc_day(col: str) -> Column:
    """Days since the epoch of a timestamp column (UTC day number)."""
    return F.floor(F.unix_timestamp(col) / _DAY_S)


def _day_month(day: int) -> str:
    """The ``yyyymm`` month partition holding UTC day number ``day``."""
    return dt.datetime.fromtimestamp(day * _DAY_S, dt.timezone.utc).strftime("%Y%m")


def _read_level(spark: SparkSession, path: str) -> DataFrame:
    """A level table (or its stage) with its ``month`` partition column."""
    return spark.read.schema(_LEVEL_FILE_SCHEMA).parquet(path)


def _fs_for(spark: SparkSession, path: str):
    """Hadoop FileSystem for ``path`` — works for file://, hdfs://, s3a://."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def table_exists(spark: SparkSession, path: str) -> bool:
    """Explicit missing-table probe.  Replaces the old bare
    ``except Exception`` around the read: ANY other read failure (perm
    error, corrupt footer, transient FS fault) must FAIL the batch so
    the checkpoint replays it — silently treating it as "first batch"
    would discard all untouched history."""
    fs, hpath = _fs_for(spark, path)
    return fs.exists(hpath)


def _rm(spark: SparkSession, path: str) -> None:
    fs, hpath = _fs_for(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, True)


def _publish_stage(spark: SparkSession, stage: str, path: str) -> None:
    """Publish a fully-staged level table into the live path, rewriting
    only the month partitions present in the stage (dynamic partition
    overwrite).  Isolated as a function so crash tests can inject a
    failure at the stage/publish boundary.

    The overwrite mode is a per-write OPTION, not a session conf:
    mutating ``spark.sql.sources.partitionOverwriteMode`` globally
    leaks dynamic-overwrite semantics into every later write in the
    session (and under dynamic mode the committer skips the _SUCCESS
    marker the stage WAL relies on)."""
    (
        _read_level(spark, stage)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("month")
        .parquet(path)
    )


def _recover_stage(spark: SparkSession, stage: str, path: str) -> None:
    """Roll the publish WAL forward on replay after a crash.

    The stage directory is the write-ahead record of the publish: it
    holds the COMPLETE contents of every touched month partition
    (kept untouched buckets + recomputed ones) and is only deleted
    after a successful publish.  On entry, three crash states are
    possible:

    - no stage dir: the previous batch finished (or never staged) —
      nothing to do;
    - stage dir WITHOUT ``_SUCCESS``: crash mid-staging; the live
      table was never touched, so discard the partial stage and let
      the replayed batch restage from scratch;
    - stage dir WITH ``_SUCCESS``: crash between stage completion and
      publish completion.  The live table's touched months may be
      partially written (a dynamic-overwrite job commit is not atomic
      on plain parquet), and the kept-untouched-bucket rows for those
      months exist ONLY in the stage — so republish the stage first,
      restoring the invariant that the live table is whole, then
      delete it.  The replayed batch then recomputes the same months
      idempotently.

    Without this roll-forward, replay-after-mid-publish-crash could
    lose untouched buckets in touched months: the replay's keep-set is
    read from the (damaged) live table."""
    if not table_exists(spark, stage):
        return
    if table_exists(spark, stage + "/_SUCCESS"):
        _publish_stage(spark, stage, path)
    _rm(spark, stage)


def read_rollup_level(spark: SparkSession, path: str) -> DataFrame:
    """Read a rollup level table, hiding the physical ``month``
    partition column (layout detail, not part of the rollup schema)."""
    return _read_level(spark, path).drop("month")


def upsert_rollup_levels(
    spark: SparkSession,
    raw_path: str | DataFrame,
    batch_1m: DataFrame,
    base_dir: str,
    minutes: list[int] | None = None,
) -> None:
    """Incrementally maintain the rollup cascade for one micro-batch.

    Exactness under replays AND arbitrarily-late duplicates: the
    touched buckets are RECOMPUTED from the deduped raw rows, never
    merged additively — an additive merge of a stored bucket with a
    late re-delivery of an already-counted candle would double-count
    volume/trades.  Recomputation makes the whole pipeline idempotent:
    checkpoint replays and duplicate appends converge to the same
    tables (the reference gets this from ReplacingMergeTree dedup +
    watchdog recompute, data_quality_check.py:391-485; we get it
    in-line).

    The unit of work is the touched ``(exchange, symbol, UTC day)``.
    Every level divides a day (``check_day_levels``), so every touched
    bucket of every level lies inside a touched day, and one batch
    costs a fixed number of Spark jobs whatever its size or the
    number of levels it feeds:

    - the touched days are collected once (a handful of keys);
    - the raw rows of those days are read once and deduplicated — the
      day filter commutes with ``dedup_latest`` because ``start`` is
      part of the dedup key.  Raw is not partitioned, so this is a
      scan of raw narrowed by the parquet ``start`` statistics of the
      touched day range, then a broadcast semi-join;
    - every level's buckets of those days come out of ONE aggregation
      (``rollup_levels``), equal to the cascade;
    - each level table is stored ``partitionBy(month)`` (the
      reference's toYYYYMM partitioning, clickhouse_schema.py:144), and
      only the months holding touched days are rewritten.  Their new
      contents, for all levels at once, are the stored rows of those
      months (a partition-pruned read) outside the touched days plus
      the recomputed rows, laid out one task per (level, month) and
      checkpointed once, so no later write reads a table being
      replaced.

    Publish protocol per level: the touched months' new contents are
    first materialized to a sibling ``.stage`` directory, then written
    into the live table with ``partitionOverwriteMode=dynamic``.  A
    crash before the publish leaves the live table untouched (the
    checkpoint replays the batch).  A crash *during* the publish
    job-commit is bounded to the touched month partitions, and the
    completed stage (``_SUCCESS``) is the write-ahead record that
    ``_recover_stage`` rolls forward on the next call, before anything
    reads the live table — so replay still converges.  On a
    transactional table format (Delta/Iceberg) the publish becomes a
    single replaceWhere commit.

    Assumes the session time zone is UTC (``session.get_spark``), as
    month partitions are named from UTC days.
    """
    minutes = check_day_levels(minutes or ROLLUP_MINUTES)
    paths = rollup_paths(base_dir, minutes)
    # Replay safety: finish (or discard) any interrupted publish from
    # a crashed previous run before reading the live tables.
    for m in minutes:
        _recover_stage(spark, paths[m] + ".stage", paths[m])

    day_keys = ["exchange", "symbol", "__day"]
    touched = (
        batch_1m.select("exchange", "symbol", _utc_day("start").alias("__day"))
        .distinct()
        .collect()
    )
    if not touched:
        return
    days = sorted({r["__day"] for r in touched})
    months = sorted({_day_month(d) for d in days})
    keys = F.broadcast(
        spark.createDataFrame(touched, "exchange string, symbol string, __day long")
    )

    raw = (
        raw_path
        if isinstance(raw_path, DataFrame)
        else spark.read.schema(CANDLE_SCHEMA).parquet(raw_path)
    )
    rows = dedup_latest(
        raw.filter(
            (F.col("start") >= F.timestamp_seconds(F.lit(days[0] * _DAY_S)))
            & (F.col("start") < F.timestamp_seconds(F.lit((days[-1] + 1) * _DAY_S)))
        )
        .withColumn("__day", _utc_day("start"))
        .join(keys, day_keys, "left_semi")
        .drop("__day")
    )
    new = rollup_levels(rows, minutes)
    stored = [
        _read_level(spark, paths[m])
        .filter(F.col("month").isin(months))
        .select(F.lit(m).alias("level"), *ROLLUP_SCHEMA.fieldNames())
        for m in minutes
        if table_exists(spark, paths[m])
    ]
    if stored:
        kept = (
            reduce(DataFrame.unionByName, stored)
            .withColumn("__day", _utc_day("candle_start"))
            .join(keys, day_keys, "left_anti")
            .drop("__day")
        )
        new = new.unionByName(kept)
    # One task per (level, month), so each month is one file.  `month`
    # leads the sort because the partitioned write needs month-ordered
    # input and would otherwise re-sort by month alone, losing the key
    # order.  The checkpoint cuts the lineage to the live tables that
    # the loop below replaces.
    new = (
        new.withColumn("month", yyyymm("candle_start"))
        .repartition("level", "month")
        .sortWithinPartitions("month", "level", "exchange", "symbol", "candle_start")
        .localCheckpoint()
    )
    for m in minutes:
        path, stage = paths[m], paths[m] + ".stage"
        (
            new.filter(F.col("level") == m)
            .drop("level")
            .write.mode("overwrite")
            # static full-dir overwrite: the stage is rebuilt whole,
            # and the static committer writes the _SUCCESS marker that
            # _recover_stage uses as the staged-complete WAL record
            .option("partitionOverwriteMode", "static")
            .partitionBy("month")
            .parquet(stage)
        )
        _publish_stage(spark, stage, path)
        _rm(spark, stage)


def start_candle_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    minutes: list[int] | None = None,
    writer=None,
):
    """File-source candle stream → validate → foreachBatch(write raw
    via the pluggable sink + maintain cascade).  There is no watermark:
    correctness does not depend on a lateness bound (see module
    docstring and the comment below).

    ``writer`` is a ``sinks.CandleWriter`` — default ParquetCandleWriter
    (append + dedup-on-read); SqlUpsertCandleWriter is the external-
    database (ClickHouse/JDBC-like) shape with the same idempotency
    contract, so crash replays converge on either sink.

    ``available_now`` processes the current backlog then stops —
    the replayable-test mode; production uses a continuous trigger.
    """
    from trade_data_collection_service_spark.schema import CANDLE_SCHEMA
    from trade_data_collection_service_spark.streaming.sinks import (
        ParquetCandleWriter,
    )

    if writer is None:
        writer = ParquetCandleWriter(out_dir)

    # No stateful dedup in-stream: dropDuplicatesWithinWatermark keeps
    # the FIRST arrival and discards anything below the watermark, which
    # is the wrong semantic for versioned candles — the reference's
    # ReplacingMergeTree keeps every version and resolves last-write-wins
    # at merge/read time (clickhouse_schema.py:143-145).  We mirror that:
    # append all valid versions, dedup_latest on read, compaction
    # rewrites.  This also makes the pipeline insensitive to arrival
    # order — arbitrarily late revisions converge via the rollup
    # recompute, with no state to size and no watermark cliff.
    stream = (
        spark.readStream.schema(CANDLE_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # T9/T10 flow control analog
        .parquet(source_dir)
        .transform(validate)
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        b = dedup_latest(batch).cache()
        try:
            writer.write_raw(b)
            upsert_rollup_levels(
                batch.sparkSession,
                writer.read_raw(batch.sparkSession),
                b,
                out_dir,
                minutes,
            )
        finally:
            b.unpersist()

    stream_writer = stream.writeStream.option(
        "checkpointLocation", checkpoint_dir
    ).foreachBatch(sink)
    if available_now:
        stream_writer = stream_writer.trigger(availableNow=True)
    return stream_writer.start()


def freshness_report(spark: SparkSession, out_dir: str, threshold_minutes: int = 2) -> DataFrame:
    """T5 freshness monitor over the streamed raw table."""
    from trade_data_collection_service_spark.operators.queries import freshness

    raw = spark.read.parquet(os.path.join(out_dir, "candles_raw"))
    return freshness(dedup_latest(raw), threshold_minutes)
