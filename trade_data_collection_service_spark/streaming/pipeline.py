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
import re
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
    RollupSpec,
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
# Where one upsert stages every level's new months before publishing.
_STAGE = "_rollup.stage"
# A live month renamed aside while its replacement moves in.
_ASIDE = re.compile(r"\.month=[^/]+\.old")


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


def _rename(fs, src, dst) -> None:
    # Hadoop reports a failed rename by returning false, not raising
    if not fs.rename(src, dst):
        raise OSError(f"rename {src} -> {dst} failed")


def _publish_stage(spark: SparkSession, stage: str, path: str) -> None:
    """Move every ``month=`` directory of one level's stage into the
    live level table ``path``, without a Spark job.  Isolated as a
    function so crash tests can inject a failure at the publish.

    Each month is three steps: rename the live month aside to the
    hidden ``.month=YYYYMM.old``, rename the staged month in, delete
    the aside.  Spark and pyarrow skip names starting with ``.``, so a
    reader sees either month whole; between the two renames the month
    is briefly absent.  Asides left by an earlier crash, whose staged
    month was already moved in, are deleted first, which makes a
    repeated publish of the same stage idempotent."""
    fs, live_dir = _fs_for(spark, path)
    fs.mkdirs(live_dir)
    for st in fs.listStatus(live_dir):
        if _ASIDE.fullmatch(st.getPath().getName()):
            fs.delete(st.getPath(), True)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    for st in fs.listStatus(_fs_for(spark, stage)[1]):
        staged = st.getPath()
        name = staged.getName()
        if not name.startswith("month="):
            continue
        live, aside = Path(live_dir, name), Path(live_dir, f".{name}.old")
        replaced = fs.exists(live)
        # nothing between the two renames: a reader listing the level
        # in that gap finds the month missing
        if replaced:
            _rename(fs, live, aside)
        _rename(fs, staged, live)
        if replaced:
            fs.delete(aside, True)


def _recover_stage(spark: SparkSession, stage: str, base_dir: str) -> None:
    """Finish or discard the publish of the rollup stage.

    The stage (``<base_dir>/_rollup.stage``, laid out
    ``level=N/month=YYYYMM``) holds the COMPLETE new contents of every
    touched month of every level (kept untouched buckets + recomputed
    ones), and its ``_SUCCESS`` marker is the write-ahead record of the
    publish.  On entry, three states are possible:

    - no stage: the previous batch finished (or never staged) —
      nothing to do;
    - stage WITHOUT ``_SUCCESS``: crash mid-write; no live table was
      touched, so the stage is discarded and the replayed batch
      restages from scratch;
    - stage WITH ``_SUCCESS``: crash during the publish.  Some months
      may already be live, one may sit aside with its replacement
      still staged, and asides of moved months may remain.  Every
      staged month left is moved in and the asides are removed
      (``_publish_stage`` per level), then the stage is deleted.

    Only the stage holds the kept-untouched-bucket rows of a month
    whose live copy was moved aside, so rolling forward, not
    discarding, is what keeps replay exact: the replayed batch reads
    its keep-set from the live tables."""
    if not table_exists(spark, stage):
        return
    if table_exists(spark, stage + "/_SUCCESS"):
        fs, hstage = _fs_for(spark, stage)
        levels = sorted(
            int(name[len("level="):])
            for name in (st.getPath().getName() for st in fs.listStatus(hstage))
            if name.startswith("level=")
        )
        for m in levels:
            table = os.path.join(base_dir, RollupSpec(m, m).table)
            _publish_stage(spark, f"{stage}/level={m}", table)
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
      the recomputed rows, written by ONE job into the stage
      ``<base_dir>/_rollup.stage``, partitioned by ``(level, month)``
      with one task and one file per (level, month).

    Publish protocol: the stage write is static-overwrite, so its
    ``_SUCCESS`` marker appears only once every level's months are
    complete; no live table changes before then, so a crash leaves the
    live tables untouched and the checkpoint replays the batch.  Then
    each level's staged months are renamed into the live table
    (``_publish_stage``: live month aside, staged month in, aside
    deleted) and the stage is deleted.  A crash during the publish
    leaves a ``_SUCCESS``-marked stage, which ``_recover_stage`` rolls
    forward on the next call, before anything reads the live tables —
    so replay still converges.  On a transactional table format
    (Delta/Iceberg) the publish becomes a single replaceWhere commit.

    Assumes the session time zone is UTC (``session.get_spark``), as
    month partitions are named from UTC days.
    """
    minutes = check_day_levels(minutes or ROLLUP_MINUTES)
    paths = rollup_paths(base_dir, minutes)
    stage = os.path.join(base_dir, _STAGE)
    # Replay safety: finish (or discard) any interrupted publish from
    # a crashed previous run before reading the live tables.
    _recover_stage(spark, stage, base_dir)

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
    # One task per (level, month), so each month is one file.  The
    # partition columns lead the sort, which satisfies the partitioned
    # writer, so it does not re-sort and the key order survives.
    (
        new.withColumn("month", yyyymm("candle_start"))
        .repartition("level", "month")
        .sortWithinPartitions("level", "month", "exchange", "symbol", "candle_start")
        .write.mode("overwrite")
        # static full-dir overwrite: the stage is rebuilt whole, and
        # the static committer writes the _SUCCESS marker that
        # _recover_stage uses as the staged-complete WAL record
        .option("partitionOverwriteMode", "static")
        .partitionBy("level", "month")
        .parquet(stage)
    )
    # The stage is complete: publishing it is the roll-forward that
    # recovery runs after a crash.
    _recover_stage(spark, stage, base_dir)


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
    from trade_data_collection_service_spark.streaming.sinks import (
        ParquetCandleWriter,
    )

    raw = ParquetCandleWriter(out_dir).read_raw(spark)
    return freshness(dedup_latest(raw), threshold_minutes)
