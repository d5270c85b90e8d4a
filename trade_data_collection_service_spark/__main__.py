"""Service entrypoints mirroring the reference's docker-compose
services (docker-compose.yaml:2-30) as thin argparse wrappers over
the library operators:

- ``ingest``   = the realtime streamer (app/data_collector.py):
  file-source candle stream → validate → raw append + the 1m→1d
  rollup cascade (every level of ``schema.ROLLUP_MINUTES`` unless
  ``--minutes`` names a subset).
- ``backfill`` = the historical loader (app/load_history.py): probe
  earliest stored candles, emit the chunk plan.
- ``watchdog`` = the quality daemon (app/data_quality_check.py): one
  freshness → gap detect → refill → rollup repair → verify pass.

All state lives in parquet directories passed on the command line;
every command prints ONE JSON summary line, so the services compose
in shell scripts/cron the way the reference's compose services do.

Usage:
  python -m trade_data_collection_service_spark ingest \\
      --source DIR --out DIR --checkpoint DIR \\
      [--minutes 1,5,15,30,60,120,240,1440]
  python -m trade_data_collection_service_spark backfill \\
      --table DIR --start-date 2024-01-01 --chunk-minutes 720 \\
      --safe-now 2024-02-01 [--out DIR]
  python -m trade_data_collection_service_spark watchdog \\
      --table DIR --truth DIR [--rollup-minutes 5] [--report-dir DIR]
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(app: str, master: str):
    from trade_data_collection_service_spark.session import get_spark

    return get_spark(app, master=master)


def cmd_ingest(args: argparse.Namespace) -> dict:
    from trade_data_collection_service_spark.schema import ROLLUP_MINUTES
    from trade_data_collection_service_spark.streaming.pipeline import (
        start_candle_stream,
    )

    spark = _spark("ingest", args.master)
    minutes = args.minutes or list(ROLLUP_MINUTES)
    q = start_candle_stream(
        spark,
        args.source,
        args.out,
        args.checkpoint,
        available_now=not args.continuous,
        minutes=minutes,
    )
    q.awaitTermination(args.timeout if args.timeout else None)
    if q.exception() is not None:
        raise RuntimeError(str(q.exception())[:1000])
    n = spark.read.parquet(f"{args.out}/candles_raw").count()
    return {"cmd": "ingest", "raw_rows": n, "levels": minutes}


def cmd_backfill(args: argparse.Namespace) -> dict:
    from trade_data_collection_service_spark.operators.backfill import (
        backfill_plan,
    )

    spark = _spark("backfill", args.master)
    candles = spark.read.parquet(args.table)
    plan = backfill_plan(
        candles, args.start_date, args.chunk_minutes, args.safe_now
    )
    if args.out:
        plan.write.mode("overwrite").parquet(args.out)
        plan = spark.read.parquet(args.out)
    n = plan.count()
    syms = plan.select("symbol").distinct().count()
    return {"cmd": "backfill", "chunks": n, "symbols": syms}


def cmd_watchdog(args: argparse.Namespace) -> dict:
    from trade_data_collection_service_spark.operators.watchdog import (
        table_refill,
        watchdog_cycle,
    )

    spark = _spark("watchdog", args.master)
    raw = spark.read.parquet(args.table)
    truth = spark.read.parquet(args.truth) if args.truth else raw
    report = watchdog_cycle(
        raw,
        table_refill(truth),
        rollup_minutes=args.rollup_minutes,
        freshness_threshold_minutes=args.freshness_minutes,
    )
    stale = report.freshness.filter("is_stale").count()
    islands = report.gap_islands.count()
    refilled = report.refill.count()
    mismatches = report.verify.filter("NOT ok").count()
    if args.report_dir:
        report.gap_islands.write.mode("overwrite").parquet(
            f"{args.report_dir}/gap_islands"
        )
        report.verify.write.mode("overwrite").parquet(
            f"{args.report_dir}/verify"
        )
    return {
        "cmd": "watchdog",
        "stale_symbols": stale,
        "gap_islands": islands,
        "refilled_rows": refilled,
        "verify_mismatches": mismatches,
    }


def _levels(text: str) -> list[int]:
    """``--minutes`` value: comma-separated levels, each dividing a day."""
    from trade_data_collection_service_spark.schema import check_day_levels

    try:
        return check_day_levels([int(m) for m in text.split(",")])
    except ValueError as e:
        raise argparse.ArgumentTypeError(str(e)) from None


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="trade_data_collection_service_spark")
    p.add_argument("--master", default="local[*]")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest", help="stream candles into raw + rollups")
    pi.add_argument("--source", required=True)
    pi.add_argument("--out", required=True)
    pi.add_argument("--checkpoint", required=True)
    pi.add_argument(
        "--minutes",
        type=_levels,
        help="comma-separated rollup levels, each dividing 1440 (default: all 8)",
    )
    pi.add_argument("--continuous", action="store_true")
    pi.add_argument("--timeout", type=int, default=0)
    pi.set_defaults(fn=cmd_ingest)

    pb = sub.add_parser("backfill", help="emit the chunk plan")
    pb.add_argument("--table", required=True)
    pb.add_argument("--start-date", required=True)
    pb.add_argument("--chunk-minutes", type=int, default=720)
    pb.add_argument("--safe-now", required=True)
    pb.add_argument("--out")
    pb.set_defaults(fn=cmd_backfill)

    pw = sub.add_parser("watchdog", help="one quality/repair pass")
    pw.add_argument("--table", required=True)
    pw.add_argument("--truth")
    pw.add_argument("--rollup-minutes", type=int, default=5)
    pw.add_argument("--freshness-minutes", type=int, default=2)
    pw.add_argument("--report-dir")
    pw.set_defaults(fn=cmd_watchdog)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    summary = args.fn(args)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
