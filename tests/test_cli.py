"""Service CLI smoke: the three __main__ subcommands (the reference's
docker-compose services) run end-to-end in-process and print a JSON
summary."""

import json

import pytest
from pyspark.sql import functions as F

from trade_data_collection_service_spark.__main__ import main
from trade_data_collection_service_spark.candles import (
    candles_with_duplicates,
)
from trade_data_collection_service_spark.schema import CANDLE_SCHEMA


def _capture(capsys):
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_cli_ingest_backfill_watchdog(spark, sf_dir, tmp_path, capsys):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    candles = candles_with_duplicates(spark, sf_dir).select(
        *[f.name for f in CANDLE_SCHEMA.fields]
    )
    candles.coalesce(1).write.mode("append").parquet(src)

    # ingest (availableNow): raw rows land, cascade maintained
    rc = main([
        "--master", "local[4]",
        "ingest", "--source", src, "--out", out,
        "--checkpoint", ckpt, "--minutes", "1,5",
    ])
    assert rc == 0
    ing = _capture(capsys)
    assert ing["cmd"] == "ingest" and ing["raw_rows"] > 0

    raw_path = f"{out}/candles_raw"

    # backfill plan over the ingested table
    rc = main([
        "--master", "local[4]",
        "backfill", "--table", raw_path,
        "--start-date", "2023-12-01", "--chunk-minutes", "1440",
        "--safe-now", "2024-03-01",
    ])
    assert rc == 0
    bf = _capture(capsys)
    assert bf["chunks"] > 0 and bf["symbols"] > 0

    # watchdog: punch a hole in the table, heal from the pristine copy
    holey = str(tmp_path / "holey")
    full = spark.read.parquet(raw_path)
    full.filter(
        ~((F.col("symbol") == "SYM0") & (F.minute("start") == 7))
    ).write.parquet(holey)
    rc = main([
        "--master", "local[4]",
        "watchdog", "--table", holey, "--truth", raw_path,
        "--rollup-minutes", "5",
    ])
    assert rc == 0
    wd = _capture(capsys)
    assert wd["gap_islands"] > 0 and wd["refilled_rows"] > 0
    assert wd["verify_mismatches"] == 0


def test_cli_ingest_defaults_to_full_cascade(spark, sf_dir, tmp_path, capsys):
    from trade_data_collection_service_spark.schema import ROLLUP_MINUTES
    from trade_data_collection_service_spark.streaming.pipeline import (
        read_rollup_level,
        rollup_paths,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    candles_with_duplicates(spark, sf_dir).filter(F.col("symbol") == "SYM0").select(
        *[f.name for f in CANDLE_SCHEMA.fields]
    ).coalesce(1).write.parquet(src)

    rc = main([
        "--master", "local[4]",
        "ingest", "--source", src, "--out", out,
        "--checkpoint", str(tmp_path / "ckpt"),
    ])
    assert rc == 0
    assert _capture(capsys)["levels"] == ROLLUP_MINUTES
    paths = rollup_paths(out)
    assert sorted(paths) == ROLLUP_MINUTES
    for m, path in paths.items():
        assert read_rollup_level(spark, path).count() > 0, m


def test_cli_ingest_rejects_levels_not_dividing_a_day(tmp_path, capsys):
    with pytest.raises(SystemExit) as e:
        main([
            "ingest", "--source", str(tmp_path / "src"), "--out", str(tmp_path / "out"),
            "--checkpoint", str(tmp_path / "ckpt"), "--minutes", "1,7",
        ])
    assert e.value.code == 2
    assert "do not divide a day" in capsys.readouterr().err
    assert not (tmp_path / "out").exists()
