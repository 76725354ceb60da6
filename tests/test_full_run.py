"""The `make import` parity driver: all four datasets + summaries in
one call (Makefile:17-22), and its CLI."""

from __future__ import annotations

import datetime as dt
import os

from fxa_activity_metrics_spark.run import main, run_full_import
from fxa_activity_metrics_spark.schemas import DATASETS, SAMPLE_RATES
from fxa_activity_metrics_spark.sources.lake import Lake
from tests.fixtures import (
    at_production_file_budget,
    flow_rows_day1,
    flow_rows_day2,
    uid_extent,
    write_activity_days,
    write_csv,
    write_hashed_activity_days,
)

D1 = dt.date(2024, 3, 1)
D2 = dt.date(2024, 3, 2)


def _write_all(src: str) -> None:
    write_activity_days(src, [D1, D2])
    write_csv(src, "flow_events", D1, flow_rows_day1(D1))
    write_csv(src, "flow_events", D2, flow_rows_day2(D2))
    write_csv(src, "email_events", D1, [[1709280000, "a" * 64, "gmail.com", "verify", "sent", "", "", "en"]])
    write_csv(src, "fxa-basic-metrics", D1, [[D1.isoformat(), 100, 90]])


def test_run_full_import(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_all(src)
    lake = Lake(spark, str(tmp_path / "lake"))
    report = run_full_import(spark, lake, src)
    assert report.activity_days == [D2, D1]
    assert report.flow_days == [D2, D1]
    assert report.email_days == [D1]
    assert report.counts_files == 1
    assert report.summary_ranges["_full"] == (D1, D2)
    for tbl in (
        "activity_events", "flow_events", "flow_metadata", "email_events",
        "counts", "daily_activity_per_device", "daily_multi_device_users",
    ):
        assert lake.exists(tbl) or tbl == "daily_multi_device_users", tbl
    # second run: everything is a no-op
    again = run_full_import(spark, lake, src)
    assert again.activity_days == [] and again.flow_days == [] and again.counts_files == 0


def test_cli_smoke(spark, tmp_path, capsys):
    src = str(tmp_path / "src")
    _write_all(src)
    main(["--lake", str(tmp_path / "lake"), "--source", src], spark=spark)
    out = capsys.readouterr().out
    assert "activity=2d" in out and "counts=1" in out


def test_every_variant_lands_clustered(spark, tmp_path):
    """run_full_import lands every day of every clustered table —
    activity, flow and email, each in its three sampled variants —
    z-ordered and marked as it is written, with no sweep left to do;
    the 10% activity cohort (clustered on the full day's boundaries)
    shows it in its uid extents."""
    src = str(tmp_path / "src")
    _write_all(src)
    # replace the small activity fixture with shuffled-uid days large
    # enough for the 10% cohort to span several files
    write_hashed_activity_days(src, [D1, D2], n=20_000)
    lake = Lake(spark, str(tmp_path / "lake"))
    at_production_file_budget(spark, lambda: run_full_import(spark, lake, src))
    for ds in DATASETS.values():
        keys = ",".join(ds.zorder_cols)
        for suffix, _pct, _months in SAMPLE_RATES:
            table = ds.name + suffix
            days = lake.days(table)
            assert days or suffix, table
            for day in days:
                marker = os.path.join(lake.path(table), f"day={day.isoformat()}", "_CLUSTERED")
                assert open(marker).read() == keys, (table, day)
            assert lake.maintain(table, list(ds.zorder_cols)) == [], table
    for day in (D1, D2):
        part = os.path.join(lake.path("activity_events_sampled_10"), f"day={day.isoformat()}")
        assert uid_extent(part) < 0.7, (day, uid_extent(part))
