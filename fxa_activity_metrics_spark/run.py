"""Full-pipeline driver + CLI: the engine's `make import`.

The reference's Makefile runs, in order: activity import, flow
import, email import, counts import, daily summary
(Makefile:17-22, one container run per day via Dockerfile:17). This
module is that entry point for the Spark engine — one call drives
every dataset into the lake and refreshes the derived summaries.

Usage:
    python -m fxa_activity_metrics_spark.run \
        --lake /data/lake --source /data/drops [--force-reload]

Source layout: one directory holding the daily drops
(`activity_events-YYYY-MM-DD.csv`, `flow_events-...`,
`email_events-...`, `fxa-basic-metrics-...`).
"""

from __future__ import annotations

import argparse
import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from fxa_activity_metrics_spark.plans.incremental import (
    ImportJob,
    flow_after_day,
    run_counts_import,
    summarize_daily,
)
from fxa_activity_metrics_spark.schemas import ACTIVITY, EMAIL, FLOW, SAMPLE_RATES
from fxa_activity_metrics_spark.sources.lake import Lake


@dataclass
class ImportReport:
    """What one full run did — per-dataset processed days."""

    activity_days: list[dt.date] = field(default_factory=list)
    flow_days: list[dt.date] = field(default_factory=list)
    email_days: list[dt.date] = field(default_factory=list)
    counts_files: int = 0
    summary_ranges: dict[str, tuple[dt.date, dt.date] | None] = field(
        default_factory=dict
    )


def run_full_import(
    spark: SparkSession,
    lake: Lake,
    source_dir: str,
    force_reload: bool = False,
) -> ImportReport:
    """The Makefile pipeline (Makefile:17-22), Spark-side: every
    dataset imported incrementally, then the daily summaries refreshed
    for each sampled variant."""
    report = ImportReport()
    report.activity_days = ImportJob(
        spark=spark, lake=lake, dataset=ACTIVITY, source_dir=source_dir,
        force_reload=force_reload,
    ).run()
    report.flow_days = ImportJob(
        spark=spark, lake=lake, dataset=FLOW, source_dir=source_dir,
        force_reload=force_reload, after_day=flow_after_day,
    ).run()
    report.email_days = ImportJob(
        spark=spark, lake=lake, dataset=EMAIL, source_dir=source_dir,
        force_reload=force_reload,
    ).run()
    report.counts_files = run_counts_import(
        spark, lake, source_dir, force_reload=force_reload
    )
    for suffix, _pct, _months in SAMPLE_RATES:
        if lake.days(f"activity_events{suffix}"):
            report.summary_ranges[suffix or "_full"] = summarize_daily(
                spark, lake, suffix=suffix
            )
    return report


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> None:
    from fxa_activity_metrics_spark.session import get_spark

    ap = argparse.ArgumentParser(description="fxa-metrics-spark full import")
    ap.add_argument("--lake", required=True, help="lake root directory")
    ap.add_argument("--source", required=True, help="daily-drop source directory")
    ap.add_argument("--force-reload", action="store_true")
    args = ap.parse_args(argv)

    owns_session = spark is None
    if spark is None:
        from fxa_activity_metrics_spark.config import EngineConfig

        spark = get_spark("fxa-import", config=EngineConfig.from_env())
    report = run_full_import(
        spark, Lake(spark, args.lake), args.source, force_reload=args.force_reload
    )
    print(
        f"activity={len(report.activity_days)}d flow={len(report.flow_days)}d "
        f"email={len(report.email_days)}d counts={report.counts_files} "
        f"summaries={report.summary_ranges}"
    )
    if owns_session:
        spark.stop()


if __name__ == "__main__":
    main()
