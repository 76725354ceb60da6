"""Regenerate BENCH_PIPELINE.json: the PIPELINE-level scale bench
(VERDICT r13 item 5).

The reference is not a query engine but an import pipeline — per-day
CSV drops loaded into sampled typed tables, flow hook enrichment,
daily summaries, and table maintenance (import_events.py:147-258,
import_flow_events.py:322-369, calculate_daily_summary.py:135-168,
Makefile:17-22).  bench.py times the query surface; this tool times
that PIPELINE shape end-to-end through the same public entry points
the product uses (plans.incremental.ImportJob / summarize_daily),
at two day counts with identical per-day volume, and applies the
repo's scaling gate to each stage: wall clock must not grow faster
than the day count.  At 100 TB the pipeline story is "N more days
cost N more, never N²" — per-day work is bounded (one source file →
bounded partition writes; summaries read only the unprocessed range
plus a fixed lookback; maintenance rewrites each day exactly once),
so day-linear is the machine-checkable contract.

Stages (public API only):
- activity_import: ImportJob(ACTIVITY).run() over all source days
  (per-day CSV load → 3 sampled variants, retention expiry).
- flow_import:     ImportJob(FLOW, after_day=flow_after_day).run() —
  the full hook chain (perm write, flow metadata merge, experiments,
  grace-window backfill).
- summaries:       summarize_daily per sampled variant
  (daily_activity_per_device + the 7-day multi-device join).
- maintain:        ImportJob.maintain — the legacy clustering sweep:
  z-order every unmarked day partition on the dataset's clustering
  keys, once, marker-guarded.
The product clusters each day as it lands (ImportJob.import_day), so
on its own lakes the sweep is a marker check. Here the imports run
with clustering detached (dataclasses.replace(..., zorder_cols=None)),
so every day lands unclustered, as a lake written by older code did,
and `maintain` times the sweep over all D days.

Synthetic drops are deterministic DuckDB-generated CSVs in the
reference's headerless day-file format (FIXTURES.md §1): 100k
activity rows/day, 10k flows/day × 3 events.  Usage:
    python tools/bench_pipeline.py [base_days] [ratio]
defaults: 3 10 (3-day base run, 30-day scale run); base_days must be
at least 2, so no stage is gated against a one-day base.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import scaling_violations, warm_session  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ACT_ROWS_PER_DAY = 100_000
FLOWS_PER_DAY = 10_000  # × 3 events each
BASE_DAY = "2024-03-01"
STAGES = ["activity_import", "flow_import", "summaries", "maintain"]


def gen_source(out_dir: str, n_days: int) -> None:
    """Deterministic day-file drops, reference CSV shape: headerless,
    epoch-second timestamps, empty strings for missing values."""
    import duckdb

    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    con = duckdb.connect()
    con.execute("SET threads=8")
    for d in range(n_days):
        day = con.execute(
            f"SELECT strftime(DATE '{BASE_DAY}' + {d}, '%Y-%m-%d')"
        ).fetchone()[0]
        epoch0 = int(con.execute(
            f"SELECT epoch(TIMESTAMP '{day} 00:00:00')"
        ).fetchone()[0])
        # activity: 8 cols (schemas.ACTIVITY_CSV_SCHEMA order); uid's
        # first 7 hex chars ARE the sampling cohort (fixtures rule)
        con.execute(f"""
            COPY (
              SELECT CAST({epoch0} + (i % 86000) AS BIGINT) AS c1,
                     'Firefox' AS c2, '57' AS c3, 'Windows 10' AS c4,
                     printf('%07x', (i % 1000) % 100) || repeat('e', 57) AS c5,
                     CASE i % 3 WHEN 0 THEN 'account.login'
                                WHEN 1 THEN 'account.signed'
                                ELSE 'account.verified' END AS c6,
                     CASE i % 4 WHEN 0 THEN 'sync' ELSE 'content-server' END AS c7,
                     'dev' || printf('%09d', i % 2500) AS c8
              FROM range(0, {ACT_ROWS_PER_DAY}) t(i)
            ) TO '{out_dir}/activity_events-{day}.csv'
            (FORMAT CSV, HEADER false)
        """)
        # flow: 18 cols; per flow a begin (no uid) + two uid events
        con.execute(f"""
            COPY (
              SELECT CAST({epoch0} + (f % 28000) * 3 + ev AS BIGINT) AS c1,
                     CASE ev WHEN 0 THEN 'flow.begin'
                             WHEN 1 THEN 'flow.have-password'
                             ELSE 'flow.complete' END AS c2,
                     printf('%056x', f + {d} * {FLOWS_PER_DAY}) || printf('%08x', 0) AS c3,
                     ev * 30000 AS c4,
                     'Firefox' AS c5, '57' AS c6, 'Windows 10' AS c7,
                     CASE ev WHEN 0 THEN 'fx_desktop_v3' ELSE '' END AS c8,
                     CASE ev WHEN 0 THEN 'preferences' ELSE '' END AS c9,
                     '' AS c10, 'sync' AS c11, '' AS c12, '' AS c13,
                     'organic' AS c14, 'bing' AS c15, '' AS c16,
                     CASE ev WHEN 0 THEN '' ELSE 'en-US' END AS c17,
                     CASE ev WHEN 0 THEN ''
                          ELSE printf('%07x', f % 100) || repeat('a', 57) END AS c18
              FROM range(0, {FLOWS_PER_DAY}) t(f), range(0, 3) e(ev)
            ) TO '{out_dir}/flow_events-{day}.csv'
            (FORMAT CSV, HEADER false)
        """)
        # mtime = the file's day, like a real daily drop
        for prefix in ("activity_events", "flow_events"):
            os.utime(
                os.path.join(out_dir, f"{prefix}-{day}.csv"), (epoch0, epoch0)
            )
    con.close()


def run_pipeline(spark, src_dir: str, lake_dir: str) -> dict[str, float]:
    from fxa_activity_metrics_spark.plans.incremental import (
        ImportJob,
        flow_after_day,
        summarize_daily,
    )
    from fxa_activity_metrics_spark.schemas import ACTIVITY, FLOW, SAMPLE_RATES
    from fxa_activity_metrics_spark.sources.lake import Lake

    if os.path.isdir(lake_dir):
        shutil.rmtree(lake_dir)
    lake = Lake(spark, lake_dir)
    stages: dict[str, float] = {}
    # clustering detached from the import runs so `maintain` is its
    # own timed stage (ImportJob.run clusters each day as it lands
    # when zorder_cols is set)
    act_plain = dataclasses.replace(ACTIVITY, zorder_cols=None)
    flow_plain = dataclasses.replace(FLOW, zorder_cols=None)

    t0 = time.perf_counter()
    act_job = ImportJob(
        spark=spark, lake=lake, dataset=act_plain, source_dir=src_dir
    )
    act_days = act_job.run()
    stages["activity_import"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    flow_job = ImportJob(
        spark=spark, lake=lake, dataset=flow_plain, source_dir=src_dir,
        after_day=flow_after_day,
    )
    flow_days = flow_job.run()
    stages["flow_import"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    for suffix, _pct, _months in SAMPLE_RATES:
        if lake.days(f"activity_events{suffix}"):
            summarize_daily(spark, lake, suffix=suffix)
    stages["summaries"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    ImportJob(
        spark=spark, lake=lake, dataset=ACTIVITY, source_dir=src_dir
    ).maintain()
    ImportJob(
        spark=spark, lake=lake, dataset=FLOW, source_dir=src_dir
    ).maintain()
    stages["maintain"] = round(time.perf_counter() - t0, 3)

    stages["_days"] = float(len(act_days))
    assert len(act_days) == len(flow_days)
    return stages


def main() -> None:
    base_days = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    ratio = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    if base_days < 2:
        # a one-day base can time a stage at ~0 s (nothing for it to
        # do yet), and the gate would then flag any later time
        sys.exit(f"bench_pipeline: base_days must be >= 2, got {base_days}")

    spark = warm_session("bench-pipeline")
    record: dict = {
        "act_rows_per_day": ACT_ROWS_PER_DAY,
        "flow_rows_per_day": FLOWS_PER_DAY * 3,
        "runs": {},
    }
    results: dict[int, dict[str, float]] = {}
    for n_days in (base_days, base_days * ratio):
        src = os.path.join(ROOT, ".scratch", f"pipeline_src_d{n_days}")
        lake_dir = os.path.join(ROOT, ".scratch", f"pipeline_lake_d{n_days}")
        gen_source(src, n_days)
        stages = run_pipeline(spark, src, lake_dir)
        assert int(stages.pop("_days")) == n_days
        results[n_days] = stages
        record["runs"][f"days{n_days}"] = {
            "days": n_days,
            "stages": stages,
            "total": round(sum(stages.values()), 3),
        }
        print(f"days{n_days}: {stages}", file=sys.stderr)
        shutil.rmtree(lake_dir)
        shutil.rmtree(src)
    # every stage, the maintain sweep included, processes all D days
    record["gate"] = scaling_violations(
        results[base_days * ratio], results[base_days], float(ratio)
    )
    line = json.dumps(record)
    print(line)
    with open(os.path.join(ROOT, "BENCH_PIPELINE.json"), "w") as f:
        f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
