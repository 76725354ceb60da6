"""Pipeline end-to-end tests (SURVEY §5 item 2): idempotency,
straggler filtering, cohort-subset property, retention, incremental
summaries — the reference's import contract replayed on the lake."""

from __future__ import annotations

import dataclasses
import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from fxa_activity_metrics_spark.operators.summaries import multi_device_users_join
from fxa_activity_metrics_spark.plans.incremental import ImportJob, summarize_daily
from fxa_activity_metrics_spark.schemas import ACTIVITY
from fxa_activity_metrics_spark.sources.lake import Lake
from tests.fixtures import (
    COHORTS,
    at_production_file_budget,
    uid_extent,
    write_activity_days,
    write_hashed_activity_days,
)

D1 = dt.date(2024, 3, 1)
DAYS = [D1 + dt.timedelta(days=i) for i in range(4)]


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("activity_src"))
    write_activity_days(src, DAYS)
    lake = Lake(spark, str(tmp_path_factory.mktemp("lake")))
    job = ImportJob(spark=spark, lake=lake, dataset=ACTIVITY, source_dir=src)
    processed = job.run()
    assert processed == sorted(DAYS, reverse=True), "newest-first order (O3)"
    lake._src = src  # stash for reuse
    return lake


def test_idempotent_rerun(spark, lake):
    job = ImportJob(spark=spark, lake=lake, dataset=ACTIVITY, source_dir=lake._src)
    assert job.run() == [], "populated days must be skipped (P7)"


def test_force_reload_identical(spark, lake):
    before = _rows(lake.read("activity_events"))
    job = ImportJob(
        spark=spark, lake=lake, dataset=ACTIVITY, source_dir=lake._src, force_reload=True
    )
    assert job.run() == sorted(DAYS, reverse=True)
    assert _rows(lake.read("activity_events")) == before, "S5 idempotent overwrite"


def test_run_leaves_no_persisted_rdds(spark, tmp_path):
    """Each imported day file is cached for its MAXERROR count; the
    cache must be gone once the day is written, so a backfill does
    not pin one RDD per day."""
    src = str(tmp_path / "src")
    write_activity_days(src, [D1 + dt.timedelta(days=i) for i in range(5)])
    lake = Lake(spark, str(tmp_path / "lake"))
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    assert len(ImportJob(spark=spark, lake=lake, dataset=ACTIVITY, source_dir=src).run()) == 5
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


def test_stragglers_filtered(lake):
    df = lake.read("activity_events")
    bad = df.filter(F.to_date("timestamp") != F.col("day")).count()
    assert bad == 0, "rows outside the file's day must be dropped (import_events.py:118)"


def test_empty_string_preserved(lake):
    df = lake.read("activity_events")
    empties = df.filter(F.col("device_id") == "").count()
    assert empties > 0, "missing device_id must stay '' — not NULL (SURVEY §7 trap 2)"
    assert df.filter(F.col("device_id").isNull()).count() == 0


def test_cohort_subset_property(lake):
    """10% ⊂ 50% ⊂ 100% — deterministic cohort sampling (P6)."""
    u10 = {r["uid"] for r in lake.read("activity_events_sampled_10").select("uid").distinct().collect()}
    u50 = {r["uid"] for r in lake.read("activity_events_sampled_50").select("uid").distinct().collect()}
    u100 = {r["uid"] for r in lake.read("activity_events").select("uid").distinct().collect()}
    assert u10 and u10 < u50 < u100
    cohorts10 = {int(u[:7], 16) % 100 for u in u10}
    cohorts50 = {int(u[:7], 16) % 100 for u in u50}
    assert max(cohorts10) < 10 and max(cohorts50) < 50
    assert {c for c in COHORTS if c < 10} == cohorts10


def test_retention_expiry(spark, tmp_path):
    """Old partitions expire from the 3-month table but survive in the
    sampled long-retention variants (S6, import_events.py:133-136)."""
    src = str(tmp_path / "src")
    old_day = dt.date(2023, 10, 15)  # >3mo before DAYS, <6mo
    write_activity_days(src, [old_day] + DAYS)
    lake = Lake(spark, str(tmp_path / "lake"))
    ImportJob(spark=spark, lake=lake, dataset=ACTIVITY, source_dir=src).run()
    assert old_day not in lake.days("activity_events"), "3-month retention"
    assert old_day in lake.days("activity_events_sampled_50"), "6-month retention"
    assert old_day in lake.days("activity_events_sampled_10"), "24-month retention"
    assert set(DAYS) <= set(lake.days("activity_events"))


def test_summaries_match_direct_recompute(spark, lake):
    assert summarize_daily(spark, lake) is not None
    dapd = lake.read("daily_activity_per_device")
    # P4: empty-string devices excluded
    assert dapd.filter(F.col("device_id") == "").count() == 0
    mdu = lake.read("daily_multi_device_users")
    direct = multi_device_users_join(dapd, 7)
    cols = sorted(direct.columns)
    assert _rows(mdu.select(*cols)) == _rows(direct.select(*cols)), (
        "incremental summary == direct recompute"
    )
    # property: device_now ≠ device_prev, both seen for that uid
    assert mdu.filter(F.col("device_now") == F.col("device_prev")).count() == 0
    # incremental: nothing new → no-op
    assert summarize_daily(spark, lake) is None


def test_partition_pruning_plan(lake):
    """read_days must prune to matching day partitions (SORTKEY→
    partitionBy mapping, SURVEY §1.3)."""
    df = lake.read_days("activity_events", DAYS[1], DAYS[1])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert df.select("day").distinct().count() == 1


def test_scheduled_maintenance_clusters_closed_days(spark, lake):
    """The pipeline itself z-orders every landed day partition on the
    dataset's SORTKEY/DISTKEY pair (timestamp, uid) — no tool
    invocation: after run(), EVERY day, the newest included, carries a
    _CLUSTERED marker written when the day landed, and a re-run
    re-clusters nothing."""
    root = lake.path("activity_events")
    for day in DAYS:
        marker = os.path.join(root, f"day={day.isoformat()}", "_CLUSTERED")
        assert os.path.exists(marker), f"{day} should be clustered"
        assert open(marker).read() == "timestamp,uid"

    # readers are undisturbed by the marker and the clustered layout
    df = lake.read("activity_events")
    assert df.filter(F.to_date("timestamp") != F.col("day")).count() == 0

    # re-run: markers make maintenance a metadata no-op
    mtimes = {
        d: os.path.getmtime(os.path.join(root, f"day={d.isoformat()}", "_CLUSTERED"))
        for d in DAYS
    }
    job = ImportJob(spark=spark, lake=lake, dataset=ACTIVITY, source_dir=lake._src)
    assert job.run() == []
    for d, m in mtimes.items():
        assert (
            os.path.getmtime(os.path.join(root, f"day={d.isoformat()}", "_CLUSTERED"))
            == m
        ), "re-run must not re-cluster"


def test_maintenance_collapses_uid_extents(spark, tmp_path):
    """The landing path must actually cluster: on a fixture with
    shuffled uids, per-row-group uid extents (fraction of the hex-uid
    domain, straight from the parquet footers) collapse for every
    landed day after run() — the newest day included."""
    src = str(tmp_path / "src")
    days = [D1 + dt.timedelta(days=i) for i in range(2)]
    write_hashed_activity_days(src, days)
    lk = Lake(spark, str(tmp_path / "lake"))
    at_production_file_budget(
        spark, ImportJob(spark=spark, lake=lk, dataset=ACTIVITY, source_dir=src).run
    )
    root = lk.path("activity_events")
    for day in days:
        part = os.path.join(root, f"day={day.isoformat()}")
        assert os.path.exists(os.path.join(part, "_CLUSTERED"))
        # 8 files over a 2-dim z-curve: uid extent ~0.59 measured vs
        # ~1.0 unclustered
        assert uid_extent(part) < 0.7, (day, uid_extent(part))


def test_force_reload_reclusters_the_day(spark, lake):
    """A force re-import rewrites the day's partition, and the rewrite
    lands clustered: new files, a fresh marker; the days it does not
    touch keep theirs."""
    root = lake.path("activity_events")
    part = os.path.join(root, f"day={DAYS[0].isoformat()}")
    before = set(os.listdir(part))
    others = {
        d: os.path.getmtime(os.path.join(root, f"day={d.isoformat()}", "_CLUSTERED"))
        for d in DAYS[1:]
    }
    job = ImportJob(
        spark=spark, lake=lake, dataset=ACTIVITY, source_dir=lake._src,
        day_from=DAYS[0], day_until=DAYS[0], force_reload=True,
    )
    assert job.run() == [DAYS[0]]
    after = set(os.listdir(part))
    assert "_CLUSTERED" in after
    assert {f for f in after if f.endswith(".parquet")}.isdisjoint(before)
    for d, m in others.items():
        assert os.path.getmtime(os.path.join(root, f"day={d.isoformat()}", "_CLUSTERED")) == m


def test_maintain_sweeps_days_written_without_clustering(spark, tmp_path):
    """A lake written by older code (no clustering on landing, no
    markers) is still swept by maintain: every day, the newest
    included, is z-ordered and marked, once."""
    src = str(tmp_path / "src")
    days = [D1 + dt.timedelta(days=i) for i in range(2)]
    write_hashed_activity_days(src, days)
    lk = Lake(spark, str(tmp_path / "lake"))
    legacy = dataclasses.replace(ACTIVITY, zorder_cols=None)
    ImportJob(spark=spark, lake=lk, dataset=legacy, source_dir=src).run()
    root = lk.path("activity_events")
    parts = [os.path.join(root, f"day={d.isoformat()}") for d in days]
    assert not any(os.path.exists(os.path.join(p, "_CLUSTERED")) for p in parts)
    assert all(uid_extent(p) > 0.9 for p in parts)

    at_production_file_budget(
        spark, ImportJob(spark=spark, lake=lk, dataset=ACTIVITY, source_dir=src).maintain
    )
    for p in parts:
        assert open(os.path.join(p, "_CLUSTERED")).read() == "timestamp,uid"
        assert uid_extent(p) < 0.7, (p, uid_extent(p))
    assert lk.maintain("activity_events", ["timestamp", "uid"]) == []
