"""Flow sessionization pipeline tests: the day+1 grace window,
control-event consumption, uniqueness, and experiment enrichment
(import_flow_events.py hook chain; SURVEY §7 traps 3-5, 8)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from fxa_activity_metrics_spark.plans.incremental import ImportJob, flow_after_day
from fxa_activity_metrics_spark.schemas import FLOW
from fxa_activity_metrics_spark.sources.lake import Lake
from tests.fixtures import (
    F_A,
    F_B,
    F_C,
    F_D,
    UID_A,
    UID_B,
    epoch,
    hex_id,
    write_csv,
    write_flow_days,
)

D1 = dt.date(2024, 3, 1)
D2 = dt.date(2024, 3, 2)


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("flow_src"))
    write_flow_days(src, D1, D2)
    lake = Lake(spark, str(tmp_path_factory.mktemp("flow_lake")))
    job = ImportJob(
        spark=spark,
        lake=lake,
        dataset=FLOW,
        source_dir=src,
        after_day=flow_after_day,
    )
    assert job.run() == [D2, D1], "newest-first so day+1 is present for the grace reads"
    lake._src = src
    return lake


def _meta(lake, flow_id):
    rows = lake.read("flow_metadata").filter(F.col("flow_id") == flow_id).collect()
    assert len(rows) == 1, "flow_id must be UNIQUE (import_flow_events.py:67)"
    return rows[0]


def test_same_day_flow_enriched(lake):
    a = _meta(lake, F_A)
    assert a["completed"] is True
    assert a["new_account"] is True
    assert a["duration"] == 130000, "duration = MAX(flow_time) (J2)"
    assert a["locale"] == "en-US" and a["uid"] == UID_A, "lexicographic MAX picks the non-empty late value"


def test_grace_window_cross_midnight(lake):
    """flow B begins 23:50 and completes at day+1 00:05 — the day+1
    grace read must mark it completed (import_flow_events.py:170-187)."""
    b = _meta(lake, F_B)
    assert b["completed"] is True
    assert b["duration"] == 900000
    assert b["uid"] == UID_B
    assert b["export_date"] == D1, "session belongs to its begin day"


def test_continued_from_parsed(lake):
    c = _meta(lake, F_C)
    assert c["continued_from"] == F_A, "SUBSTRING(type,16,64) of flow.continued.* (F5/J6)"
    assert c["completed"] is False


def test_control_events_consumed(lake):
    """Perm flow_events excludes begin/continued/experiment rows
    (import_flow_events.py:151-155,257-261,300-304; trap 5)."""
    perm = lake.read("flow_events")
    t = F.col("type")
    consumed = perm.filter(
        (t == "flow.begin")
        | t.startswith("flow.continued.")
        | t.startswith("flow.experiment.")
    )
    assert consumed.count() == 0
    assert perm.count() > 0, "non-control events are kept"


def test_experiments(lake):
    exps = lake.read("flow_experiments").collect()
    assert len(exps) == 1
    e = exps[0]
    assert e["experiment"] == "exp1" and e["cohort"] == "treatment", "SPLIT_PART parse (F6)"
    assert e["flow_id"] == F_D and e["uid"] == UID_B


def test_idempotent_rerun(spark, lake):
    """Re-running the whole import changes nothing (S5 on the hook
    path too — metadata is rebuilt per export_date)."""
    before = sorted(tuple(str(v) for v in r) for r in lake.read("flow_metadata").collect())
    job = ImportJob(
        spark=spark, lake=lake, dataset=FLOW, source_dir=lake._src,
        after_day=flow_after_day, force_reload=True,
    )
    job.run()
    after = sorted(tuple(str(v) for v in r) for r in lake.read("flow_metadata").collect())
    assert after == before


BF_DAY = dt.date(2016, 10, 1)  # pre-2016-10-25 → backfill branch runs
F_E = hex_id(5, "flowE")


def _bf_row(ts, type_, fid, ft, context="", entrypoint="", locale="", uid=""):
    # same 18-field layout as fixtures._frow, but with controllable
    # context/entrypoint so the ''-sentinel backfill is observable
    return [ts, type_, fid, ft, "Firefox", "49", "Windows 10", context,
            entrypoint, "", "sync", "", "", "", "", "", locale, uid]


def test_precutoff_context_backfill(spark, tmp_path):
    """Pre-cutoff days run Q_UPDATE_METRICS_CONTEXT against the
    FULL-COLUMN staging frame (import_flow_events.py:344-352): a
    flow.begin with empty context gets it backfilled from any later
    same-flow staging row. Regression for the round-1 bug where the
    perm-col grace frame (no context columns) was passed instead —
    an unresolved-column crash on every pre-cutoff day."""
    src = str(tmp_path / "src")
    rows = [
        _bf_row(epoch(BF_DAY, 9, 0), "flow.begin", F_E, 0),
        _bf_row(epoch(BF_DAY, 9, 1), "flow.signin", F_E, 60000,
                context="fx_ios_v1", entrypoint="menu", locale="en-GB", uid=UID_A),
    ]
    write_csv(src, "flow_events", BF_DAY, rows)
    lake = Lake(spark, str(tmp_path / "lake"))
    job = ImportJob(
        spark=spark, lake=lake, dataset=FLOW, source_dir=src,
        after_day=flow_after_day,
    )
    assert job.run() == [BF_DAY]
    rows = lake.read("flow_metadata").filter(F.col("flow_id") == F_E).collect()
    assert len(rows) == 1
    m = rows[0]
    assert m["context"] == "fx_ios_v1", "'' context backfilled from staging"
    assert m["entrypoint"] == "menu"
    assert m["locale"] == "en-GB" and m["uid"] == UID_A


def test_sampled_variants_subset(lake):
    f10 = {r["flow_id"] for r in lake.read("flow_metadata_sampled_10").select("flow_id").collect()}
    f100 = {r["flow_id"] for r in lake.read("flow_metadata").select("flow_id").collect()}
    assert f10 <= f100 and f100 == {F_A, F_B, F_C, F_D}
