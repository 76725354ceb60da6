"""Partition-granular flow_metadata / flow_experiments sink
(VERDICT r2 #2): the session tables are export_date-partitioned and a
day's import rewrites only partitions holding a flow_id the import's
event horizon can touch — untouched partitions keep their files
byte-for-byte (mtime-pinned), and rewritten-but-unmatched rows keep
their values."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from fxa_activity_metrics_spark.plans.incremental import ImportJob, flow_after_day
from fxa_activity_metrics_spark.schemas import FLOW
from fxa_activity_metrics_spark.sources.lake import Lake
from tests.fixtures import F_C, _frow, epoch, hex_id, write_csv, write_flow_days

D1 = dt.date(2024, 4, 1)
D2 = dt.date(2024, 4, 2)
# disjoint far-away day: neither D0 nor D0+1 overlaps D1/D2, so its
# grace horizon can't touch their flows
D0 = dt.date(2024, 4, 20)

F_X = hex_id(5, "flowX")
UID_X = hex_id(5, "userX")


def _snapshot(path: str) -> dict[str, tuple[int, int]]:
    """relpath -> (mtime_ns, size) for every data file under path."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                st = os.stat(p)
                out[os.path.relpath(p, path)] = (st.st_mtime_ns, st.st_size)
    return out


def _rows(lake: Lake, table: str):
    return sorted(
        map(tuple, lake.read(table).collect()), key=lambda t: tuple(map(str, t))
    )


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("pflow_src"))
    write_flow_days(src, D1, D2)
    lake = Lake(spark, str(tmp_path_factory.mktemp("pflow_lake")))
    job = ImportJob(
        spark=spark,
        lake=lake,
        dataset=FLOW,
        source_dir=src,
        after_day=flow_after_day,
    )
    assert job.run() == [D2, D1]
    return lake, src, job


def test_metadata_is_export_date_partitioned(env):
    lake, _src, _job = env
    assert lake.part_days("flow_metadata", "export_date") == [D1, D2]
    assert lake.part_days("flow_experiments", "export_date") == [D1]


def test_disjoint_day_leaves_old_partitions_untouched(env):
    lake, src, job = env
    meta_before = _rows(lake, "flow_metadata")
    exp_before = _rows(lake, "flow_experiments")
    before = {
        t: _snapshot(lake.path(t)) for t in ("flow_metadata", "flow_experiments")
    }

    # a later day whose flows are disjoint from D1/D2's
    write_csv(
        src,
        "flow_events",
        D0,
        [
            _frow(epoch(D0, 9, 0), "flow.begin", F_X, 0),
            _frow(epoch(D0, 9, 5), "flow.complete", F_X, 300000, "en-GB", UID_X),
        ],
    )
    assert job.run() == [D0]

    after = {
        t: _snapshot(lake.path(t)) for t in ("flow_metadata", "flow_experiments")
    }
    for table in before:
        d0_parts = {p for p in after[table] if p.startswith("export_date=" + str(D0))}
        old_after = {p: v for p, v in after[table].items() if p not in d0_parts}
        assert old_after == before[table], (
            f"{table}: pre-existing export_date partitions must not be "
            "rewritten by a disjoint day's import"
        )
    assert any(p.startswith("export_date=" + str(D0)) for p in after["flow_metadata"])

    # and the new day's row is correct
    x = lake.read("flow_metadata").filter(F.col("flow_id") == F_X).collect()
    assert len(x) == 1
    assert x[0]["completed"] is True
    assert x[0]["duration"] == 300000
    assert x[0]["export_date"] == D0

    # old rows are value-identical
    meta_after = sorted(
        map(
            tuple,
            lake.read("flow_metadata").filter(F.col("flow_id") != F_X).collect(),
        ),
        key=lambda t: tuple(map(str, t)),
    )
    assert meta_after == meta_before
    assert _rows(lake, "flow_experiments") == exp_before


def test_overlapping_day_rewrites_only_matched_partitions(env):
    """Importing a day whose grace horizon touches D1 flows rewrites
    the D1 partition with identical values, while D2 (no flow_id
    overlap with the horizon) keeps its exact files."""
    lake, src, job = env
    meta_before = _rows(lake, "flow_metadata")
    d2_before = {
        p: v
        for p, v in _snapshot(lake.path("flow_metadata")).items()
        if p.startswith("export_date=" + str(D2))
    }

    # day before D1: grace = day ∪ D1 events, which include F_A's perm
    # events — so the D1 partition is re-enriched; D2's only flow is
    # F_C whose flow_id appears nowhere in the horizon
    d_prev = D1 - dt.timedelta(days=1)
    f_y = hex_id(9, "flowY")
    write_csv(
        src,
        "flow_events",
        d_prev,
        [_frow(epoch(d_prev, 8, 0), "flow.begin", f_y, 0)],
    )
    assert job.run() == [d_prev]

    d2_after = {
        p: v
        for p, v in _snapshot(lake.path("flow_metadata")).items()
        if p.startswith("export_date=" + str(D2))
    }
    assert d2_after == d2_before, "unmatched D2 partition must keep its files"

    # re-enrichment of D1 under the smaller grace horizon must not
    # change any value (per-flow joins only update matched flow_ids)
    meta_after = sorted(
        map(
            tuple,
            lake.read("flow_metadata").filter(F.col("flow_id") != f_y).collect(),
        ),
        key=lambda t: tuple(map(str, t)),
    )
    assert meta_after == meta_before
    # F_C's continued_from survives (its partition was never rewritten)
    c = lake.read("flow_metadata").filter(F.col("flow_id") == F_C).collect()
    assert len(c) == 1 and c[0]["continued_from"] != ""
