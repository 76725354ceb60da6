"""Structured Streaming tests: the streaming flow-session aggregate
must converge to the batch answer (batch results are the oracle —
SURVEY §7 build step 7), and the tumbling daily rollup must match a
static groupBy."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from fxa_activity_metrics_spark.functions.core import day_of, ts_from_epoch
from fxa_activity_metrics_spark.schemas import FLOW_CSV_SCHEMA
from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark.streaming.flows_stream import (
    daily_event_counts_stream,
    run_flow_sessions_stream,
    session_aggregate,
)
from tests.fixtures import F_A, F_B, UID_B, write_flow_days

D1 = dt.date(2024, 3, 1)
D2 = dt.date(2024, 3, 2)


@pytest.fixture(scope="module")
def src_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_src"))
    write_flow_days(d, D1, D2)
    return d


def _persisted_rdds(spark):
    """Ids of the session's persisted RDDs: a drain adds none that
    outlive it (earlier tests' batch oracles may have left their own)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _static_events(spark, src_dir):
    # model the batch typed boundary: empty CSV fields are '' (P4)
    raw = spark.read.schema(FLOW_CSV_SCHEMA).option("emptyValue", "").csv(src_dir)
    raw = raw.select(
        *[
            F.coalesce(F.col(f.name), F.lit("")).alias(f.name)
            if f.dataType.typeName() == "string"
            else F.col(f.name)
            for f in FLOW_CSV_SCHEMA.fields
        ]
    )
    return raw.withColumn("timestamp", ts_from_epoch("timestamp")).withColumn(
        "day", day_of("timestamp")
    )


def test_stream_matches_batch_sessions(spark, src_dir, tmp_path):
    lake = Lake(spark, str(tmp_path / "stream_lake"))
    q = run_flow_sessions_stream(
        spark, src_dir, lake, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert not q.isActive

    got = lake.read("flow_metadata_stream")
    # batch oracle: the same aggregate over a static read (select in
    # the oracle's column order — the partitioned sink surfaces
    # export_date last on a raw read)
    want = session_aggregate(_static_events(spark, src_dir))
    got_rows = sorted(tuple(str(v) for v in r) for r in got.select(*want.columns).collect())
    want_rows = sorted(tuple(str(v) for v in r) for r in want.collect())
    assert got_rows == want_rows
    assert lake.part_days("flow_metadata_stream", "export_date"), (
        "session sink must be export_date-partitioned"
    )

    # semantic spot-checks across micro-batch boundaries (files arrive
    # one per trigger: flow B's begin and complete are in different
    # micro-batches — state must carry over)
    b = got.filter(F.col("flow_id") == F_B).collect()[0]
    assert b["completed"] is True and b["duration"] == 900000 and b["uid"] == UID_B
    a = got.filter(F.col("flow_id") == F_A).collect()[0]
    assert a["completed"] is True and a["new_account"] is True


def test_stream_restart_is_idempotent(spark, src_dir, tmp_path):
    """Re-running the stream over the same checkpoint replays nothing
    and leaves the sink unchanged (exactly-once effect)."""
    lake = Lake(spark, str(tmp_path / "lake2"))
    ckpt = str(tmp_path / "ckpt2")
    persisted = _persisted_rdds(spark)
    q = run_flow_sessions_stream(spark, src_dir, lake, checkpoint_dir=ckpt)
    q.awaitTermination(120)
    before = sorted(tuple(str(v) for v in r) for r in lake.read("flow_metadata_stream").collect())
    q2 = run_flow_sessions_stream(spark, src_dir, lake, checkpoint_dir=ckpt)
    q2.awaitTermination(120)
    after = sorted(tuple(str(v) for v in r) for r in lake.read("flow_metadata_stream").collect())
    assert after == before
    assert _persisted_rdds(spark) <= persisted


def _partition_files(lake, table):
    """path → (mtime_ns, size) for every data file under the table."""
    import os

    out = {}
    for root, _, files in os.walk(lake.path(table)):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_mtime_ns, st.st_size)
    return out


def test_stream_session_sink_is_partition_granular(spark, tmp_path):
    """A micro-batch whose flows touch only NEW export_dates must
    leave the other partitions' files byte-identical — the streaming
    twin of the batch-side touched-partition contract
    (tests/test_flows_partitioned.py). This is the 100 TB property:
    a minutes-level trigger costs O(touched partitions), never a
    full-table rewrite."""
    import datetime as dt

    from tests.fixtures import _frow, epoch, hex_id, write_csv, write_flow_days

    src = str(tmp_path / "src_grain")
    write_flow_days(src, D1, D2)
    lake = Lake(spark, str(tmp_path / "lake_grain"))
    ckpt = str(tmp_path / "ckpt_grain")
    q = run_flow_sessions_stream(spark, src, lake, checkpoint_dir=ckpt)
    q.awaitTermination(120)

    before = _partition_files(lake, "flow_metadata_stream")
    old_parts = set(lake.part_days("flow_metadata_stream", "export_date"))
    assert {D1, D2} <= old_parts

    # a third day's drop with a brand-new flow — no old flow_id appears
    d3 = D2 + dt.timedelta(days=1)
    f_e = hex_id(9, "flowE")
    write_csv(
        src,
        "flow_events",
        d3,
        [
            _frow(epoch(d3, 8, 0), "flow.begin", f_e, 0),
            _frow(epoch(d3, 8, 5), "flow.complete", f_e, 300000, "en-GB", f_e),
        ],
    )
    q2 = run_flow_sessions_stream(spark, src, lake, checkpoint_dir=ckpt)
    q2.awaitTermination(120)

    after = _partition_files(lake, "flow_metadata_stream")
    assert set(lake.part_days("flow_metadata_stream", "export_date")) == old_parts | {d3}
    untouched_before = {
        p: v for p, v in before.items() if f"export_date={d3}" not in p
    }
    untouched_after = {
        p: v for p, v in after.items() if f"export_date={d3}" not in p
    }
    assert untouched_before == untouched_after, (
        "micro-batch must not rewrite partitions it doesn't touch"
    )
    got = {r["flow_id"] for r in lake.read("flow_metadata_stream").collect()}
    assert f_e in got


def test_daily_counts_stream_plan_and_semantics(spark, src_dir, tmp_path):
    """Tumbling 1-day window == static to_date groupBy."""
    from fxa_activity_metrics_spark.streaming.flows_stream import read_flow_stream

    events = read_flow_stream(spark, src_dir)
    counted = daily_event_counts_stream(events)
    q = (
        counted.writeStream.outputMode("complete")
        .format("memory")
        .queryName("daily_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        tuple(str(v) for v in r)
        for r in spark.table("daily_counts").collect()
    )
    want = sorted(
        tuple(str(v) for v in r)
        for r in _static_events(spark, src_dir)
        .groupBy(F.col("day"), F.col("type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    )
    assert got == want


def test_stateful_session_stats_timeout_emission(spark, src_dir, tmp_path):
    """applyInPandasWithState custom operator: flows emit when they go
    quiet (event-time timeout), live flows stay in state. With a
    10-minute watermark and 5-minute TTL over the fixture, flows A/B/D
    (last events well before the final watermark) must emit; flow C's
    last event is 1 minute before max event time, so it stays live."""
    from fxa_activity_metrics_spark.streaming.flows_stream import (
        run_session_stats_stream,
    )
    from tests.fixtures import F_C, F_D

    lake = Lake(spark, str(tmp_path / "state_lake"))
    q = run_session_stats_stream(
        spark,
        src_dir,
        lake,
        checkpoint_dir=str(tmp_path / "ckpt_state"),
        timeout_ms=5 * 60 * 1000,
        watermark="10 minutes",
    )
    q.awaitTermination(120)
    got = {r["flow_id"]: r for r in lake.read("flow_session_stats").collect()}
    assert F_A in got and F_B in got and F_D in got
    assert F_C not in got, "still-live flow must remain in state, not emit"
    a = got[F_A]
    assert a["n_events"] == 4 and a["max_flow_time"] == 130000 and a["completed"] is True
    b = got[F_B]
    assert b["n_events"] == 2 and b["completed"] is True, (
        "state carries across micro-batches (begin and complete arrive in different files)"
    )
    d = got[F_D]
    assert d["n_events"] == 2 and d["completed"] is False


def test_daily_counts_day_partitioned_sink(spark, src_dir, tmp_path):
    """foreachBatch + dynamic partition overwrite keyed by day — the
    streaming exactly-once sink (S5's contract). Final partitions must
    equal the static rollup, and a checkpointed re-run is a no-op."""
    from fxa_activity_metrics_spark.streaming.flows_stream import (
        run_daily_counts_stream,
    )

    lake = Lake(spark, str(tmp_path / "counts_lake"))
    ckpt = str(tmp_path / "ckpt_counts")
    q = run_daily_counts_stream(spark, src_dir, lake, ckpt)
    q.awaitTermination(120)
    got = sorted(
        (str(r["day"]), r["type"], r["n_events"])
        for r in lake.read("daily_event_counts").collect()
    )
    want = sorted(
        (str(r["day"]), r["type"], r["n"])
        for r in _static_events(spark, src_dir)
        .groupBy("day", "type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert got == want
    assert set(lake.days("daily_event_counts")) == {D1, D2}, "day-partitioned layout"
    q2 = run_daily_counts_stream(spark, src_dir, lake, ckpt)
    q2.awaitTermination(120)
    again = sorted(
        (str(r["day"]), r["type"], r["n_events"])
        for r in lake.read("daily_event_counts").collect()
    )
    assert again == got


def test_activity_import_stream_matches_batch(spark, tmp_path):
    """The streaming activity import must produce a lake identical to
    the batch ImportJob over the same day-files — all three sampled
    variants — and a checkpointed re-run must change nothing."""
    from fxa_activity_metrics_spark.plans.incremental import ImportJob
    from fxa_activity_metrics_spark.schemas import ACTIVITY, SAMPLE_RATES
    from fxa_activity_metrics_spark.streaming.activity_stream import (
        run_dataset_import_stream,
    )
    from tests.fixtures import write_activity_days

    src = str(tmp_path / "src")
    days = [D1, D2]
    write_activity_days(src, days)
    persisted = _persisted_rdds(spark)

    stream_lake = Lake(spark, str(tmp_path / "stream_lake"))
    q = run_dataset_import_stream(
        spark, src, stream_lake, checkpoint_dir=str(tmp_path / "ckpt_act")
    )
    q.awaitTermination(120)

    batch_lake = Lake(spark, str(tmp_path / "batch_lake"))
    ImportJob(spark=spark, lake=batch_lake, dataset=ACTIVITY, source_dir=src).run()

    def rows(lake, table):
        df = lake.read(table)
        cols = sorted(df.columns)
        return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())

    for suffix, _pct, _m in SAMPLE_RATES:
        t = f"activity_events{suffix}"
        assert rows(stream_lake, t) == rows(batch_lake, t), t

    before = rows(stream_lake, "activity_events")
    q2 = run_dataset_import_stream(
        spark, src, stream_lake, checkpoint_dir=str(tmp_path / "ckpt_act")
    )
    q2.awaitTermination(120)
    assert rows(stream_lake, "activity_events") == before
    # every batch's checkpoint blocks are released when it returns
    assert _persisted_rdds(spark) <= persisted


def test_dataset_import_stream_email_mixed_dir(spark, tmp_path):
    """The generalized streaming import handles any dataset descriptor
    and ignores other datasets' files sharing the drop directory."""
    from fxa_activity_metrics_spark.plans.incremental import ImportJob
    from fxa_activity_metrics_spark.schemas import EMAIL
    from fxa_activity_metrics_spark.streaming.activity_stream import (
        run_dataset_import_stream,
    )
    from tests.fixtures import hex_id, write_activity_days, write_csv

    src = str(tmp_path / "src")
    write_activity_days(src, [D1, D2])  # other dataset in the same dir
    for day in (D1, D2):
        rows = [
            [1709280000, hex_id(5, "e5"), "gmail.com", "verify", "sent", "", "", "en"],
            [1709280060, hex_id(55, "e55"), "outlook.com", "recovery", "bounced", "true", "", ""],
        ]
        write_csv(src, "email_events", day, rows)

    stream_lake = Lake(spark, str(tmp_path / "slake"))
    q = run_dataset_import_stream(
        spark, src, stream_lake, str(tmp_path / "ck"), dataset=EMAIL
    )
    q.awaitTermination(120)

    batch_lake = Lake(spark, str(tmp_path / "blake"))
    ImportJob(spark=spark, lake=batch_lake, dataset=EMAIL, source_dir=src).run()

    def rows_of(lake, t):
        df = lake.read(t)
        cols = sorted(df.columns)
        return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())

    for t in ("email_events", "email_events_sampled_10", "email_events_sampled_50"):
        assert rows_of(stream_lake, t) == rows_of(batch_lake, t), t
    assert not stream_lake.exists("activity_events"), "glob filter keeps other datasets out"


def test_stream_full_chain_matches_batch_pipeline(spark, tmp_path):
    """J2-J6 full-chain parity, stream vs the BATCH reference pipeline:
    the same multi-day CSV replay (with cross-midnight late events)
    through (a) ImportJob + flow_after_day (begin -> duration/locale/
    uid -> completed -> new_account -> continued_from, newest-first
    days, day+1 grace reads) and (b) run_flow_sessions_stream, then
    the two session tables must agree row-for-row on the metadata
    schema. [Late events stay within the 1-day grace window — the
    contract BOTH sides implement; J5 backfill is date-gated off for
    post-cutoff days on both sides; J7 experiments live in their own
    table and stream (test_streaming_join).]"""
    from fxa_activity_metrics_spark.plans.incremental import ImportJob, flow_after_day
    from fxa_activity_metrics_spark.schemas import FLOW, FLOW_METADATA_SCHEMA
    from tests.fixtures import F_C, epoch as ep, hex_id, write_csv
    from tests.fixtures import flow_rows_day1, flow_rows_day2

    d3 = dt.date(2024, 3, 3)
    f_e = hex_id(11, "flowE")
    src = str(tmp_path / "src")
    write_csv(src, "flow_events", D1, flow_rows_day1(D1))
    write_csv(src, "flow_events", D2, flow_rows_day2(D2))
    # day 3: a late completion for day-2's flow C (grace window) plus a
    # fresh flow that begins and continues from C on its own day
    write_csv(
        src,
        "flow_events",
        d3,
        [
            [ep(d3, 0, 10), "flow.complete", F_C, 47_400_000, "en-GB",
             UID_B, *[""] * 0][:4] + ["Firefox", "57", "Windows 10",
             "fx_desktop_v3", "preferences", "", "sync", "camp", "",
             "organic", "bing", "", "en-GB", UID_B],
            [ep(d3, 9, 0), "flow.begin", f_e, 0, "Firefox", "58", "macOS",
             "fx_desktop_v3", "preferences", "", "sync", "camp", "",
             "organic", "bing", "", "", ""],
            [ep(d3, 9, 5), f"flow.continued.{F_C}", f_e, 300000, "de", "",
             "Firefox", "58", "macOS", "fx_desktop_v3", "preferences", "",
             "sync", "camp", "", "organic", "bing", ""][:4] + ["Firefox",
             "58", "macOS", "fx_desktop_v3", "preferences", "", "sync",
             "camp", "", "organic", "bing", "", "de", ""],
        ],
    )

    # batch reference pipeline, newest-first
    blake = Lake(spark, str(tmp_path / "batch_lake"))
    job = ImportJob(
        spark=spark,
        lake=blake,
        dataset=FLOW,
        source_dir=src,
        after_day=flow_after_day,
    )
    assert job.run() == [d3, D2, D1]

    # streaming pipeline over the same drops
    slake = Lake(spark, str(tmp_path / "stream_lake"))
    q = run_flow_sessions_stream(
        spark, src, slake, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    assert not q.isActive

    cols = [f.name for f in FLOW_METADATA_SCHEMA.fields]
    batch_rows = sorted(
        tuple(str(v) for v in r)
        for r in blake.read("flow_metadata").select(*cols).collect()
    )
    stream_rows = sorted(
        tuple(str(v) for v in r)
        for r in slake.read("flow_metadata_stream").select(*cols).collect()
    )
    assert batch_rows == stream_rows
    # the late-data semantics actually exercised: C completed by a
    # day-3 event, attributed to its day-2 begin; E continued_from C
    by_flow = {r[cols.index("flow_id")]: r for r in batch_rows}
    c = by_flow[F_C]
    assert c[cols.index("completed")] == "True"
    assert c[cols.index("export_date")] == str(D2)
    assert by_flow[f_e][cols.index("continued_from")] == F_C


def test_foreach_batch_has_one_start_chain():
    """Every foreachBatch twin starts through the one drain driver:
    no module but streaming/_drain.py calls `.foreachBatch(`."""
    import pathlib

    import fxa_activity_metrics_spark

    root = pathlib.Path(fxa_activity_metrics_spark.__file__).parent
    callers = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if ".foreachBatch(" in p.read_text()
    )
    assert callers == ["streaming/_drain.py"]
