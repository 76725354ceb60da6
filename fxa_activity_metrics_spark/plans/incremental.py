"""Incremental batch driver — the engine's control plane.

Reproduces the reference's generic import pipeline `run(...)`
(import_events.py:147-258, SURVEY §2.11 C1-C6):

- source-day discovery by file listing (S2, import_events.py:179-186);
- populated-day skip (P7, :168-169);
- NEWEST-FIRST processing (O3, :249) — load day+1 before day so the
  1-day grace enrichments see tomorrow's events (SURVEY §7 trap 4);
- per-day idempotent load into the three sampled lake variants
  (S5, :205-219);
- retention expiry keyed off max_day (S6, :226-236);
- the per-day lifecycle hook after_day (C1).

Everything driver-side here is metadata-only (file listings, day
arithmetic); row data never touches the driver.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fxa_activity_metrics_spark import cacheutil
from fxa_activity_metrics_spark.functions.core import sample_cohort
from fxa_activity_metrics_spark.operators import flows as flow_ops
from fxa_activity_metrics_spark.operators.activity import typed_day_events
from fxa_activity_metrics_spark.schemas import SAMPLE_RATES, Dataset
from fxa_activity_metrics_spark.sources.csv import read_day_csv
from fxa_activity_metrics_spark.sources.lake import Lake, ZOrder, _add_months, zorder_bounds

_DAY_RE = re.compile(r"(\d{4}-\d{2}-\d{2})\.\w+$")


def discover_source_days(source_dir: str, prefix: str) -> dict[dt.date, str]:
    """S2: list day-files `{prefix}-{YYYY-MM-DD}.*` and parse the day
    out of each filename (import_events.py:179-186)."""
    out: dict[dt.date, str] = {}
    if not os.path.isdir(source_dir):
        return out
    for name in os.listdir(source_dir):
        if not name.startswith(prefix + "-"):
            continue
        m = _DAY_RE.search(name)
        if m:
            out[dt.date.fromisoformat(m.group(1))] = os.path.join(source_dir, name)
    return out


@dataclass
class ImportJob:
    """C1: the generic import pipeline, one instance per dataset."""

    spark: SparkSession
    lake: Lake
    dataset: Dataset
    source_dir: str
    day_from: dt.date | None = None
    day_until: dt.date | None = None
    force_reload: bool = False  # C5 (import_counts.py:94)
    # per-day lifecycle hook (C1, import_events.py:220-223). A dataset
    # with a hook leaves the perm write to it (flow events are written
    # control-event-consumed by the hook); without one the typed day
    # is written as is.
    after_day: Callable[["ImportJob", dt.date, DataFrame, str, int], None] | None = None
    # the landed day's clustering, set by import_day: one set of
    # boundaries shared by every sampled variant of that day
    zorder: ZOrder | None = field(default=None, init=False, repr=False)

    def table(self, suffix: str) -> str:
        return self.dataset.name + suffix

    # -- work discovery ----------------------------------------------------

    def candidate_days(self) -> list[tuple[dt.date, str]]:
        """Days to process, newest first (O3). A day is a candidate if
        a source file exists, it passes the day-window filter (C2),
        and the 10%-sample table doesn't already contain it (P7 uses
        the _sampled_10 table as the populated indicator,
        import_events.py:168-169)."""
        days = discover_source_days(self.source_dir, self.dataset.csv_prefix)
        populated = set(self.lake.days(self.table("_sampled_10")))
        picked = []
        for day, path in days.items():
            if self.day_from and day < self.day_from:
                continue
            if self.day_until and day > self.day_until:
                continue
            if not self.force_reload and day in populated:
                continue
            picked.append((day, path))
        picked.sort(key=lambda t: t[0], reverse=True)  # newest first
        return picked

    def max_day(self) -> dt.date | None:
        """C3: max(extant lake day, newest discovered source day)
        (import_events.py:245-253)."""
        return self._max_day(self.candidate_days())

    def _max_day(self, work: list[tuple[dt.date, str]]) -> dt.date | None:
        newest = max((d for d, _ in work), default=None)
        vals = [d for d in (newest, self.lake.max_day(self.table(""))) if d]
        return max(vals, default=None)

    # -- execution ----------------------------------------------------------

    def import_day(self, day: dt.date, path: str, max_day: dt.date) -> None:
        """One day-file → three sampled lake variants (S5). The cached
        day file is released once every variant is written.

        A dataset with ``zorder_cols`` lands each variant clustered
        (the reference keeps a landed day fast to scan through its
        SORTKEY/DISTKEY, import_events.py:62): the boundaries are
        computed once, from the whole typed day, and reused by all
        three variants — the 10% and 50% cohorts are id-prefix subsets
        spread across the same key domain."""
        with cacheutil.scope():
            raw = read_day_csv(
                self.spark,
                path,
                self.dataset.csv_schema,
                max_lengths=self.dataset.max_lengths,
            )
            self.zorder = zorder_bounds(
                typed_day_events(raw, day, id_column=self.dataset.id_column, percent=100),
                self.dataset.zorder_cols,
                where=f"{self.dataset.name} day={day}",
            ) if self.dataset.zorder_cols else None
            for suffix, percent, months in SAMPLE_RATES:
                if self.after_day:
                    self.after_day(self, day, raw, suffix, percent)
                    continue
                typed = typed_day_events(
                    raw,
                    day,
                    id_column=self.dataset.id_column,
                    percent=percent,
                    retention_cutoff=_add_months(max_day, -months),
                    columns=[f.name for f in self.dataset.lake_schema.fields if f.name != "day"],
                )
                self.write_variant(suffix, typed)

    def write_variant(self, suffix: str, df: DataFrame) -> None:
        """Write one sampled variant of the landed day (S5) — the one
        sink of every variant table, the flow hook's perm write
        included — clustered on the day's boundaries when the dataset
        has clustering keys."""
        self.lake.write_days(self.table(suffix), df, zorder=self.zorder)

    def expire(self, max_day: dt.date) -> None:
        """S6 + S7: retention expiry then compaction, per variant."""
        for suffix, _percent, months in SAMPLE_RATES:
            self.lake.expire(self.table(suffix), max_day, months)

    def maintain(self) -> None:
        """S7 at pipeline cadence: the clustering sweep over every
        variant table on the dataset's clustering keys (the
        reference's SORTKEY/DISTKEY pair, schemas.py), so uid/flow_id
        point lookups and composite time-slices prune row groups.
        Days imported by ``import_day`` land clustered and marked, so
        this is one marker check per day; it rewrites only days
        written without clustering (lakes written by older code).
        The newest day does not wait: no later import rewrites a
        landed partition of these tables — the flow hook only reads
        day+1, expiry drops whole directories, and a (force-)re-import
        re-clusters the day it rewrites (Lake.maintain)."""
        if not self.dataset.zorder_cols:
            return
        for suffix, _percent, _months in SAMPLE_RATES:
            self.lake.maintain(self.table(suffix), list(self.dataset.zorder_cols))

    def run(self) -> list[dt.date]:
        """The full pipeline (import_events.py:238-258). Returns the
        days processed (newest first)."""
        work = self.candidate_days()
        max_day = self._max_day(work)
        processed = []
        for day, path in work:  # newest first
            self.import_day(day, path, max_day)
            processed.append(day)
        if max_day:
            self.expire(max_day)
            self.maintain()
        return processed


# ---------------------------------------------------------------------------
# Flow dataset: the after_day hook chain (import_flow_events.py:322-369)
# ---------------------------------------------------------------------------


def _touched_export_dates(existing, probe_ids, day: dt.date) -> set[dt.date]:
    """export_date partitions of ``existing`` holding at least one row
    whose flow_id appears in ``probe_ids``, plus ``day`` itself.

    The semi-join scan is column-pruned to (flow_id, export_date) and
    the collected result is a handful of dates — metadata-scale. Rows
    outside these partitions cannot be altered by any of the per-flow
    enrichment joins, so their partitions need neither re-enrichment
    nor rewrite."""
    touched = {
        r["export_date"]
        for r in existing.join(probe_ids.distinct(), "flow_id", "left_semi")
        .select("export_date")
        .distinct()
        .collect()
    }
    touched.add(day)
    return touched


def _partition_slice(existing, export_dates: set[dt.date], day_lit):
    """Rows of the affected export_date partitions, minus the
    re-imported day (rebuilt from its begin events). The isin filter
    prunes the scan to the matching partition directories."""
    date_lits = [F.lit(str(d)).cast("date") for d in sorted(export_dates)]
    return existing.filter(
        F.col("export_date").isin(*date_lits) & (F.col("export_date") != day_lit)
    )


def flow_after_day(job: ImportJob, day: dt.date, raw: DataFrame, suffix: str, percent: int) -> None:
    """Per-day flow sessionization, reproducing the hook order at
    import_flow_events.py:322-369 for one sampled variant:

    1. rebuild flow_metadata rows of `day` from flow.begin events;
    2. enrich (duration/locale/uid, completed, new_account,
       [pre-2016-10-25 context backfill], continued_from) across the
       WHOLE metadata table from events of day ∪ day+1 — flows that
       began yesterday but completed today get updated because days
       are processed newest-first;
    3. insert + enrich flow_experiments;
    4. write the perm flow_events WITHOUT consumed control events.
    """
    from fxa_activity_metrics_spark.functions.core import day_of, ts_from_epoch
    from fxa_activity_metrics_spark.schemas import (
        FLOW_EXPERIMENTS_SCHEMA,
        FLOW_METADATA_SCHEMA,
    )

    spark = job.spark
    lake = job.lake
    d_lit = F.lit(str(day)).cast("date")

    typed = (
        raw.withColumn("timestamp", ts_from_epoch("timestamp"))
        .withColumn("day", day_of("timestamp"))
        .filter(sample_cohort("flow_id", percent))
    )
    staging_day = typed.filter(F.col("day") == d_lit)
    # grace window: events of day ∪ day+1. Day+1 lives in the lake
    # already (newest-first processing) under the PERM schema; begin/
    # continued/experiment events of day+1 were consumed there, so
    # read them from the day+1 metadata-relevant columns only.
    perm_cols = ["timestamp", "type", "flow_id", "flow_time", "locale", "uid", "day"]
    next_day = lake.read_days(
        f"flow_events{suffix}", day + dt.timedelta(days=1), day + dt.timedelta(days=1),
        schema=job.dataset.lake_schema,
    ).select(*perm_cols)
    grace = staging_day.select(*perm_cols).unionByName(next_day)

    # 1-2. metadata for this day + enrichment. The reference's
    # Q_UPDATE_* statements touch the WHOLE session table, but every
    # enrichment is a per-row left join keyed on flow_id — a row can
    # only change if its flow_id appears in this import's event
    # horizon. Both session tables are export_date-PARTITIONED, so the
    # rewrite is partition-granular: a cheap flow_id semi-join probe
    # (column-pruned to flow_id+export_date) finds the partitions
    # holding touchable rows; only those are re-enriched and
    # dynamically overwritten. At 100 TB this turns the per-imported-
    # day cost from O(whole-session-table rewrite) into O(day's
    # partitions + matched stragglers) — the untouched partitions are
    # never rewritten (mtime-pinned in tests/test_flows_partitioned.py).
    grace_meta = flow_ops.metadata_grace_frame(grace)
    meta_tbl = f"flow_metadata{suffix}"
    existing = lake.read(meta_tbl, FLOW_METADATA_SCHEMA)
    new_rows = flow_ops.begin_sessions(staging_day, day)
    probe_ids = grace.select("flow_id")
    if day < flow_ops.BACKFILL_CUTOFF:
        # the context backfill joins the full staging frame too
        probe_ids = probe_ids.unionByName(typed.select("flow_id"))
    affected = _touched_export_dates(existing, probe_ids, day)
    meta = _partition_slice(existing, affected, d_lit).unionByName(new_rows)
    meta = flow_ops.enrich_duration_locale_uid(meta, grace_meta)
    meta = flow_ops.mark_flag(meta, grace_meta, "flow.complete", "completed")
    meta = flow_ops.mark_flag(meta, grace_meta, "account.created", "new_account")
    if day < flow_ops.BACKFILL_CUTOFF:
        # Q_UPDATE_METRICS_CONTEXT reads the FULL-COLUMN staging temp
        # table (sample-filtered, no day filter) — `typed`, not `grace`:
        # the perm-col grace frame doesn't carry the context columns.
        meta = flow_ops.backfill_context(meta, typed)
    meta = flow_ops.set_continued_from(meta, grace)
    # drop the re-imported day's partition BEFORE the write — the
    # reference's DELETE-then-INSERT order (import_flow_events.py's
    # clear-day contract). The enrichment plan never reads it
    # (_partition_slice excludes export_date == day), dynamic
    # overwrite recreates it iff the day has begin events, and a
    # stale partition from a prior import can't survive a day that
    # lost all its begins. This replaces a take(1) probe job that
    # re-executed the begin-extraction lineage just to decide the
    # drop.
    lake.drop_part(meta_tbl, "export_date", day)
    lake.write_parts(meta_tbl, meta, "export_date", sort_cols=["begin_time"])

    # 3. experiments. J7 reads the frame with the day's begin AND
    # continued events consumed (experiment events still live).
    exp_tbl = f"flow_experiments{suffix}"
    existing_exp = lake.read(exp_tbl, FLOW_EXPERIMENTS_SCHEMA)
    new_exp = flow_ops.experiments_from_events(staging_day, day)
    affected_exp = _touched_export_dates(existing_exp, grace.select("flow_id"), day)
    exp = _partition_slice(existing_exp, affected_exp, d_lit).unionByName(new_exp)
    exp = flow_ops.enrich_experiment_uid(exp, flow_ops.experiments_grace_frame(grace))
    # same DELETE-then-INSERT order as the metadata table above
    lake.drop_part(exp_tbl, "export_date", day)
    lake.write_parts(exp_tbl, exp, "export_date", sort_cols=["timestamp"])

    # 4. perm flow_events for this day, control events consumed
    perm = staging_day.filter(~flow_ops.consumed_condition()).select(*perm_cols)
    job.write_variant(suffix, perm)


def run_counts_import(
    spark: SparkSession,
    lake: Lake,
    source_dir: str,
    force_reload: bool = False,
) -> int:
    """Counts pipeline (import_counts.py:94-123): discover
    `fxa-basic-metrics-{day}.txt` files, skip already-populated days
    unless force_reload (C5), merge into the day-UNIQUE counts table.

    Each file loads under MAXERROR=10 — the counts COPY uses a tighter
    bad-row cap than events' 100 (import_counts.py:78 vs
    import_events.py:95).
    """
    from fxa_activity_metrics_spark.operators.counts import COUNTS_BEGIN, typed_counts
    from fxa_activity_metrics_spark.schemas import COUNTS_CSV_SCHEMA, COUNTS_SCHEMA

    files = discover_source_days(source_dir, "fxa-basic-metrics")
    # history starts 2017-05-30 (import_counts.py:43) — skip older
    # drops at discovery so they aren't re-read every run
    files = {d: p for d, p in files.items() if d >= COUNTS_BEGIN}
    existing = lake.read("counts", COUNTS_SCHEMA)
    if not force_reload and lake.exists("counts"):
        have = {r["day"] for r in existing.select("day").distinct().collect()}
        files = {d: p for d, p in files.items() if d not in have}
    if not files:
        return 0
    # one scope: the cached day files feed the union until it is written
    with cacheutil.scope():
        raw = None
        for _, path in sorted(files.items()):
            part = read_day_csv(spark, path, COUNTS_CSV_SCHEMA, max_errors=10)
            raw = part if raw is None else raw.unionByName(part)
        new = typed_counts(raw)
        merged = (
            existing.join(new, "day", "left_anti").unionByName(new)
            if lake.exists("counts")
            else new
        )
        lake.overwrite("counts", merged)
    return len(files)


def summarize_daily(
    spark: SparkSession, lake: Lake, suffix: str = "", lookback_days: int = 7
) -> tuple[dt.date, dt.date] | None:
    """EP3 (calculate_daily_summary.py:135-168): incremental daily
    summaries over unprocessed days.

    day_from = MAX(day)+1 of the summary table (A4 high-water mark),
    falling back to the first activity day; day_until = newest
    activity day. The 7-day join re-reads `lookback_days` extra days
    of daily_activity_per_device so window recomputation is
    self-contained (SURVEY §3 EP3).
    """
    from fxa_activity_metrics_spark.operators.summaries import (
        daily_activity_per_device,
        multi_device_users_join,
    )

    act_tbl = f"activity_events{suffix}"
    dev_tbl = f"daily_activity_per_device{suffix}"
    mdu_tbl = f"daily_multi_device_users{suffix}"

    act_days = lake.days(act_tbl)
    if not act_days:
        return None
    day_first, day_until = act_days[0], act_days[-1]
    hwm = lake.max_day(dev_tbl)
    day_from = hwm + dt.timedelta(days=1) if hwm else day_first
    if day_from > day_until:
        return None

    events = lake.read_days(act_tbl, day_from, day_until)
    dev = daily_activity_per_device(events)
    lake.write_days(dev_tbl, dev, sort_cols=["day"])

    # lookback window: previous days' device activity feeds the join
    window_from = day_from - dt.timedelta(days=lookback_days)
    dev_window = lake.read_days(dev_tbl, window_from, day_until)
    mdu = multi_device_users_join(dev_window, lookback_days)
    mdu = mdu.filter(F.col("day") >= F.lit(str(day_from)).cast("date"))
    lake.write_days(mdu_tbl, mdu, sort_cols=["day"])
    return day_from, day_until
