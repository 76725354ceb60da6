"""Flow sessionization: flow_metadata / flow_experiments maintenance.

Reference: import_flow_events.py — the hardest batch logic in the
reference. One `flow_metadata` row per flow_id (UNIQUE, :67), built
from a `flow.begin` event and enriched by later events with a ONE-DAY
grace window (enrichments read events of day AND day+1,
:170-171,185-187,200-202,250-252,293-294). Control events
(begin / continued.* / experiment.*) are CONSUMED — deleted from
flow_events after processing (:151-155,257-261,300-304).

Spark design: every step is a DataFrame transform — the UPDATE…FROM
statements become left joins + column rewrites over the session
table, executed as one deterministic DAG per day. All joins are
equi-keyed on flow_id; the aggregate sides are pre-shrunk by day
filters so AQE turns them into broadcasts at typical daily volumes.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fxa_activity_metrics_spark.functions.core import (
    empty_backfill,
    experiment_cohort,
    experiment_name,
    parse_continued_from,
)

# metrics-context columns backfilled for pre-2016-10-25 data
# (import_flow_events.py:207-240,344-352)
CONTEXT_COLUMNS = (
    "context",
    "entrypoint",
    "migration",
    "service",
    "utm_campaign",
    "utm_content",
    "utm_medium",
    "utm_source",
    "utm_term",
)

BACKFILL_CUTOFF = dt.date(2016, 10, 25)


def consumed_condition():
    """Predicate matching control events that are deleted after
    processing (import_flow_events.py:151-155,257-261,300-304)."""
    t = F.col("type")
    return (
        (t == "flow.begin")
        | t.startswith("flow.continued.")
        | t.startswith("flow.experiment.")
    )


def begin_sessions(day_events: DataFrame, day: dt.date | str) -> DataFrame:
    """Initial flow_metadata rows from `flow.begin` events of ``day``
    (import_flow_events.py:109-149).

    flow_id is UNIQUE (:67) — enforced by construction: the earliest
    begin event wins per flow (SURVEY §7 trap 8), via a min_by-style
    aggregation (one shuffle on flow_id, no window sort needed).
    """
    begins = day_events.filter(F.col("type") == "flow.begin")
    # earliest begin wins; tie-break deterministically on the struct order
    packed = begins.select(
        "flow_id",
        F.struct(
            "timestamp",
            "ua_browser",
            "ua_version",
            "ua_os",
            *CONTEXT_COLUMNS,
            "locale",
            "uid",
        ).alias("_row"),
    )
    first = packed.groupBy("flow_id").agg(F.min("_row").alias("_row"))
    return first.select(
        "flow_id",
        F.col("_row.timestamp").alias("begin_time"),
        F.lit(0).cast("long").alias("duration"),
        F.lit(False).alias("completed"),
        F.lit(False).alias("new_account"),
        F.col("_row.ua_browser").alias("ua_browser"),
        F.col("_row.ua_version").alias("ua_version"),
        F.col("_row.ua_os").alias("ua_os"),
        *[F.col(f"_row.{c}").alias(c) for c in CONTEXT_COLUMNS],
        F.lit(str(day)).cast("date").alias("export_date"),
        F.col("_row.locale").alias("locale"),
        F.col("_row.uid").alias("uid"),
        F.lit("").alias("continued_from"),
    )


def enrich_duration_locale_uid(meta: DataFrame, grace_events: DataFrame) -> DataFrame:
    """J2 (import_flow_events.py:157-175): per-flow
    duration = MAX(flow_time), locale = MAX(locale), uid = MAX(uid)
    from events of day ∪ day+1. MAX over strings is lexicographic by
    design (F11 — the reference's "any value" picker; trap 3)."""
    agg = grace_events.groupBy("flow_id").agg(
        F.max("flow_time").alias("_duration"),
        F.max("locale").alias("_locale"),
        F.max("uid").alias("_uid"),
    ).withColumn("_m", F.lit(True))
    joined = meta.join(agg, "flow_id", "left")
    # the reference's SET is unconditional for matched flows — a NULL
    # aggregate overwrites (not coalesce-keeps) the prior value
    return joined.select(
        *[
            c
            for c in meta.columns
            if c not in ("duration", "locale", "uid")
        ],
        F.when(F.col("_m"), F.col("_duration")).otherwise(F.col("duration")).alias("duration"),
        F.when(F.col("_m"), F.col("_locale")).otherwise(F.col("locale")).alias("locale"),
        F.when(F.col("_m"), F.col("_uid")).otherwise(F.col("uid")).alias("uid"),
    ).select(*meta.columns)


def mark_flag(
    meta: DataFrame, grace_events: DataFrame, marker_type: str, flag_col: str
) -> DataFrame:
    """J3/J4 (import_flow_events.py:177-205): set ``flag_col`` TRUE
    where a marker event exists for the flow in day ∪ day+1 — a
    semi-join expressed as left-semi + flag rewrite."""
    markers = (
        grace_events.filter(F.col("type") == marker_type)
        .select("flow_id")
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    joined = meta.join(markers, "flow_id", "left")
    return joined.select(
        *[c for c in meta.columns if c != flag_col],
        F.when(F.col("_hit"), F.lit(True)).otherwise(F.col(flag_col)).alias(flag_col),
    ).select(*meta.columns)


def backfill_context(meta: DataFrame, grace_staging: DataFrame) -> DataFrame:
    """J5 (import_flow_events.py:207-240): for each metrics-context
    column, `CASE WHEN meta.col = '' THEN MAX-per-flow(staging.col)
    ELSE meta.col END`. Empty string is the missing sentinel, NOT
    null (trap 2). Applied by the reference only to pre-2016-10-25
    exports (:344-352) — the caller gates on export_date.

    ``grace_staging`` must be the FULL-COLUMN typed staging frame
    (sample-filtered, NO day filter): the reference reads the staging
    temp table here — not the begin-consumed perm table — because only
    staging still carries the metrics-context columns
    (Q_UPDATE_METRICS_CONTEXT formats table_name=temporary_table_name,
    import_flow_events.py:350-352)."""
    agg = grace_staging.groupBy("flow_id").agg(
        *[F.max(c).alias(f"_{c}") for c in CONTEXT_COLUMNS]
    ).withColumn("_m", F.lit(True))
    joined = meta.join(agg, "flow_id", "left")
    out_cols = []
    for c in meta.columns:
        if c in CONTEXT_COLUMNS:
            # matched flows take the aggregate even when it is NULL —
            # the reference's SET is unconditional inside the ''-gate
            out_cols.append(
                empty_backfill(
                    F.col(c),
                    F.when(F.col("_m"), F.col(f"_{c}")).otherwise(F.col(c)),
                ).alias(c)
            )
        else:
            out_cols.append(F.col(c))
    return joined.select(*out_cols)


def set_continued_from(meta: DataFrame, grace_events: DataFrame) -> DataFrame:
    """J6 (import_flow_events.py:242-255): parse the prior flow id out
    of `flow.continued.${flow_id}` events (F5: SUBSTRING(type,16,64))."""
    cont = (
        grace_events.filter(F.col("type").startswith("flow.continued."))
        .select("flow_id", parse_continued_from("type").alias("_cf"))
        .groupBy("flow_id")
        .agg(F.max("_cf").alias("_cf"))
    )
    joined = meta.join(cont, "flow_id", "left")
    return joined.select(
        *[c for c in meta.columns if c != "continued_from"],
        F.coalesce(F.col("_cf"), F.col("continued_from")).alias("continued_from"),
    ).select(*meta.columns)


def experiments_from_events(day_events: DataFrame, day: dt.date | str) -> DataFrame:
    """flow_experiments rows from `flow.experiment.{name}.{cohort}`
    events of ``day`` (import_flow_events.py:263-285; F6 split_part)."""
    exp = day_events.filter(F.col("type").startswith("flow.experiment."))
    return exp.select(
        experiment_name("type").alias("experiment"),
        experiment_cohort("type").alias("cohort"),
        F.col("timestamp"),
        F.col("flow_id"),
        F.col("uid"),
        F.lit(str(day)).cast("date").alias("export_date"),
    ).distinct()


def enrich_experiment_uid(experiments: DataFrame, grace_events: DataFrame) -> DataFrame:
    """J7 (import_flow_events.py:287-298): experiments.uid =
    MAX(uid) per flow from events of day ∪ day+1."""
    agg = (
        grace_events.groupBy("flow_id")
        .agg(F.max("uid").alias("_uid"))
        .withColumn("_m", F.lit(True))
    )
    joined = experiments.join(agg, "flow_id", "left")
    # unconditional SET for matched flows, as in Q_UPDATE_EXPERIMENTS
    return joined.select(
        *[c for c in experiments.columns if c != "uid"],
        F.when(F.col("_m"), F.col("_uid")).otherwise(F.col("uid")).alias("uid"),
    ).select(*experiments.columns)


def metadata_grace_frame(grace_events: DataFrame) -> DataFrame:
    """The J2/J3/J4 event frame: the reference deletes the day's
    flow.begin rows from perm BEFORE Q_UPDATE_METADATA
    (Q_DELETE_BEGIN_EVENTS, import_flow_events.py:333), and day+1's
    control events were consumed during its own newest-first run — so
    begin rows never feed the duration/locale/uid aggregates."""
    return grace_events.filter(F.col("type") != "flow.begin")


def experiments_grace_frame(grace_events: DataFrame) -> DataFrame:
    """The J7 event frame: by Q_UPDATE_EXPERIMENTS both the day's
    begin AND continued events are deleted (import_flow_events.py:
    333,356); only its experiment events are still live (consumed
    after, :369)."""
    t = F.col("type")
    return grace_events.filter(
        (t != "flow.begin") & ~t.startswith("flow.continued.")
    )
