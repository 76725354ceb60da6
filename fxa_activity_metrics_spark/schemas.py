"""Dataset schemas + descriptors (SURVEY §1.5, reference DDL).

Schemas are fixed and declared, never inferred — mirrors the
hard-coded DDL constants in the reference
(import_activity_events.py:7-17, import_flow_events.py:9-63,
import_email_events.py:6-16, import_counts.py:47-53). CSV columns are
positionally mapped (import_events.py:87-100), so each descriptor
carries the exact CSV column order.

Missing values in the raw feeds are EMPTY STRINGS, not NULL
(calculate_daily_summary.py:61, import_flow_events.py:211-219); the
CSV readers in sources.csv preserve that.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Sample-rate variants: (table suffix, percent kept, retention months).
# Reference: SAMPLE_RATES, import_events.py:43-47.
# ---------------------------------------------------------------------------
SAMPLE_RATES: list[tuple[str, int, int]] = [
    ("_sampled_10", 10, 24),
    ("_sampled_50", 50, 6),
    ("", 100, 3),
]


def _s(name: str, nullable: bool = True) -> T.StructField:
    return T.StructField(name, T.StringType(), nullable)


def _l(name: str, nullable: bool = True) -> T.StructField:
    return T.StructField(name, T.LongType(), nullable)


# --- raw CSV (staging) schemas: epoch-seconds BIGINT + strings ------------

# activity: import_events.py:82 (timestamp BIGINT) + import_activity_events.py:17
ACTIVITY_CSV_SCHEMA = T.StructType(
    [
        _l("timestamp", False),
        _s("ua_browser"),
        _s("ua_version"),
        _s("ua_os"),
        _s("uid", False),
        _s("type", False),
        _s("service"),
        _s("device_id"),
    ]
)

# flow staging: import_flow_events.py:29-47 (18 fields, clean-flow-data.sh:48)
FLOW_CSV_SCHEMA = T.StructType(
    [
        _l("timestamp", False),
        _s("type", False),  # VARCHAR(79): fits flow.continued.${flow_id}
        _s("flow_id", False),
        _l("flow_time", False),
        _s("ua_browser"),
        _s("ua_version"),
        _s("ua_os"),
        _s("context"),
        _s("entrypoint"),
        _s("migration"),
        _s("service"),
        _s("utm_campaign"),
        _s("utm_content"),
        _s("utm_medium"),
        _s("utm_source"),
        _s("utm_term"),
        _s("locale"),
        _s("uid"),
    ]
)

# email: import_email_events.py:16
EMAIL_CSV_SCHEMA = T.StructType(
    [
        _l("timestamp", False),
        _s("flow_id"),
        _s("domain"),
        _s("template"),
        _s("type", False),
        _s("bounced"),
        _s("complaint"),
        _s("locale"),
    ]
)

# counts: import_counts.py:60-66
COUNTS_CSV_SCHEMA = T.StructType(
    [
        _s("day", False),  # CHAR(10) ISO day in staging; typed to DATE on load
        _l("accounts", False),
        _l("verified_accounts", False),
    ]
)

# --- typed lake (permanent) schemas ---------------------------------------

ACTIVITY_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), False),
        _s("uid", False),
        _s("type", False),
        _s("device_id"),
        _s("service"),
        _s("ua_browser"),
        _s("ua_version"),
        _s("ua_os"),
        T.StructField("day", T.DateType(), False),  # partition column
    ]
)

# perm flow_events keeps 5 columns (import_flow_events.py:49-55)
FLOW_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), False),
        _s("type", False),
        _s("flow_id", False),
        _l("flow_time", False),
        _s("locale"),
        _s("uid"),
        T.StructField("day", T.DateType(), False),
    ]
)

# flow_metadata: import_flow_events.py:65-91
FLOW_METADATA_SCHEMA = T.StructType(
    [
        _s("flow_id", False),  # UNIQUE — enforced by construction
        T.StructField("begin_time", T.TimestampType(), False),
        _l("duration", False),  # BIGINT seconds (Redshift lacks INTERVAL cols)
        T.StructField("completed", T.BooleanType(), False),
        T.StructField("new_account", T.BooleanType(), False),
        _s("ua_browser"),
        _s("ua_version"),
        _s("ua_os"),
        _s("context"),
        _s("entrypoint"),
        _s("migration"),
        _s("service"),
        _s("utm_campaign"),
        _s("utm_content"),
        _s("utm_medium"),
        _s("utm_source"),
        _s("utm_term"),
        T.StructField("export_date", T.DateType(), False),
        _s("locale"),
        _s("uid"),
        _s("continued_from"),
    ]
)

# flow_experiments: import_flow_events.py:93-102
FLOW_EXPERIMENTS_SCHEMA = T.StructType(
    [
        _s("experiment", False),
        _s("cohort", False),
        T.StructField("timestamp", T.TimestampType(), False),
        _s("flow_id", False),
        _s("uid"),
        T.StructField("export_date", T.DateType(), False),
    ]
)

EMAIL_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), False),
        _s("flow_id"),
        _s("domain"),
        _s("template"),
        _s("type", False),
        _s("bounced"),
        _s("complaint"),
        _s("locale"),
        T.StructField("day", T.DateType(), False),
    ]
)

COUNTS_SCHEMA = T.StructType(
    [
        T.StructField("day", T.DateType(), False),  # UNIQUE
        _l("accounts", False),
        _l("verified_accounts", False),
    ]
)

# daily summaries: calculate_daily_summary.py:36-46, 77-84
DAILY_ACTIVITY_PER_DEVICE_SCHEMA = T.StructType(
    [
        T.StructField("day", T.DateType(), False),
        _s("uid", False),
        _s("device_id", False),
        _s("service"),
        _s("ua_browser"),
        _s("ua_version"),
        _s("ua_os"),
    ]
)

DAILY_MULTI_DEVICE_USERS_SCHEMA = T.StructType(
    [
        T.StructField("day", T.DateType(), False),
        _s("uid", False),
        _s("device_now", False),
        _s("device_prev", False),
    ]
)


@dataclass(frozen=True)
class Dataset:
    """Per-dataset config, the Spark-side analogue of the reference's
    config modules (import_activity_events.py:19-24,
    import_flow_events.py:388-397, import_email_events.py:18-24).
    """

    name: str  # lake table base name, e.g. "activity_events"
    csv_schema: T.StructType
    lake_schema: T.StructType
    id_column: str  # cohort-sampling key (uid or flow_id)
    csv_prefix: str  # source file prefix: {prefix}-{YYYY-MM-DD}.csv
    # string-length caps from the reference VARCHAR(n) DDL, applied on
    # load to emulate Redshift TRUNCATECOLUMNS (import_events.py:96)
    max_lengths: dict[str, int] = field(default_factory=dict)
    # clustering keys: the Spark-side analogue of the reference's
    # SORTKEY/DISTKEY pair — every day partition is z-ordered on these
    # as it lands (ImportJob.import_day), so point lookups and
    # composite scans prune row groups (ZORDER_ACTIVITY_SKIP.json);
    # Lake.maintain sweeps days written without clustering
    zorder_cols: tuple[str, ...] | None = None


ACTIVITY = Dataset(
    name="activity_events",
    csv_schema=ACTIVITY_CSV_SCHEMA,
    lake_schema=ACTIVITY_EVENTS_SCHEMA,
    id_column="uid",
    csv_prefix="activity_events",
    # SORTKEY timestamp (import_events.py:62) + DISTKEY uid
    # (import_activity_events.py:8)
    zorder_cols=("timestamp", "uid"),
    max_lengths={
        "uid": 64,
        "type": 30,
        "device_id": 32,
        "service": 40,
        "ua_browser": 40,
        "ua_version": 40,
        "ua_os": 40,
    },
)

FLOW = Dataset(
    name="flow_events",
    csv_schema=FLOW_CSV_SCHEMA,
    lake_schema=FLOW_EVENTS_SCHEMA,
    id_column="flow_id",
    csv_prefix="flow_events",
    # SORTKEY timestamp (import_events.py:62) + DISTKEY flow_id
    # (import_flow_events.py:51)
    zorder_cols=("timestamp", "flow_id"),
    max_lengths={"type": 79, "flow_id": 64, "locale": 40, "uid": 64},
)

EMAIL = Dataset(
    name="email_events",
    csv_schema=EMAIL_CSV_SCHEMA,
    lake_schema=EMAIL_EVENTS_SCHEMA,
    id_column="flow_id",
    csv_prefix="email_events",
    # SORTKEY timestamp (import_events.py:62) + DISTKEY flow_id
    # (import_email_events.py:7)
    zorder_cols=("timestamp", "flow_id"),
    max_lengths={
        "flow_id": 64,
        "domain": 40,
        "template": 64,
        "type": 64,
        "bounced": 64,
        "complaint": 64,
        "locale": 64,
    },
)

DATASETS: dict[str, Dataset] = {d.name: d for d in (ACTIVITY, FLOW, EMAIL)}
