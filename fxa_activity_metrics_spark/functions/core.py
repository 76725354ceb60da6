"""Scalar functions — all built-in Spark expressions, zero Python UDFs.

Each function reproduces one scalar semantic from the reference
(SURVEY §2.8). Staying on `pyspark.sql.functions` keeps everything
inside whole-stage codegen, which is the 100 TB-scale requirement:
these run per-row on every event ingested.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ts_from_epoch(col: Column | str) -> Column:
    """Epoch-seconds BIGINT → TIMESTAMP.

    Reference F1: `'epoch'::TIMESTAMP + timestamp * '1 second'::INTERVAL`
    (import_events.py:113, import_flow_events.py:129,275).
    """
    return F.timestamp_seconds(F.col(col) if isinstance(col, str) else col)


def day_of(col: Column | str) -> Column:
    """TIMESTAMP → DATE truncation, UTC (reference F2 `expr::DATE`,
    import_events.py:104,118). Session timezone is pinned to UTC in
    session.get_spark, so this is a pure UTC truncation.
    """
    return F.to_date(F.col(col) if isinstance(col, str) else col)


def hex_to_long(col: Column | str) -> Column:
    """Hex string → BIGINT. Reference F3 `STRTOL(hex, 16)`
    (import_events.py:114)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(c, 16, 10).cast("long")


def cohort_bucket(id_col: Column | str) -> Column:
    """Deterministic cohort bucket 0-99 from an entity id.

    Reference P6: `STRTOL(SUBSTRING(id FROM 0 FOR 8), 16) % 100`
    (import_events.py:114). CRITICAL fidelity trap (SURVEY §7.1):
    Redshift clips `FROM 0 FOR 8` to the FIRST SEVEN hex chars, so we
    take substring(id, 1, 7) — an 8-char version would silently move
    every entity to a different cohort.
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return hex_to_long(F.substring(c, 1, 7)) % 100


def sample_cohort(id_col: Column | str, percent: int) -> Column:
    """Boolean predicate: is this entity in the `percent`% cohort?

    Deterministic by id prefix — NOT Bernoulli — so samples are
    consistent cohorts across days and the 10% set is a subset of the
    50% set (import_events.py:114,117).
    """
    if percent >= 100:
        return F.lit(True)
    return cohort_bucket(id_col) < percent


def parse_continued_from(type_col: Column | str) -> Column:
    """Extract the prior flow id from `flow.continued.${flow_id}`.

    Reference F5: `SUBSTRING(type, 16, 64)` (import_flow_events.py:244)
    — 15-char prefix `flow.continued.` stripped, 64-hex id kept.
    """
    c = F.col(type_col) if isinstance(type_col, str) else type_col
    return F.substring(c, 16, 64)


def experiment_name(type_col: Column | str) -> Column:
    """`flow.experiment.{name}.{cohort}` → name.

    Reference F6: `SPLIT_PART(type, '.', 3)` (import_flow_events.py:273).
    """
    c = F.col(type_col) if isinstance(type_col, str) else type_col
    return F.split_part(c, F.lit("."), F.lit(3))


def experiment_cohort(type_col: Column | str) -> Column:
    """`flow.experiment.{name}.{cohort}` → cohort.

    Reference F6: `SPLIT_PART(type, '.', 4)` (import_flow_events.py:274).
    """
    c = F.col(type_col) if isinstance(type_col, str) else type_col
    return F.split_part(c, F.lit("."), F.lit(4))


def empty_backfill(current: Column | str, fallback: Column | str) -> Column:
    """`CASE WHEN c = '' THEN fallback ELSE c END`.

    Reference F9 (import_flow_events.py:211-219). Empty string — not
    NULL — is the missing-value sentinel throughout the reference
    (SURVEY §7 trap 2), so this is NOT coalesce.
    """
    cur = F.col(current) if isinstance(current, str) else current
    fb = F.col(fallback) if isinstance(fallback, str) else fallback
    return F.when(cur == "", fb).otherwise(cur)


def empty_strings(df: DataFrame) -> DataFrame:
    """Missing CSV fields read as '' — never NULL — the reference's
    missing-value sentinel (P4, SURVEY §7 trap 2): every NULL in a
    string column (a short row's absent trailing fields) becomes ''.
    The batch day-file read and the streaming twins apply this same
    boundary, so their tables agree on every blank field."""
    return df.select(
        *[
            F.coalesce(F.col(f.name), F.lit("")).alias(f.name)
            if f.dataType.typeName() == "string"
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


def truncate_columns(df: DataFrame, max_lengths: dict[str, int]) -> DataFrame:
    """Emulate Redshift `TRUNCATECOLUMNS` (import_events.py:96):
    over-length string values are truncated on load, never rejected.
    """
    cols = []
    for f in df.schema.fields:
        n = max_lengths.get(f.name)
        if n is not None and f.dataType.typeName() == "string":
            cols.append(F.substring(F.col(f.name), 1, n).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)
