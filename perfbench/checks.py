"""Untimed output checks. Each returns a list of problems; an empty
list is a pass.

The checks read the lake's parquet files and the raw drops with
DuckDB, so no check goes through the engine under test.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os

import duckdb

from gen import SAMPLE_SUFFIXES as SUFFIXES

ACTIVITY_COLUMNS = {
    "timestamp": "BIGINT", "ua_browser": "VARCHAR", "ua_version": "VARCHAR",
    "ua_os": "VARCHAR", "uid": "VARCHAR", "type": "VARCHAR", "service": "VARCHAR",
    "device_id": "VARCHAR",
}


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    return con


def _norm(v) -> str:
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if v is None:
        return "<null>"
    return str(v)


def rows_digest(rows: list[dict], columns: list[str]) -> str:
    """Order-insensitive digest of a result: each row's values,
    normalised and taken in sorted column order, then the sorted rows
    hashed."""
    cols = sorted(columns)
    lines = sorted("\x1f".join(_norm(r[c]) for c in cols) for r in rows)
    h = hashlib.sha256()
    h.update("\x1e".join(cols).encode())
    for line in lines:
        h.update(b"\x1d" + line.encode())
    return h.hexdigest()


def oracle_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = connect()
    for name in ("events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(data_dir, name + '.parquet')}'"
        )
    return con


def check_query(name: str, result, sql: str, con) -> list[str]:
    """``result`` (a pyarrow Table of the query's output) against the
    query's DuckDB oracle."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    want = [dict(zip(cols, r)) for r in cur.fetchall()]
    got = result.to_pylist()
    if sorted(result.column_names) != sorted(cols):
        return [f"{name}: columns {sorted(result.column_names)} != oracle {sorted(cols)}"]
    if rows_digest(got, cols) != rows_digest(want, cols):
        return [f"{name}: result digest differs from oracle ({len(got)} vs {len(want)} rows)"]
    return []


# ---------------------------------------------------------------------------
# lake checks
# ---------------------------------------------------------------------------


def _table_glob(lake_root: str, table: str) -> str:
    return os.path.join(lake_root, table, "*", "part-*.parquet")


def _has_files(lake_root: str, table: str) -> bool:
    root = os.path.join(lake_root, table)
    return os.path.isdir(root) and any(
        f.startswith("part-") for _, _, files in os.walk(root) for f in files
    )


def lake_day_counts(con, lake_root: str, table: str) -> dict[dt.date, int]:
    if not _has_files(lake_root, table):
        return {}
    rows = con.execute(
        f"SELECT day, count(*) FROM read_parquet('{_table_glob(lake_root, table)}', "
        "hive_partitioning=true) GROUP BY day"
    ).fetchall()
    return {d: n for d, n in rows}


def check_lake_counts(con, lake_root: str, expected: dict) -> list[str]:
    """Row count per (table, day) against the generator's count."""
    problems = []
    tables = sorted({t for t, _ in expected})
    for table in tables:
        have = lake_day_counts(con, lake_root, table)
        for (t, day), n in sorted(expected.items()):
            if t == table and have.get(day, 0) != n:
                problems.append(f"{table} {day}: {have.get(day, 0)} rows, expected {n}")
    return problems


def _activity_rows_sql(drop_files: list[str]) -> str:
    """The rows the batch import keeps from activity drops: parsable
    lines whose UTC day is the file's day."""
    files = ", ".join(f"'{p}'" for p in drop_files)
    cols = ", ".join(f"'{k}': '{v}'" for k, v in ACTIVITY_COLUMNS.items())
    return f"""
        SELECT make_timestamp("timestamp" * 1000000) AS "timestamp",
               ua_browser, ua_version, ua_os, uid, type, service, device_id,
               CAST(make_timestamp("timestamp" * 1000000) AS DATE) AS day
        FROM read_csv([{files}], columns={{{cols}}}, header=false, auto_detect=false,
                      nullstr='\\N', quote='', escape='', ignore_errors=true, filename=true)
        WHERE CAST(make_timestamp("timestamp" * 1000000) AS DATE)
              = CAST(regexp_extract(filename, '([0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}})\\.csv$', 1) AS DATE)
    """


def _sampled(sql: str, percent: int) -> str:
    if percent >= 100:
        return sql
    return (f"SELECT * FROM ({sql}) WHERE "
            f"CAST('0x' || substr(uid, 1, 7) AS BIGINT) % 100 < {percent}")


def _bag(con, sql: str, columns: list[str]) -> tuple[int, int]:
    """(rows, order-insensitive hash) of a query."""
    # lake timestamps read back as TIMESTAMPTZ; compare them as UTC
    # wall-clock text like the drops' epoch seconds
    cols = ", ".join(f'CAST(CAST("{c}" AS TIMESTAMP) AS VARCHAR)' if c == "timestamp"
                     else f'CAST("{c}" AS VARCHAR)' for c in columns)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({cols}) % 1000000007), 0) FROM ({sql})"
    ).fetchone()
    return int(n), int(h)


def _lake_sql(lake_root: str, table: str) -> str:
    return (f"SELECT * FROM read_parquet('{_table_glob(lake_root, table)}', "
            "hive_partitioning=true)")


def check_activity_lake(con, lake_root: str, drop_files: list[str]) -> list[str]:
    """Every sampled activity table holds exactly the rows the batch
    import keeps from ``drop_files``."""
    cols = list(ACTIVITY_COLUMNS) + ["day"]
    problems = []
    for suffix, pct in SUFFIXES:
        table = "activity_events" + suffix
        want = _bag(con, _sampled(_activity_rows_sql(drop_files), pct), cols)
        have = _bag(con, _lake_sql(lake_root, table), cols) if _has_files(lake_root, table) else (0, 0)
        if have != want:
            problems.append(f"{table}: {have[0]} rows (hash {have[1]}), expected {want[0]} (hash {want[1]})")
    return problems


def check_same_activity(con, batch_root: str, stream_root: str) -> list[str]:
    """The streamed activity tables (all variants) hold the same rows
    as the batch lake's."""
    cols = list(ACTIVITY_COLUMNS) + ["day"]
    problems = []
    for suffix, _ in SUFFIXES:
        table = "activity_events" + suffix
        have = [_bag(con, _lake_sql(root, table), cols) if _has_files(root, table) else (0, 0)
                for root in (batch_root, stream_root)]
        if have[0] != have[1]:
            problems.append(f"{table}: batch {have[0][0]} rows, stream {have[1][0]} rows "
                            f"(hashes {have[0][1]}, {have[1][1]})")
    return problems


def check_summaries(con, lake_root: str, drop_files: list[str]) -> list[str]:
    """daily_activity_per_device and daily_multi_device_users of every
    variant against DuckDB's own computation over the drops (7-day
    multi-device window, calculate_daily_summary.py:99-101)."""
    dev_cols = ["day", "uid", "device_id", "service", "ua_browser", "ua_version", "ua_os"]
    mdu_cols = ["day", "uid", "device_now", "device_prev"]
    problems = []
    for suffix, pct in SUFFIXES:
        events = _sampled(_activity_rows_sql(drop_files), pct)
        dev = f"SELECT DISTINCT {', '.join(dev_cols)} FROM ({events}) WHERE device_id <> ''"
        mdu = f"""
            WITH d AS ({dev})
            SELECT DISTINCT a.day, a.uid, a.device_id AS device_now, b.device_id AS device_prev
            FROM d a JOIN d b ON a.uid = b.uid AND a.device_id <> b.device_id
             AND b.day <= a.day AND b.day >= a.day - INTERVAL 7 DAY
        """
        for table, sql, cols in ((f"daily_activity_per_device{suffix}", dev, dev_cols),
                                 (f"daily_multi_device_users{suffix}", mdu, mdu_cols)):
            want = _bag(con, sql, cols)
            have = _bag(con, _lake_sql(lake_root, table), cols) if _has_files(lake_root, table) else (0, 0)
            if have != want:
                problems.append(f"{table}: {have[0]} rows, expected {want[0]}")
    return problems


def check_stream_sessions(con, lake_root: str, flows_per_day: dict[dt.date, int]) -> list[str]:
    """One flow_metadata_stream row per generated flow, under its
    begin day."""
    table = "flow_metadata_stream"
    if not _has_files(lake_root, table):
        return [f"{table}: empty"]
    rows = dict(con.execute(
        f"SELECT export_date, count(*) FROM read_parquet('{_table_glob(lake_root, table)}', "
        "hive_partitioning=true) GROUP BY export_date"
    ).fetchall())
    return [f"{table} {d}: {rows.get(d, 0)} sessions, expected {n}"
            for d, n in sorted(flows_per_day.items()) if rows.get(d, 0) != n]
