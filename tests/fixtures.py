"""Deterministic synthetic day-files for pipeline tests (FIXTURES.md).

Raw inputs mirror the reference's CSV drops: headerless, epoch-second
timestamps, empty-string (not NULL) missing values, one file per day
named `{prefix}-{YYYY-MM-DD}.csv`.

uids/flow_ids are crafted so the first 7 hex chars ARE the cohort
number (`f"{c:07x}"` + padding): cohort(id) == c exactly, which makes
the 10% ⊂ 50% ⊂ 100% subset property directly testable
(import_events.py:114,117).
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import os

import pyarrow.parquet as pq

PAD = "e" * 57  # 7 cohort hex chars + 57 pad = 64-char id


def hex_id(cohort: int, tag: str = "") -> str:
    """64-hex id whose sampling cohort is exactly ``cohort``."""
    suffix = (tag.encode().hex() + PAD)[:57]
    return f"{cohort:07x}{suffix}"


def epoch(day: dt.date, hh: int = 0, mm: int = 0, ss: int = 0) -> int:
    return int(
        dt.datetime(day.year, day.month, day.day, hh, mm, ss, tzinfo=dt.timezone.utc).timestamp()
    )


def write_csv(dirpath: str, prefix: str, day: dt.date, rows: list[list]) -> str:
    os.makedirs(dirpath, exist_ok=True)
    path = os.path.join(dirpath, f"{prefix}-{day.isoformat()}.csv")
    with open(path, "w") as f:
        for row in rows:
            f.write(",".join(str(v) for v in row) + "\n")
    # mtime = the file's day, like a real daily drop: Spark's file
    # stream orders by modification time, so arrival order (and thus
    # watermark advancement across micro-batches) is deterministic
    os.utime(path, (epoch(day), epoch(day)))
    return path


# -- activity ---------------------------------------------------------------

# cohorts chosen to span the three sample tiers
COHORTS = [3, 7, 25, 40, 60, 95]


def activity_rows(day: dt.date) -> list[list]:
    """Rows for one activity day-file: several uids × devices, a
    straggler row from day+1 (must be filtered, import_events.py:118),
    and empty-string device_ids (calculate_daily_summary.py:61)."""
    rows = []
    for i, c in enumerate(COHORTS):
        uid = hex_id(c, f"u{c}")
        dev = f"dev{c}a".ljust(12, "0")
        rows.append([epoch(day, 10, i), "Firefox", "57", "Windows 10", uid, "account.login", "sync", dev])
        # second device for even cohorts → multi-device candidates
        if c % 2 == 0:
            dev2 = f"dev{c}b".ljust(12, "0")
            rows.append([epoch(day, 11, i), "Chrome", "58.0.1", "Android", uid, "account.login", "sync", dev2])
        # empty device_id row (must survive import, excluded by summaries)
        rows.append([epoch(day, 12, i), "", "", "", uid, "account.verified", "", ""])
    # straggler: epoch belongs to day+1 → day filter must drop it
    rows.append([epoch(day, 23, 59, 59) + 2, "Safari", "", "Mac OS X", hex_id(3, "u3"), "account.login", "sync", "devstray00000"])
    return rows


def write_activity_days(dirpath: str, days: list[dt.date]) -> None:
    for day in days:
        write_csv(dirpath, "activity_events", day, activity_rows(day))


def write_hashed_activity_days(dirpath: str, days: list[dt.date], n: int = 2000) -> None:
    """``n`` rows per day, at most 40 s apart and all inside the day,
    with md5 (hash-shuffled) uids: an unclustered row group spans the
    whole uid domain, so uid extents show whether a day was z-ordered."""
    step = min(40, 86_400 // n)
    for day in days:
        rows = [
            [epoch(day) + i * step, "b", "1", "os", hashlib.md5(f"u{i}".encode()).hexdigest(),
             "login", "svc", f"d{i % 7}"]
            for i in range(n)
        ]
        write_csv(dirpath, "activity_events", day, rows)


def at_production_file_budget(spark, step) -> None:
    """Run ``step()`` at the production shuffle-partition default. The
    clustering file budget derives from spark.sql.shuffle.partitions
    (//4); the test session pins 8, which yields 2 files — only the
    leading interleave bit (timestamp's) splits, so uid extents can't
    show."""
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        step()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def uid_extent(part: str) -> float:
    """Mean per-row-group uid range of one partition directory, as a
    fraction of the hex domain (7-char prefix as a base-16 integer),
    straight from the parquet footers."""
    vals = []
    for f in glob.glob(os.path.join(part, "*.parquet")):
        pf = pq.ParquetFile(f)
        ci = pf.schema_arrow.get_field_index("uid")
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(ci).statistics
            vals.append((int(st.max[:7], 16) - int(st.min[:7], 16)) / 16**7)
    return sum(vals) / len(vals)


# -- flows ------------------------------------------------------------------

F_A = hex_id(4, "flowA")  # completes same day; locale/uid arrive late
F_B = hex_id(8, "flowB")  # begins 23:50, completes day+1 00:05 (grace)
F_C = hex_id(2, "flowC")  # continues flow A
F_D = hex_id(6, "flowD")  # carries an experiment event
UID_A = hex_id(4, "userA")
UID_B = hex_id(8, "userB")

_E = ""  # empty-string missing value


def _frow(ts: int, type_: str, fid: str, ft: int, locale: str = _E, uid: str = _E) -> list:
    # 18 fields: ts, type, flow_id, flow_time, ua×3, context,
    # entrypoint, migration, service, utm×5, locale, uid
    return [ts, type_, fid, ft, "Firefox", "57", "Windows 10", "fx_desktop_v3",
            "preferences", _E, "sync", "camp", _E, "organic", "bing", _E, locale, uid]


def flow_rows_day1(d1: dt.date) -> list[list]:
    return [
        _frow(epoch(d1, 9, 0), "flow.begin", F_A, 0),
        _frow(epoch(d1, 9, 1), "flow.have-password", F_A, 60000, "en-US", UID_A),
        _frow(epoch(d1, 9, 2), "flow.complete", F_A, 120000, "en-US", UID_A),
        _frow(epoch(d1, 9, 3), "account.created", F_A, 130000, "en-US", UID_A),
        _frow(epoch(d1, 23, 50), "flow.begin", F_B, 0),
        _frow(epoch(d1, 14, 0), "flow.begin", F_D, 0),
        _frow(epoch(d1, 14, 1), "flow.experiment.exp1.treatment", F_D, 55000, "de", UID_B),
    ]


def flow_rows_day2(d2: dt.date) -> list[list]:
    return [
        # flow B finishes 15 minutes after midnight — grace window
        _frow(epoch(d2, 0, 5), "flow.complete", F_B, 900000, "fr", UID_B),
        _frow(epoch(d2, 11, 0), "flow.begin", F_C, 0),
        _frow(epoch(d2, 11, 1), f"flow.continued.{F_A}", F_C, 30000, "en-US", UID_A),
    ]


def write_flow_days(dirpath: str, d1: dt.date, d2: dt.date) -> None:
    write_csv(dirpath, "flow_events", d1, flow_rows_day1(d1))
    write_csv(dirpath, "flow_events", d2, flow_rows_day2(d2))
