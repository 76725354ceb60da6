"""Seeded input generator for the benchmark.

Two kinds of input, both a pure function of the seed:

* daily drops in the reference's raw layout (FIXTURES.md §1-4): one
  headerless CSV per dataset per day, epoch-second timestamps, '' for
  a missing value, mtime pinned to the file's day so a file stream
  reads them in day order;
* the three generic tables the query mix reads (``events``,
  ``documents``, ``embeddings``) as single parquet files, shaped like
  the repository's sf test tables (same columns, types and value
  domains; TESTDATA.md).

Each day's rows come from a generator seeded by (seed, dataset, day),
so a day's file is the same whether it lands in a backfill or alone.
The drops carry what the pipeline's semantics hinge on:

* uids and flow_ids spread over the 10 %, 50 % and 100 % cohort
  buckets (the first seven hex chars pick the bucket);
* flows that begin shortly before midnight and finish after it, so
  the finishing events sit in day+1's file (the one-day grace window);
* empty ``device_id`` values, which the daily summaries skip;
* two users whose second device appears exactly 7 and 8 days after
  the first (the edge of the 7-day multi-device window);
* stragglers: rows in a file whose timestamp is outside its day;
* a few malformed lines per file, far below MAXERROR.

:class:`Drops` also keeps the row counts the lake must end up with,
per table variant and day, so a run can check the import without
re-deriving them through the engine under test.
"""

from __future__ import annotations

import collections
import datetime as dt
import os
import random

SAMPLE_SUFFIXES = (("_sampled_10", 10), ("_sampled_50", 50), ("", 100))
CONSUMED_PREFIXES = ("flow.continued.", "flow.experiment.")

_BROWSERS = ("Firefox", "Chrome", "Safari", "")
_VERSIONS = ("57", "58.0.1", "")
_OSES = ("Windows 10", "Android", "Mac OS X", "")
_ACT_TYPES = ("account.created", "account.login", "account.verified", "device.created")
_LOCALES = ("en-US", "de", "fr", "")
_MALFORMED = ("bad-timestamp;select 1,x", "n/a,'quoted',row", "12ab,only,three")


def cohort(hex_id: str) -> int | None:
    """The sampling bucket of an id: its first seven hex chars mod 100
    (None for '', which no sampled variant keeps)."""
    return int(hex_id[:7], 16) % 100 if hex_id else None


def in_variant(hex_id: str, percent: int) -> bool:
    if percent >= 100:
        return True
    c = cohort(hex_id)
    return c is not None and c < percent


def epoch(day: dt.date, seconds: int = 0) -> int:
    midnight = dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc)
    return int(midnight.timestamp()) + seconds


def _hex(rng: random.Random, n: int) -> str:
    return f"{rng.getrandbits(4 * n):0{n}x}"


class Drops:
    """Daily drops of one seeded population.

    ``first_day`` is the day the population starts; the 7- and 8-day
    device pairs open on it. The population comes from ``seed``; each
    day's rows come from ``rows_seed``, which starts equal to it and
    may be changed between days. ``expected`` maps (table, day) to the
    number of rows that day must hold in that lake table, for every
    day written so far.
    """

    # per day: a quarter of the sizing probe's 20 000 activity and
    # 9 000 flow rows (FLOWS flows make ~3.1 flow rows each);
    # perfbench/README.md "Inputs" records how the import's time
    # grows with these sizes and why the benchmark stops here
    USERS = 1600
    ACTIVITY_ROWS = 5000
    FLOWS = 720
    EMAIL_ROWS = 1300

    def __init__(self, seed: int, first_day: dt.date):
        self.seed = self.rows_seed = seed
        self.first_day = first_day
        rng = random.Random(f"{seed}:users")
        self.users = [(_hex(rng, 64), [_hex(rng, 32) for _ in range(rng.randint(1, 3))])
                      for _ in range(self.USERS)]
        # one uid per pair, each pinned to cohort 3 so every variant
        # keeps it; the pair's devices are seen on no other day
        self.pair_users = {
            gap: ("0000003" + _hex(rng, 57), _hex(rng, 32), _hex(rng, 32))
            for gap in (7, 8)
        }
        self.expected: collections.Counter = collections.Counter()
        self.written: list[dt.date] = []

    # -- activity ----------------------------------------------------------

    def activity_lines(self, day: dt.date) -> tuple[list[str], list[list]]:
        """(file lines, rows of ``day`` the import keeps)."""
        rng = random.Random(f"{self.rows_seed}:activity:{day}")
        kept: list[list] = []
        for _ in range(self.ACTIVITY_ROWS):
            uid, devices = rng.choice(self.users)
            device = "" if rng.random() < 0.1 else rng.choice(devices)
            kept.append([
                epoch(day, rng.randrange(86400)), rng.choice(_BROWSERS),
                rng.choice(_VERSIONS), rng.choice(_OSES), uid,
                rng.choice(_ACT_TYPES), rng.choice(("sync", "", _hex(rng, 16))), device,
            ])
        offset = (day - self.first_day).days
        for gap, (uid, dev_a, dev_b) in self.pair_users.items():
            if offset in (0, gap):
                device = dev_a if offset == 0 else dev_b
                kept.append([epoch(day, 43200 + gap), "Firefox", "57", "Android",
                             uid, "account.login", "sync", device])
        strays = [
            [epoch(day, -1 - rng.randrange(3600)) if i % 2 else epoch(day, 86400 + rng.randrange(3600)),
             "Safari", "", "Mac OS X", rng.choice(self.users)[0], "account.login", "sync",
             rng.choice(self.users)[1][0]]
            for i in range(3)
        ]
        lines = [_csv(r) for r in kept + strays] + list(_MALFORMED)
        rng.shuffle(lines)
        return lines, kept

    # -- flows -------------------------------------------------------------

    def _flows_begun(self, day: dt.date) -> list[list[list]]:
        """Event rows of every flow that begins on ``day``, per flow;
        some run past midnight into day+1."""
        rng = random.Random(f"{self.rows_seed}:flows:{day}")
        out = []
        prev_ids: list[str] = []
        for i in range(self.FLOWS):
            fid = _hex(rng, 64)
            # the last eighth start in the final 20 minutes and finish
            # after midnight: the grace window
            late = i >= self.FLOWS - self.FLOWS // 8
            t0 = 86400 - 1200 + rng.randrange(600) if late else rng.randrange(80000)
            ua = [rng.choice(_BROWSERS), rng.choice(_VERSIONS), rng.choice(_OSES)]
            utm = [rng.choice(("spring", "")), "", rng.choice(("email", "cpc", "")),
                   rng.choice(("organic", "bing", "")), ""]
            uid = rng.choice(self.users)[0]
            locale = rng.choice(_LOCALES)

            def row(dt_s: int, type_: str, authed: bool) -> list:
                return [epoch(day, t0 + dt_s), type_, fid, dt_s * 1000, *ua,
                        "fx_desktop_v3", rng.choice(("preferences", "menupanel", "")),
                        rng.choice(("", "sync11")), rng.choice(("sync", "")), *utm,
                        locale if authed else "", uid if authed else ""]

            events = [row(0, "flow.begin", False)]
            step = 1500 if late else rng.randrange(5, 600)
            events.append(row(step, "flow.have-password", True))
            if late or rng.random() < 0.6:
                events.append(row(2 * step, "flow.complete", True))
            if rng.random() < 0.2:
                events.append(row(2 * step + 5, "account.created", True))
            if prev_ids and rng.random() < 0.1:
                events.append(row(1, f"flow.continued.{rng.choice(prev_ids)}", True))
            if rng.random() < 0.15:
                arm = rng.choice(("treatment", "control"))
                events.append(row(2, f"flow.experiment.exp{rng.randrange(3)}.{arm}", True))
            prev_ids.append(fid)
            out.append(events)
        return out

    def flow_lines(self, day: dt.date) -> tuple[list[str], list[list]]:
        """(file lines, rows whose timestamp is in ``day``): the day's
        own flows up to midnight plus yesterday's after midnight."""
        end = epoch(day, 86400)
        rows = [r for f in self._flows_begun(day) for r in f if r[0] < end]
        rows += [r for f in self._flows_begun(day - dt.timedelta(days=1))
                 for r in f if r[0] >= epoch(day)]
        rng = random.Random(f"{self.rows_seed}:flowfile:{day}")
        lines = [_csv(r) for r in rows] + list(_MALFORMED)
        rng.shuffle(lines)
        return lines, rows

    # -- email / counts ----------------------------------------------------

    def email_lines(self, day: dt.date) -> tuple[list[str], list[list]]:
        rng = random.Random(f"{self.rows_seed}:email:{day}")
        flow_ids = [f[0][2] for f in self._flows_begun(day)]
        kept = [
            [epoch(day, rng.randrange(86400)),
             "" if rng.random() < 0.1 else rng.choice(flow_ids),
             rng.choice(("gmail.com", "outlook.com", "other")),
             rng.choice(("verify", "recovery", "verify_login")),
             rng.choice(("sent", "delivered", "bounced", "complaint", "click")),
             rng.choice(("", "true")), rng.choice(("", "true")), rng.choice(("en-US", "de", ""))]
            for _ in range(self.EMAIL_ROWS)
        ]
        strays = [[epoch(day, 86400 + 60 * i), rng.choice(flow_ids), "gmail.com", "verify",
                   "sent", "", "", "en-US"] for i in range(2)]
        lines = [_csv(r) for r in kept + strays] + list(_MALFORMED[:2])
        rng.shuffle(lines)
        return lines, kept

    def counts_line(self, day: dt.date) -> str:
        n = (day - self.first_day).days
        return f"{day},{100000 + 137 * n},{80000 + 101 * n}"

    # -- writing -----------------------------------------------------------

    def write_day(self, dirpath: str, day: dt.date) -> int:
        """Land all four drops of ``day`` in ``dirpath`` and record
        the rows each lake table must then hold for it. Returns the
        bytes landed."""
        act, act_rows = self.activity_lines(day)
        flow, flow_rows = self.flow_lines(day)
        email, email_rows = self.email_lines(day)
        size = (_write(dirpath, f"activity_events-{day}.csv", act, day)
                + _write(dirpath, f"flow_events-{day}.csv", flow, day)
                + _write(dirpath, f"email_events-{day}.csv", email, day)
                + _write(dirpath, f"fxa-basic-metrics-{day}.txt", [self.counts_line(day)], day))
        perm_flow = [r for r in flow_rows
                     if r[1] != "flow.begin" and not r[1].startswith(CONSUMED_PREFIXES)]
        for suffix, pct in SAMPLE_SUFFIXES:
            self.expected[(f"activity_events{suffix}", day)] = sum(
                in_variant(r[4], pct) for r in act_rows)
            self.expected[(f"email_events{suffix}", day)] = sum(
                in_variant(r[1], pct) for r in email_rows)
            self.expected[(f"flow_events{suffix}", day)] = sum(
                in_variant(r[2], pct) for r in perm_flow)
        self.written.append(day)
        return size


def _csv(row: list) -> str:
    return ",".join(str(v) for v in row)


def _write(dirpath: str, name: str, lines: list[str], day: dt.date) -> int:
    os.makedirs(dirpath, exist_ok=True)
    path = os.path.join(dirpath, name)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    # mtime = the file's day: the file stream orders by mtime, so
    # drops are read in day order and the watermark advances
    os.utime(path, (epoch(day), epoch(day)))
    return os.path.getsize(path)


# ---------------------------------------------------------------------------
# query-mix tables
# ---------------------------------------------------------------------------

_WORDS = (
    "spark line column order small sort fast value scan a hash slow group batch "
    "agg filter query big key window row part table stream merge data vector join "
    "customer the"
).split()


def write_query_tables(dirpath: str, seed: int, events: int, documents: int,
                       embeddings: int) -> None:
    """``events``, ``documents`` and ``embeddings`` parquet files with
    the sf test tables' columns, types and value domains (64-dim
    unit-norm embeddings clustered around ten labels)."""
    dim = 64
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dirpath, exist_ok=True)
    rs = np.random.default_rng(seed)
    base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rs.integers(0, 30 * 86400 * 10**6, events)) + base
    users = max(20, events // 50)
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(events, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rs.integers(0, users, events), pa.int64()),
        "event_type": pa.array(rs.choice(["signup", "view", "click", "purchase", "error"], events)),
        "value": pa.array(np.round(rs.exponential(60.0, events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rs.integers(0, 100, events)]),
    }), os.path.join(dirpath, "events.parquet"))

    texts = []
    for i in range(documents):
        if i and rs.random() < 0.02:
            texts.append(texts[int(rs.integers(0, i))])  # exact duplicate
            continue
        words = list(rs.choice(_WORDS, int(rs.integers(8, 70))))
        if i and rs.random() < 0.08:  # near duplicate: one word swapped
            words = texts[int(rs.integers(0, i))].split()
            words[int(rs.integers(0, len(words)))] = str(rs.choice(_WORDS))
        texts.append(" ".join(words))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(documents, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rs.choice(["en", "en", "de", "es", "fr", "zh"], documents)),
        "source": pa.array([f"src{i % 20}" for i in range(documents)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(dirpath, "documents.parquet"))

    labels = rs.integers(0, 10, embeddings).astype(np.int32)
    centers = rs.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rs.normal(0.0, 0.8, (embeddings, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(embeddings, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels),
    }), os.path.join(dirpath, "embeddings.parquet"))
