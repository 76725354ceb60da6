import datetime as dt
import filecmp
import os

import gen

DAY = dt.date(2017, 7, 3)


def _ts(line: str) -> int | None:
    head = line.split(",", 1)[0]
    return int(head) if head.isdigit() else None


def test_same_seed_writes_the_same_drops(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.Drops(seed, DAY).write_day(str(tmp_path / name), DAY)
    files = sorted(os.listdir(tmp_path / "a"))
    assert len(files) == 4
    assert filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", files, shallow=False)[0] == files
    assert filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", files, shallow=False)[0] == [
        f"fxa-basic-metrics-{DAY}.txt"]


def test_a_day_is_the_same_alone_or_after_others(tmp_path):
    d = gen.Drops(3, DAY)
    d.write_day(str(tmp_path / "seq"), DAY)
    d.write_day(str(tmp_path / "seq"), DAY + dt.timedelta(days=1))
    gen.Drops(3, DAY).write_day(str(tmp_path / "alone"), DAY + dt.timedelta(days=1))
    name = f"activity_events-{DAY + dt.timedelta(days=1)}.csv"
    assert filecmp.cmp(tmp_path / "seq" / name, tmp_path / "alone" / name, shallow=False)


def test_rows_seed_changes_the_rows_but_not_the_population(tmp_path):
    a, b = gen.Drops(3, DAY), gen.Drops(3, DAY)
    b.rows_seed = 4
    assert a.users == b.users and a.pair_users == b.pair_users
    assert a.activity_lines(DAY)[1] != b.activity_lines(DAY)[1]
    # the 7/8-day device pairs ride on whichever rows a day has
    for d in (a, b):
        uids = {r[4] for r in d.activity_lines(DAY + dt.timedelta(days=7))[1]}
        assert d.pair_users[7][0] in uids


def test_ids_cover_every_sample_bucket():
    d = gen.Drops(1, DAY)
    flows = [f[0][2] for f in d._flows_begun(DAY)]
    for ids in ([u for u, _ in d.users], flows):
        buckets = {gen.cohort(i) for i in ids}
        assert any(b < 10 for b in buckets)
        assert any(10 <= b < 50 for b in buckets)
        assert any(b >= 50 for b in buckets)


def test_flows_straddle_midnight_into_the_next_file():
    d = gen.Drops(1, DAY)
    late = {f[0][2] for f in d._flows_begun(DAY) if any(r[0] >= gen.epoch(DAY, 86400) for r in f)}
    assert late
    _, next_rows = d.flow_lines(DAY + dt.timedelta(days=1))
    carried = [r for r in next_rows if r[2] in late]
    assert {r[1] for r in carried} >= {"flow.complete"}
    assert all(r[0] >= gen.epoch(DAY, 86400) for r in carried)
    # every flow begins exactly once, on its own day
    _, rows = d.flow_lines(DAY)
    begins = [r[2] for r in rows if r[1] == "flow.begin"]
    assert len(begins) == len(set(begins)) == d.FLOWS


def test_empty_devices_stragglers_and_malformed_lines():
    d = gen.Drops(2, DAY)
    lines, kept = d.activity_lines(DAY)
    assert any(r[7] == "" for r in kept)
    stamps = [_ts(line) for line in lines]
    outside = [t for t in stamps if t is not None
               and not gen.epoch(DAY) <= t < gen.epoch(DAY, 86400)]
    assert outside
    for file_lines in (lines, d.flow_lines(DAY)[0], d.email_lines(DAY)[0]):
        malformed = sum(_ts(line) is None for line in file_lines)
        assert 0 < malformed < 100  # MAXERROR


def test_device_pairs_seven_and_eight_days_apart():
    d = gen.Drops(4, DAY)
    for gap, (uid, dev_a, dev_b) in d.pair_users.items():
        seen = {}
        for n in range(12):
            day = DAY + dt.timedelta(days=n)
            for r in d.activity_lines(day)[1]:
                if r[4] == uid:
                    seen[n] = r[7]
        assert seen == {0: dev_a, gap: dev_b}


def test_expected_counts_nest_by_sample_rate(tmp_path):
    d = gen.Drops(7, DAY)
    d.write_day(str(tmp_path), DAY)
    for table in ("activity_events", "email_events", "flow_events"):
        n10, n50, n100 = (d.expected[(table + s, DAY)] for s in ("_sampled_10", "_sampled_50", ""))
        assert 0 < n10 < n50 < n100
    assert d.expected[("activity_events", DAY)] == len(d.activity_lines(DAY)[1])


def test_query_tables_have_the_test_table_schema(tmp_path):
    import pyarrow.parquet as pq

    gen.write_query_tables(str(tmp_path), 1, events=200, documents=30, embeddings=20)
    schemas = {n: pq.read_schema(tmp_path / f"{n}.parquet").names
               for n in ("events", "documents", "embeddings")}
    assert schemas == {
        "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
        "documents": ["doc_id", "text", "lang", "source", "n_chars"],
        "embeddings": ["vec_id", "embedding", "label"],
    }
