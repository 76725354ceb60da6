import argparse
import datetime as dt
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
import run
from conftest import BENCH, ROOT

DAY = dt.date(2017, 7, 3)


def test_rows_digest_ignores_row_and_column_order():
    a = [{"x": 1, "y": 0.5}, {"x": 2, "y": None}]
    b = [{"y": None, "x": 2}, {"y": 0.5, "x": 1}]
    assert checks.rows_digest(a, ["x", "y"]) == checks.rows_digest(b, ["y", "x"])
    assert checks.rows_digest(a, ["x", "y"]) != checks.rows_digest(a[:1], ["x", "y"])


def test_a_wrong_query_result_raises_error_rate(tmp_path):
    import __spark_entry__ as E

    gen.write_query_tables(str(tmp_path / "data"), 1, events=500, documents=20, embeddings=10)
    con = checks.oracle_connection(str(tmp_path / "data"))
    sql = E.oracle_sql()["funnel_steps"]
    right = con.execute(sql).fetch_arrow_table()
    wrong = right.set_column(
        right.num_columns - 1, right.column_names[-1],
        pa.array([v + 1 for v in right.column(right.num_columns - 1).to_pylist()],
                 right.schema.field(right.num_columns - 1).type))

    b = run.Bench(argparse.Namespace(workload="query_mix", seed=1, trace=0), str(tmp_path / "w"))
    b.check(checks.check_query("funnel_steps", right, sql, con))
    assert (b.failed, b.attempted) == (0, 1)
    b.check(checks.check_query("funnel_steps", wrong, sql, con))
    assert b.failed / b.attempted == 0.5


def _lake_from_expected_rows(con, lake, drop_files, drop_one=False):
    """Write the rows the activity import must keep as a lake table of
    part files, one directory per day."""
    for suffix, pct in checks.SUFFIXES:
        rows = con.execute(checks._sampled(checks._activity_rows_sql(drop_files), pct)).arrow()
        if hasattr(rows, "read_all"):
            rows = rows.read_all()
        for day in sorted(set(rows.column("day").to_pylist())):
            part = rows.filter(pa.compute.equal(rows.column("day"), pa.scalar(day)))
            if drop_one and suffix == "":
                part = part.slice(1)
            path = os.path.join(lake, f"activity_events{suffix}", f"day={day}")
            os.makedirs(path)
            pq.write_table(part.drop(["day"]), os.path.join(path, "part-00000.parquet"))


def test_activity_lake_and_count_checks(tmp_path):
    d = gen.Drops(2, DAY)
    for n in range(2):
        d.write_day(str(tmp_path / "drops"), DAY + dt.timedelta(days=n))
    files = [str(tmp_path / "drops" / f"activity_events-{day}.csv") for day in d.written]
    con = checks.connect()
    activity = {k: v for k, v in d.expected.items() if k[0].startswith("activity_events")}

    _lake_from_expected_rows(con, str(tmp_path / "good"), files)
    assert checks.check_activity_lake(con, str(tmp_path / "good"), files) == []
    assert checks.check_lake_counts(con, str(tmp_path / "good"), activity) == []

    _lake_from_expected_rows(con, str(tmp_path / "bad"), files, drop_one=True)
    assert len(checks.check_activity_lake(con, str(tmp_path / "bad"), files)) == 1
    assert len(checks.check_lake_counts(con, str(tmp_path / "bad"), activity)) == 2

    # the streamed lake against the batch lake, table by table
    _lake_from_expected_rows(con, str(tmp_path / "same"), files)
    assert checks.check_same_activity(con, str(tmp_path / "good"), str(tmp_path / "same")) == []
    assert len(checks.check_same_activity(con, str(tmp_path / "good"), str(tmp_path / "bad"))) == 1


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert run.percentile_tail([1.0] * 9) == (1.0, 50)
    assert run.percentile_tail(list(range(40)))[1] == 75
    assert run.percentile_tail(list(range(200)))[1] == 95


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pipeline_daily", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
