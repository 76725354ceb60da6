import json
import subprocess
import sys
import threading
import time
import types

import pytest

import tracer
from conftest import ROOT
from tracer import StatusReader, Tracer


def _modules():
    """A callee module and a caller that bound the callee's function
    by name at import time."""
    callee = types.ModuleType("callee")
    callee.work = lambda x: x + 1
    caller = types.ModuleType("caller")
    caller.work = callee.work
    caller.run = lambda x: caller.work(x) * 2
    return callee, caller


def test_wrap_applies_at_the_callers_lookup_name_and_close_restores():
    callee, caller = _modules()
    original = caller.work
    tr = Tracer("t")
    tr.wrap(callee, "work", "callee.work")
    assert caller.run(1) == 4
    assert tr.spans == []  # the caller never looks at callee.work
    tr.wrap(caller, "work", "caller.work")
    assert caller.run(1) == 4
    assert [s.name for s in tr.spans] == ["caller.work"]
    tr.close()
    assert caller.work is original and callee.work is original


def test_wrap_a_method_on_its_class():
    class Store:
        def put(self, v):
            return v

    tr = Tracer("t")
    tr.wrap(Store, "put", "store.put")
    assert Store().put(3) == 3
    tr.close()
    Store().put(4)
    assert [s.name for s in tr.spans] == ["store.put"]


def test_parents_follow_nesting_and_reach_other_threads_through_the_operation():
    tr = Tracer("t")
    with tr.operation("op") as op:
        with tr.span("child") as child:
            with tr.span("grandchild"):
                pass
        t = threading.Thread(target=lambda: tr.finish(tr.open("callback")))
        t.start()
        t.join(10)
        assert not t.is_alive()
    parents = {s.name: s.parent for s in tr.spans}
    assert parents == {"grandchild": child.id, "child": op.id, "callback": op.id, "op": None}


def test_seconds_within_an_operation_and_dump(tmp_path):
    tr = Tracer("run-7")
    with tr.span("child"):
        pass
    with tr.operation("op") as op:
        with tr.span("child"):
            time.sleep(0.05)
    assert 0.05 <= tr.seconds("child", op) < tr.seconds("child")
    path = tmp_path / "spans.jsonl"
    tr.dump(str(path))
    rows = [json.loads(line) for line in path.read_text().splitlines()]
    assert {r["run"] for r in rows} == {"run-7"} and len(rows) == 3


@pytest.mark.parametrize("text,value", [
    ("10,000", 10000),
    ("0.0 B", 0),
    ("845.0 B", 845),
    ("total (min, med, max (stageId: taskId))\n79.9 KiB (20.0 KiB, 20.0 KiB, 20.0 KiB (stage 0.0: task 3))",
     79.9 * 1024),
    ("total (min, med, max (stageId: taskId))\n9.1 s (2.3 s, 2.3 s, 2.3 s (stage 0.0: task 3))", 9.1),
    ("376 ms", 0.376),
])
def test_parse_metric(text, value):
    assert tracer.parse_metric(text) == pytest.approx(value)


def test_status_reader_counts_jobs_by_id_range_across_threads(spark):
    def in_thread():
        # a job submitted from another thread carries no job group of ours
        t = threading.Thread(target=lambda: spark.range(5).collect())
        t.start()
        t.join(60)
        assert not t.is_alive()

    reader = StatusReader(spark)
    spark.range(10).count()
    reader.mark()
    spark.range(100).count()
    main = reader.since_mark()
    in_thread()
    other = reader.since_mark()
    assert main.jobs >= 1 and other.jobs >= 1 and main.tasks >= 1
    spark.range(100).count()
    in_thread()
    assert reader.since_mark().jobs == main.jobs + other.jobs
    assert reader.since_mark().jobs == 0


def _traced_pipeline_run(seed: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pipeline_daily", "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_jobs_per_day_repeats_exactly_across_traced_runs():
    first, second = _traced_pipeline_run(5), _traced_pipeline_run(5)
    assert first["correct"] and second["correct"]
    jobs = [r["metrics"]["spark.jobs_per_day"]["value"] for r in (first, second)]
    assert jobs[0] == jobs[1] > 0
    # the same run drains the day through the stream twins too
    assert first["metrics"]["spark.jobs_per_batch"]["value"] > 0
