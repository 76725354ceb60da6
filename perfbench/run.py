"""The repository benchmark: the engine's product paths, timed end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. Each workload is one closed-loop
client (perfbench/README.md says why each exists):

* ``pipeline_daily``: each newly landed day is imported by
  ``run.run_full_import`` into a lake that already holds one day, then
  drained through the activity import twin and the flow-session twin
  (availableNow, persistent checkpoints) into a lake of their own;
* ``query_mix``: fifteen registry queries, dashboard and curation
  classes, over seeded tables, in full passes in a seeded order.

Inputs are generated from ``--seed``. Rounds (a landed day, a query
pass) run until ``--seconds`` have passed, at least one. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the same loop runs with spans installed and the line
carries per-layer metrics. Outputs are checked after the timed window;
a failed check counts as a failed item. Exits non-zero, printing no
result, when the engine is not importable next to this directory.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import itertools
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 8
CORES = len(os.sched_getaffinity(0))

DASH = ("daily_activity_per_device", "multi_device_users_join", "flow_sessionize",
        "funnel_steps", "cohort_retention", "session_window", "rolling_actives", "asof_join")
# lm_score is left out: its avg_logprob (a double divided, then rounded
# to 6 places) disagrees with its DuckDB oracle on exact half-ties,
# which the generated documents hit on 7 of seeds 0-199 (README.md,
# "Inputs")
CURATION = ("semantic_dedup", "embedding_neardup_lsh_auto", "ann_ivfpq", "text_ann",
            "jaccard_dedup", "phash_pairs", "cms_token_counts")
# query tables at 5 % of the sf0.1 test tables' row counts (README.md,
# "Inputs", says why)
QUERY_ROWS = {"events": 5000, "documents": 250, "embeddings": 100}
# the memoized artifacts the mix's queries read; a set-up builds them
ARTIFACTS = ("_neardup_pairs",)
# pipeline_daily's lake before its first increment: one imported day
# of a fixed population, built once per checkout (build_history)
HISTORY_SEED = 0
HISTORY_DAY = dt.date(2017, 7, 3)

# per-layer metric -> unit, reported by every traced run (0 for a layer
# the workload does not enter)
PER_LAYER = {
    **dict.fromkeys(("incremental.candidate_days_s", "incremental.flow_after_day_s",
                     "incremental.summarize_daily_s", "csv.read_day_csv_s",
                     "operators.build_s", "lake.write_days_s", "lake.write_parts_s",
                     "lake.maintain_s", "lake.expire_s", "lake.merge_replace_s"), "s"),
    "lake.bytes_written_per_input_byte": "ratio",
    "lake.files_written": "count",
    "cacheutil.local_checkpoint_s": "s",
    "cacheutil.persisted_rdds_after": "count",
    **dict.fromkeys(("streaming.query_start_s", "streaming.trigger_s", "streaming.add_batch_s",
                     "streaming.get_batch_s", "streaming.query_planning_s",
                     "streaming.wal_commit_s"), "s"),
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "B",
    "spark.jobs_per_day": "count",
    "spark.jobs_per_batch": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    **dict.fromkeys(("spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s"), "s"),
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.python_eval_s": "s",
    "spark.python_data_sent_bytes": "B",
    "spark.core_idle_share": "ratio",
    **dict.fromkeys((f"query.{c}.{k}" for c in ("dash", "curation")
                     for k in ("build_s", "plan_s", "execute_s")), "s"),
    "spark.jobs_per_query": "count",
    "trace.heavy_s": "s",
    "trace.light_s": "s",
    "trace.spans": "count",
}


def percentile_tail(samples: list[float]) -> tuple[float, int]:
    """The highest of p99/p95/p90/p75 with at least ten samples beyond
    it, else the median; returns (value, percentile)."""
    for p in (99, 95, 90, 75):
        if len(samples) * (100 - p) / 100 >= 10:
            return statistics.quantiles(samples, n=100)[p - 1], p
    return statistics.median(samples), 50


def median_or_zero(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Bench:
    """One run: its session, scratch space, tracer and tallies."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        os.makedirs(self.tmp)
        self.spark = None
        self.tracer = None
        self.status = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer_ops: list[dict] = []

    # -- session -------------------------------------------------------

    def start_session(self) -> None:
        from fxa_activity_metrics_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            master=f"local[{CORES}]",
            extra_conf={
                "spark.local.dir": self.tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.range(1000).selectExpr("sum(id)").collect()

    def setup(self, extra=None) -> float:
        """Start (or restart) the session and warm it up SETUP_REPEATS
        times, then run ``extra`` once; returns the median start plus
        the time of ``extra``. The first start also launches the JVM."""
        times = []
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            if i:
                self.spark.stop()
            self.start_session()
            times.append(time.perf_counter() - t)
        t = time.perf_counter()
        if extra:
            extra()
        once = time.perf_counter() - t
        print(f"setup: {', '.join(f'{t:.3f}' for t in times)} s + {once:.3f} s", file=sys.stderr)
        return statistics.median(times) + once

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit
        (it exits when its stdin closes)."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def peak_rss_mb(self) -> float:
        jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm)

    # -- operations ----------------------------------------------------

    def begin_trace(self, install) -> None:
        if not self.args.trace:
            return
        from tracer import StatusReader, Tracer

        self.tracer = Tracer(f"{self.args.workload}-{self.args.seed}")
        install(self.tracer)
        self.status = StatusReader(self.spark)

    def run_op(self, name: str, fn, kind: str | None = None, input_bytes: int = 0):
        """Time one operation; in a traced run also record its layer
        counters, under ``kind`` (None: a warm-up, not recorded).
        Returns (seconds, result), or (None, None) when it raised,
        which counts as a failure."""
        self.attempted += 1
        if self.status:
            self.status.mark()
        ctx = self.tracer.operation(name) if self.tracer else None
        op = ctx.__enter__() if ctx else None
        t = time.perf_counter()
        try:
            result = fn()
        except Exception:
            self.failed += 1
            self.problems.append(f"{name}: {traceback.format_exc(limit=3)}")
            return None, None
        finally:
            wall = time.perf_counter() - t
            if ctx:
                ctx.__exit__(None, None, None)
        print(f"{name}: {wall:.3f} s", file=sys.stderr)
        if self.tracer and kind:
            self.layer_ops.append(self.layer_counters(op, kind, wall, input_bytes))
        return wall, result

    def layer_counters(self, op, kind: str, wall: float, input_bytes: int) -> dict:
        tr = self.tracer
        c = self.status.since_mark()
        spans = [s for s in tr.spans if op.start <= s.start and s.end <= op.end]
        by_id = {s.id: s for s in spans}
        # outermost operator calls only: one operator may call another
        operators = sum(s.seconds for s in spans if s.name.startswith("operators.")
                        and not by_id.get(s.parent, op).name.startswith("operators."))
        out = {f"{layer}_s": tr.seconds(layer, op) for layer in (
            "incremental.candidate_days", "incremental.flow_after_day",
            "incremental.summarize_daily", "csv.read_day_csv", "lake.write_days",
            "lake.write_parts", "lake.maintain", "lake.expire", "lake.merge_replace",
            "cacheutil.local_checkpoint")}
        out.update({
            "kind": kind,
            "wall": wall,
            "jobs": c.jobs,
            "batches": 1,
            "input_bytes": input_bytes,
            "bytes_written": c.sql["bytes_written"],
            "operators.build_s": operators,
            "lake.files_written": c.sql["files_written"],
            "cacheutil.persisted_rdds_after": self.status.persisted_rdds(),
            "spark.stages": c.stages,
            "spark.tasks": c.tasks,
            "spark.executor_run_s": c.executor_run_s,
            "spark.executor_cpu_s": c.executor_cpu_s,
            "spark.gc_s": c.gc_s,
            "spark.shuffle_bytes": c.shuffle_bytes,
            "spark.spill_bytes": c.spill_bytes,
            "spark.python_eval_s": c.sql["python_eval_s"],
            "spark.python_data_sent_bytes": c.sql["python_data_sent_bytes"],
            "trace.spans": len(spans),
        })
        return out

    def check(self, problems: list[str]) -> None:
        """Record one untimed output check: one attempted item, and one
        failure if it found any problem."""
        self.attempted += 1
        self.failed += bool(problems)
        self.problems += problems

    def layer_metrics(self, rounds: int, extra: dict) -> dict:
        """Per-layer metrics of the recorded operations: times and
        counts per round (a landed day, or a query pass), job counts per
        day, micro-batch and query, shares over the whole, and the
        persisted-RDD count after the last operation."""
        ops = self.layer_ops
        out = dict.fromkeys(PER_LAYER, 0.0)
        if ops:
            def total(key, kind=None):
                return sum(o[key] for o in ops if kind in (None, o["kind"]))

            for k in PER_LAYER:
                if k in ops[0] and k != "cacheutil.persisted_rdds_after":
                    out[k] = total(k) / rounds
            for key, kind in (("spark.jobs_per_day", "day"), ("spark.jobs_per_query", "query")):
                jobs = [o["jobs"] for o in ops if o["kind"] == kind]
                out[key] = statistics.median(jobs) if jobs else 0
            if total("batches", "drain"):
                out["spark.jobs_per_batch"] = total("jobs", "drain") / total("batches", "drain")
            out["lake.bytes_written_per_input_byte"] = (
                total("bytes_written") / total("input_bytes") if total("input_bytes") else 0.0)
            out["spark.core_idle_share"] = max(
                0.0, 1 - total("spark.executor_run_s") / (total("wall") * CORES))
            out["cacheutil.persisted_rdds_after"] = ops[-1]["cacheutil.persisted_rdds_after"]
        out.update(extra)
        return {k: {"value": out[k], "unit": u} for k, u in PER_LAYER.items()}


# ---------------------------------------------------------------------------
# tracing: where each layer is entered from outside
# ---------------------------------------------------------------------------


def install_pipeline_spans(tr) -> None:
    from fxa_activity_metrics_spark import cacheutil, run
    from fxa_activity_metrics_spark.operators import counts, flows, summaries
    from fxa_activity_metrics_spark.plans import incremental
    from fxa_activity_metrics_spark.sources.lake import Lake

    tr.wrap(incremental.ImportJob, "candidate_days", "incremental.candidate_days")
    # bound by name at import time in the modules that call them
    tr.wrap(run, "flow_after_day", "incremental.flow_after_day")
    tr.wrap(run, "summarize_daily", "incremental.summarize_daily")
    tr.wrap(incremental, "read_day_csv", "csv.read_day_csv")
    tr.wrap(incremental, "typed_day_events", "operators.typed_day_events")
    # looked up on the module at call time
    for name in ("metadata_grace_frame", "begin_sessions", "enrich_duration_locale_uid",
                 "mark_flag", "backfill_context", "set_continued_from",
                 "experiments_from_events", "experiments_grace_frame",
                 "enrich_experiment_uid", "consumed_condition"):
        tr.wrap(flows, name, f"operators.{name}")
    for name in ("daily_activity_per_device", "multi_device_users_join"):
        tr.wrap(summaries, name, f"operators.{name}")
    tr.wrap(counts, "typed_counts", "operators.typed_counts")
    for name in ("write_days", "write_parts", "maintain", "expire", "merge_replace"):
        tr.wrap(Lake, name, f"lake.{name}")
    tr.wrap(cacheutil, "local_checkpoint", "cacheutil.local_checkpoint")


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def _source_key() -> str:
    """A digest of this checkout's location and of the engine's and the
    benchmark's sources: a history lake is reused only by the code that
    built it."""
    h = hashlib.sha256(ROOT.encode())
    pkg = os.path.join(ROOT, "fxa_activity_metrics_spark")
    files = [os.path.join(d, f) for d, _, fs in os.walk(pkg) for f in fs if f.endswith(".py")]
    for path in sorted(files) + [os.path.join(HERE, "gen.py"), os.path.abspath(__file__)]:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build_history(work: str) -> None:
    """Import HISTORY_DAY's drops into a fresh lake under ``work``, in
    a process and JVM of its own, so the run that asked for it starts
    as cold as any other."""
    import gen
    from fxa_activity_metrics_spark.run import run_full_import
    from fxa_activity_metrics_spark.sources.lake import Lake

    b = Bench(argparse.Namespace(trace=0), work)
    src = os.path.join(work, "drops")
    gen.Drops(HISTORY_SEED, HISTORY_DAY).write_day(src, HISTORY_DAY)
    b.start_session()
    try:
        report = run_full_import(b.spark, Lake(b.spark, os.path.join(work, "lake")), src)
    finally:
        b.stop()
    if report.activity_days != [HISTORY_DAY]:
        raise RuntimeError(f"history import landed {report.activity_days}")


def history_lake(base: str) -> str:
    """The history lake for this code, built on first use."""
    path = os.path.join(base, f"history-{_source_key()}")
    if not os.path.isdir(path):
        for stale in os.listdir(base):
            if stale.startswith("history-"):
                shutil.rmtree(os.path.join(base, stale))
        tmp = f"{path}.{os.getpid()}"
        t = time.perf_counter()
        subprocess.run([sys.executable, os.path.abspath(__file__), "--build-history", tmp],
                       check=True, timeout=600)
        os.rename(os.path.join(tmp, "lake"), path)
        shutil.rmtree(tmp)
        print(f"history lake built: {time.perf_counter() - t:.3f} s", file=sys.stderr)
    return path


def pipeline_daily(b: Bench) -> dict:
    """Each landed day is imported by the batch pipeline and drained by
    the stream twins. The batch lake starts as a copy of the history
    lake (one imported day); each round lands the next day's drops,
    runs ``run.run_full_import`` (which also z-orders the day before:
    ``Lake.maintain`` clusters closed days), then drains the same
    activity and flow drops through ``run_dataset_import_stream`` and
    ``run_flow_sessions_stream`` on persistent checkpoints into a lake
    of their own. A first drain over the history day starts the twins.
    Rounds run until the window closes (at least one). The first round
    lands 7 or 8 days after the history day (by seed parity), so the
    multi-device window's edge is crossed one way or the other."""
    import gen
    from checks import (check_activity_lake, check_lake_counts, check_same_activity,
                        check_stream_sessions, check_summaries, connect)
    from fxa_activity_metrics_spark.run import run_full_import
    from fxa_activity_metrics_spark.sources.lake import Lake
    from fxa_activity_metrics_spark.streaming.activity_stream import run_dataset_import_stream
    from fxa_activity_metrics_spark.streaming.flows_stream import run_flow_sessions_stream

    history = history_lake(os.path.dirname(b.work))
    setup_s = b.setup()
    shutil.copytree(history, os.path.join(b.work, "lake"))
    lake = Lake(b.spark, os.path.join(b.work, "lake"))
    stream_lake = Lake(b.spark, os.path.join(b.work, "stream_lake"))
    # the batch import reads one directory; each stream twin its own
    # (the flow reader takes every file in its directory)
    src, act_src, flow_src = (os.path.join(b.work, d) for d in ("drops", "s_activity", "s_flow"))
    os.makedirs(act_src)
    os.makedirs(flow_src)
    drops = gen.Drops(HISTORY_SEED, HISTORY_DAY)

    def land(day) -> tuple[int, int]:
        """Write the day's drops and hand the stream twins the same
        activity and flow files; returns the bytes each path reads."""
        size = drops.write_day(src, day)
        stream = 0
        for name, dest in ((f"activity_events-{day}.csv", act_src),
                           (f"flow_events-{day}.csv", flow_src)):
            shutil.copy2(os.path.join(src, name), dest)
            stream += os.path.getsize(os.path.join(src, name))
        return size, stream

    def drain():
        t = time.perf_counter()
        queries = [
            run_dataset_import_stream(b.spark, act_src, stream_lake,
                                      os.path.join(b.work, "ck_activity")),
            run_flow_sessions_stream(b.spark, flow_src, stream_lake,
                                     os.path.join(b.work, "ck_flow")),
        ]
        started = time.perf_counter() - t
        for q in queries:
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        return started, [q.recentProgress for q in queries]

    land(HISTORY_DAY)
    drops.rows_seed = b.args.seed
    b.begin_trace(install_pipeline_spans)
    first, _ = b.run_op("drain history day", drain)
    imports, drains, stream_layers = [], [], []
    t0 = time.perf_counter()
    for n in (7 + b.args.seed % 2, *range(9, 60)):
        if imports and time.perf_counter() - t0 >= b.args.seconds:
            break
        day = HISTORY_DAY + dt.timedelta(days=n)
        size, stream_size = land(day)
        wall, report = b.run_op(f"import {day}", lambda: run_full_import(b.spark, lake, src),
                                kind="day", input_bytes=size)
        if wall is None:
            break
        b.check([] if report.activity_days == [day]
                else [f"{day}: imported activity days {report.activity_days}"])
        drained, out = b.run_op(f"drain {day}", drain, kind="drain", input_bytes=stream_size)
        if drained is None:
            break
        imports.append(wall)
        drains.append(drained)
        if b.tracer:
            started, progress = out
            stream_layers.append(_stream_layers(progress, started))
            b.layer_ops[-1]["batches"] = sum(len(p) for p in progress)

    con = connect()
    activity_files = [os.path.join(src, f"activity_events-{d}.csv") for d in drops.written]
    b.check(check_lake_counts(con, lake.root, dict(drops.expected)))
    b.check(check_summaries(con, lake.root, activity_files))
    b.check(check_activity_lake(con, stream_lake.root, activity_files))
    b.check(check_same_activity(con, lake.root, stream_lake.root))
    b.check(check_stream_sessions(con, stream_lake.root, {d: drops.FLOWS for d in drops.written}))
    layer_extra = {k: statistics.fmean(s[k] for s in stream_layers)
                   for k in (stream_layers[0] if stream_layers else {})}
    if b.tracer:
        layer_extra.update({"trace.heavy_s": median_or_zero(imports),
                            "trace.light_s": median_or_zero(drains)})
    return {
        "e2e": {
            "setup_s": (setup_s, "s"),
            "heavy_s": (median_or_zero(imports), "s"),
            "light_s": (median_or_zero(drains), "s"),
        },
        "named": {
            "daily_run_p50_s": (median_or_zero(imports), "s"),
            "daily_run_tail_s": percentile_tail(imports) if imports else (0.0, 50),
            "drain_p50_s": (median_or_zero(drains), "s"),
            "drain_tail_s": percentile_tail(drains) if drains else (0.0, 50),
            "first_drain_s": (first or 0.0, "s"),
            "days_landed": (len(imports), "count"),
        },
        "rounds": max(1, len(imports)),
        "layer_extra": layer_extra,
    }


def _stream_layers(progress: list[list[dict]], started: float) -> dict:
    """Streaming layer seconds and sizes from both queries'
    recentProgress of one drain."""
    entries = [p for ps in progress for p in ps]

    def seconds(key):
        return sum(p.get("durationMs", {}).get(key, 0) for p in entries) / 1e3

    state = [s for ps in progress if ps for s in ps[-1].get("stateOperators", [])]
    return {
        "streaming.query_start_s": started,
        "streaming.trigger_s": seconds("triggerExecution"),
        "streaming.add_batch_s": seconds("addBatch"),
        "streaming.get_batch_s": seconds("getBatch"),
        "streaming.query_planning_s": seconds("queryPlanning"),
        "streaming.wal_commit_s": seconds("walCommit"),
        "streaming.input_rows": sum(p.get("numInputRows", 0) for p in entries),
        "streaming.state_rows": sum(s.get("numRowsTotal", 0) for s in state),
        "streaming.state_memory_bytes": sum(s.get("memoryUsedBytes", 0) for s in state),
    }


def query_mix(b: Bench) -> dict:
    """One closed-loop client: full passes over the fifteen queries in
    a seeded order, until the window closes (at least one pass). Each
    query is built and its result pulled to the driver as Arrow; the
    first pass's results are then checked, untimed, against the
    queries' DuckDB oracles. The memoized artifacts the mix reads are
    built during set-up."""
    import gen
    from checks import check_query, oracle_connection

    import __spark_entry__ as E

    data = os.path.join(b.work, "data")
    gen.write_query_tables(data, b.args.seed, **QUERY_ROWS)
    registry, oracles = E.queries(), E.oracle_sql()

    def artifacts():
        # the memoized build the mix's jaccard_dedup reads; a new
        # session rebuilds it
        for build in ARTIFACTS:
            getattr(E, build)(b.spark, data)

    setup_s = b.setup(artifacts)
    # a seeded order within each class, the classes taking turns: a
    # query early in a pass runs on colder code than one late in it,
    # and alternating keeps that from landing on one class by chance
    rng = random.Random(b.args.seed)
    order = [q for pair in itertools.zip_longest(rng.sample(DASH, len(DASH)),
                                                 rng.sample(CURATION, len(CURATION)))
             for q in pair if q]
    times = {"dash": [], "curation": []}
    parts = {c: {"build_s": [], "plan_s": [], "execute_s": []} for c in times}
    results = {}

    def make_op(name, cls):
        def op():
            t = time.perf_counter()
            df = registry[name](b.spark, data)
            built = time.perf_counter()
            if b.tracer:
                df._jdf.queryExecution().executedPlan()
            planned = time.perf_counter()
            table = df.toArrow()
            if b.tracer:
                parts[cls]["build_s"].append(built - t)
                parts[cls]["plan_s"].append(planned - built)
                parts[cls]["execute_s"].append(time.perf_counter() - planned)
            return table
        return op

    b.begin_trace(lambda tr: None)
    passes = []
    class_s = {"dash": [], "curation": []}
    t0 = time.perf_counter()
    # full passes until the window closes; the first always runs, so a
    # query that keeps failing cannot hold the loop open
    while not passes or time.perf_counter() - t0 < b.args.seconds:
        t = time.perf_counter()
        spent = {"dash": 0.0, "curation": 0.0}
        for name in order:
            cls = "dash" if name in DASH else "curation"
            wall, table = b.run_op(name, make_op(name, cls), kind="query")
            if wall is not None:
                times[cls].append(wall)
                spent[cls] += wall
                results.setdefault(name, table)
        passes.append(time.perf_counter() - t)
        for cls, v in spent.items():
            class_s[cls].append(v)

    con = oracle_connection(data)
    for name, table in results.items():
        try:
            problems = check_query(name, table, oracles[name], con)
        except Exception as e:
            problems = [f"{name}: oracle check raised {e!r}"]
        b.check(problems)
    dash, cur = times["dash"], times["curation"]
    layer_extra = {f"query.{c}.{k}": statistics.fmean(v) if v else 0.0
                   for c, ks in parts.items() for k, v in ks.items()}
    if b.tracer:
        layer_extra.update({"trace.heavy_s": statistics.median(class_s["curation"]),
                            "trace.light_s": statistics.median(class_s["dash"])})
    return {
        "e2e": {
            "setup_s": (setup_s, "s"),
            "heavy_s": (statistics.median(class_s["curation"]), "s"),
            "light_s": (statistics.median(class_s["dash"]), "s"),
        },
        "named": {
            "pass_p50_s": (statistics.median(passes), "s"),
            "curation_pass_p50_s": (statistics.median(class_s["curation"]), "s"),
            "dash_pass_p50_s": (statistics.median(class_s["dash"]), "s"),
            "dash_query_p50_s": (median_or_zero(dash), "s"),
            "dash_query_tail_s": percentile_tail(dash) if dash else (0.0, 50),
            "curation_query_p50_s": (median_or_zero(cur), "s"),
            "curation_query_tail_s": percentile_tail(cur) if cur else (0.0, 50),
            "queries_per_min": (60 * (len(dash) + len(cur)) / sum(passes), "1/min"),
        },
        "rounds": len(passes),
        "layer_extra": layer_extra,
    }


WORKLOADS = {"pipeline_daily": pipeline_daily, "query_mix": query_mix}


def _contain(work_tmp: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout, put
    the engine on the path of the Python workers Spark starts, and stop
    every JVM from writing its perf-data file to /tmp."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = work_tmp
    tempfile.tempdir = work_tmp
    if "-XX:-UsePerfData" not in os.environ.get("JAVA_TOOL_OPTIONS", ""):
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData")))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-history", metavar="DIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not args.build_history and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    # the engine sits next to this directory
    sys.path[:0] = [ROOT, HERE]
    import fxa_activity_metrics_spark  # noqa: F401  (fails fast outside the repository)

    if args.build_history:
        _contain(os.path.join(args.build_history, "tmp"))
        build_history(args.build_history)
        return 0

    base = os.path.join(ROOT, ".bench_work")
    b = Bench(args, os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}"))
    _contain(b.tmp)
    try:
        out = WORKLOADS[args.workload](b)
        peak = b.peak_rss_mb()
        if b.tracer:
            b.tracer.close()
            b.tracer.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.jsonl"))
    finally:
        if b.spark is not None:
            b.stop()
        shutil.rmtree(b.work, ignore_errors=True)

    for p in b.problems:
        print(f"problem: {p}", file=sys.stderr)
    named = {**out["named"], "error_rate": (b.failed / b.attempted, "share"),
             "peak_rss_mb": (peak, "MB")}
    for k, (v, unit) in named.items():
        print(f"{args.workload} {k} = {v:.6g} {f'p{unit}' if isinstance(unit, int) else unit}")
    if args.trace:
        metrics = b.layer_metrics(out["rounds"], out["layer_extra"])
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in out["e2e"].items()}
    print(json.dumps({"correct": b.failed == 0, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
