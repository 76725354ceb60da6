"""Per-query empirical profiler and A/B timer (optimization guide §1/§7).

For each named query, times three runs through bench.timed_runs (noop
sink, one job group per run) and prints the best wall time, its build
time and every run's wall time. It then reads the best run's jobs and
stages from Spark's in-process status stores, which work with the UI
off (status tracker: group → jobs → stage ids; the app status store:
per-stage executor run time, shuffle read/write bytes, input bytes,
task counts), so wall clock can be decomposed into scheduling floor vs
executor compute vs shuffle. Prints one line per query plus a JSON
dump.

Usage: python tools/profile_queries.py [sf_dir] [query ...]
Defaults: sf0.1, the 30 slowest queries from BENCH_LOCAL.json.
"""

from __future__ import annotations

import json
import os
import sys

from py4j.protocol import Py4JJavaError

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import timed_runs, warm_session  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def group_stages(sc, group: str) -> tuple[int, int, list]:
    """(job count, stage count, finished stages) of one job group, from
    the status tracker and the app status store."""
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    stage_ids = sorted({s for j in jobs if j for s in j.stageIds})
    store = sc._jsc.sc().statusStore()
    stages = []
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # not in the store (evicted or not yet recorded)
            continue
        if st.status().toString() in ("COMPLETE", "SKIPPED"):
            stages.append(st)
    return len(jobs), len(stage_ids), stages


def main() -> None:
    import __spark_entry__ as entrymod

    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    spark = warm_session("fxa-profile")
    sc = spark.sparkContext
    qs = entrymod.all_queries()
    if args:
        names = args
    else:
        with open(os.path.join(REPO, "BENCH_LOCAL.json")) as f:
            bench = json.load(f)
        names = sorted(bench["queries"], key=bench["queries"].get, reverse=True)[:30]

    results = {}
    for name in names:
        runs = timed_runs(spark, name, lambda: qs[name](spark, sf_dir), 3)
        t_build, t_total, group = min(runs, key=lambda r: r[1])
        n_jobs, n_stages, stages = group_stages(sc, group)
        run_ms = sum(st.executorRunTime() for st in stages)
        top = max(stages, key=lambda st: st.executorRunTime(), default=None)
        results[name] = {
            "wall": round(t_total, 3),
            "build": round(t_build, 3),
            "runs": [round(w, 3) for _, w, _ in runs],
            "jobs": n_jobs,
            "stages": n_stages,
            "tasks": sum(st.numCompleteTasks() for st in stages),
            "exec_run_s": round(run_ms / 1000.0, 2),
            "input_mb": round(sum(st.inputBytes() for st in stages) / 1e6, 1),
            "shuf_r_mb": round(sum(st.shuffleReadBytes() for st in stages) / 1e6, 2),
            "shuf_w_mb": round(sum(st.shuffleWriteBytes() for st in stages) / 1e6, 2),
            "max_stage": top.name()[:40] if top else "",
            "max_stage_s": round(top.executorRunTime() / 1000.0, 2) if top else 0.0,
        }
        r = results[name]
        print(
            f"{name:<30} wall={r['wall']:6.2f} build={r['build']:5.2f} "
            f"jobs={r['jobs']:>3} stages={r['stages']:>3} tasks={r['tasks']:>5} "
            f"execsum={r['exec_run_s']:7.2f}s shufR={r['shuf_r_mb']:7.2f}MB "
            f"top[{r['max_stage_s']:5.1f}s]={r['max_stage']} "
            f"runs={[round(w, 2) for w in r['runs']]}",
            flush=True,
        )

    out = os.path.join(REPO, ".scratch", "profile.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    print(f"# wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
