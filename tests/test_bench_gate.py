"""Per-query bench budget gate (VERDICT r2 #4): a single degenerate
plan must not be able to ship silently again. The gate is exercised
against the round-2 recorded timings, where winnow_fingerprint's
interpreted-HOF plan cost 38.9s of a 60.2s suite."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import budget_violations  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_gate_triggers_on_round2_winnow():
    with open(os.path.join(REPO, "BENCH_r02.json")) as f:
        r2 = json.load(f)
    assert budget_violations(r2["parsed"]["queries"]) == ["winnow_fingerprint"]


def test_gate_quiet_on_uniform_suite():
    timings = {f"q{i}": 0.3 + 0.01 * i for i in range(30)}
    assert budget_violations(timings) == []


def test_gate_floor_tolerates_one_moderately_heavy_query():
    # 2.4s among 0.3s queries is 8x the median but under the 5s
    # floor — a legitimately heavier operator, not a degenerate plan
    timings = {f"q{i}": 0.3 for i in range(20)}
    timings["heavy"] = 2.4
    assert budget_violations(timings) == []
    timings["degenerate"] = 6.0
    assert budget_violations(timings) == ["degenerate"]


def test_gate_empty():
    assert budget_violations({}) == []


def test_scaling_gate_passes_sublinear_flags_superlinear():
    from bench import scaling_violations

    base = {"a": 1.0, "b": 2.0, "c": 0.2, "new": None}
    sf1 = {"a": 6.0, "b": 25.0, "c": 1.5, "d": 9.0}
    # a: 6x at 10x data -> passes; b: 12.5x -> violates;
    # c: under the 5s floor -> skipped; d: no baseline -> skipped
    assert scaling_violations(sf1, {k: v for k, v in base.items() if v}, 10.0) == ["b"]


def test_sf1_record_has_no_scaling_violations():
    """The committed sf1 measurement (tools/make_scaled_sf.py data,
    10x sf0.1) must show every query scaling sub-linearly — the
    round-5 scale-evidence contract. Skipped if the sf1 record has
    not been generated on this machine."""
    p = os.path.join(REPO, "BENCH_SF1_LOCAL.json")
    if not os.path.exists(p):
        import pytest

        pytest.skip("no sf1 record")
    with open(p) as f:
        rec = json.load(f)
    assert rec["budget_violations"] == []
    from bench import (
        PAIR_VERIFY_DATA_BORNE,
        QUADRATIC_BASELINES,
        REPLICA_OUTPUT_BOUND,
    )

    assert rec["skipped"] == sorted(
        QUADRATIC_BASELINES | PAIR_VERIFY_DATA_BORNE | REPLICA_OUTPUT_BOUND
    )


def test_bench_queries_all_registered():
    """Every bench suite name must resolve in the registry — a
    renamed or dropped queries() entry may not leave a dangling
    bench row."""
    import re

    src = open(os.path.join(REPO, "__spark_entry__.py")).read()
    registered = set()
    # bench resolves via all_queries(): live registry + retired
    # formulation variants (still timed, no longer driver-rotated)
    for fn in ("queries", "retired_queries"):
        m = re.search(rf"def {fn}\(\).*?return \{{(.*?)\n    \}}\n", src,
                      __import__("re").S)
        if fn == "queries":
            assert m, "queries() registry body not found"
        if m:  # retired_queries() is `return {}` while no entry is retired
            registered |= set(re.findall(r'"([a-z0-9_]+)":\s*q_', m.group(1)))
    from bench import BENCH_QUERIES

    missing = [q for q in BENCH_QUERIES if q not in registered]
    assert not missing, missing


def test_committed_sf01_record_matches_current_suite():
    """BENCH_LOCAL.json must be regenerated whenever the bench suite
    changes — rounds 5-8 each closed with a modified-but-uncommitted
    or stale record; this makes the drift red in CI instead."""
    from bench import BENCH_QUERIES

    with open(os.path.join(REPO, "BENCH_LOCAL.json")) as f:
        rec = json.load(f)
    assert set(rec["queries"]) == set(BENCH_QUERIES), (
        sorted(set(BENCH_QUERIES) ^ set(rec["queries"]))
    )


def test_committed_scale_records_cover_current_suite():
    """Each >=sf1 record must account for every current bench query,
    either measured or in its recorded exclusion/skip list."""
    from bench import BENCH_QUERIES

    with open(os.path.join(REPO, "BENCH_SF1_LOCAL.json")) as f:
        sf1 = json.load(f)
    covered1 = set(sf1["queries"]) | set(sf1["skipped"])
    assert set(BENCH_QUERIES) <= covered1, sorted(set(BENCH_QUERIES) - covered1)

    with open(os.path.join(REPO, "BENCH_SF10_LOCAL.json")) as f:
        sf10 = json.load(f)
    covered10 = set(sf10["queries"]) | set(sf10["excluded"])
    assert set(BENCH_QUERIES) <= covered10, sorted(set(BENCH_QUERIES) - covered10)


def test_sf10_record_carries_its_scaling_gate():
    """r12 VERDICT item 2: the sf10 record must CARRY its gate (the
    'zero scaling violations' claim is machine-backed, not asserted).
    The BINDING gate is vs the sf0.1 base at ratio 100 — it must be
    empty. The sf1->sf10 step sub-gate is recorded as a diagnostic:
    on replica corpora the near-dup pair table grows with factor², so
    its consumers show a super-linear STEP while remaining sub-linear
    overall; any step-flagged query must therefore still pass the
    x100 gate (checked from the committed records), and its organic
    evidence lives in BENCH_ORGANIC.json."""
    with open(os.path.join(REPO, "BENCH_SF10_LOCAL.json")) as f:
        rec = json.load(f)
    assert "gate" in rec, "regenerate BENCH_SF10_LOCAL.json (no gate field)"
    assert rec["gate"].get("vs_sf0.1_x100") == [], rec["gate"]
    with open(os.path.join(REPO, "BENCH_LOCAL.json")) as f:
        base = json.load(f)["queries"]
    # semantic_dedup_scaled's same-rule sf0.1 base is the registry's
    # own semantic_dedup row (16 cells = max(16, 2000//800) — see
    # tools/bench_sf10.py)
    base = dict(base, semantic_dedup_scaled=base["semantic_dedup"])
    for q in rec["gate"].get("vs_sf1_x10", []):
        assert rec["queries"][q] <= 100.0 * base[q], (
            f"{q}: step-flagged AND super-linear at x100"
        )


def test_organic_family_record_covers_replica_clique_exclusions():
    """Every pair-output-bound query excluded from the replica-corpus
    scale runs must be measured AND scaling-gated on the organic
    (bounded-clique) corpora instead — exclusion without organic
    evidence would hide super-linearity the way the r12 sf10 record
    did."""
    with open(os.path.join(REPO, "BENCH_ORGANIC.json")) as f:
        rec = json.load(f)
    from bench import PAIR_VERIFY_DATA_BORNE

    # import tools/bench_sf10.py by explicit path: mutating sys.path
    # would let tools/*.py shadow same-named modules for later tests
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_sf10_for_gate", os.path.join(REPO, "tools", "bench_sf10.py"))
    bench_sf10 = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench_sf10)
    REPLICA_CLIQUE_OUTPUT = bench_sf10.REPLICA_CLIQUE_OUTPUT

    family = REPLICA_CLIQUE_OUTPUT | PAIR_VERIFY_DATA_BORNE
    for run_name in ("sf1organic", "sf10organic"):
        run = rec["runs"][run_name]
        assert family <= set(run["queries"]), (
            run_name,
            sorted(family - set(run["queries"])),
        )
        assert run["gate"] == [], (run_name, run["gate"])


def test_sf10_semantic_dedup_scaled_has_gate_base():
    """VERDICT r13 item 4: semantic_dedup_scaled was the single
    largest sf10 entry with no gate base at all. The record must now
    carry its sf1 twin (same ~800-vectors/cell rule at both scales),
    and the BINDING x100 gate must cover it via the same-rule sf0.1
    base (the registry's own semantic_dedup row — 16 cells IS the
    rule at 2000 vectors). A x10 flag on the REPLICA corpus is the
    known clone-clique artifact (clone groups grow with factor, so
    within-cell clone pairs grow with factor²) — the bounded-clique
    evidence is semantic_dedup_organic in BENCH_ORGANIC.json, pinned
    gate-green by test_organic_record_covers_embedding_family."""
    with open(os.path.join(REPO, "BENCH_SF10_LOCAL.json")) as f:
        rec = json.load(f)
    sf1base = rec.get("semantic_dedup_scaled_sf1base")
    assert sf1base is not None, (
        "regenerate BENCH_SF10_LOCAL.json — no semantic_dedup_scaled "
        "sf1 twin recorded")
    with open(os.path.join(REPO, "BENCH_LOCAL.json")) as f:
        base01 = json.load(f)["queries"]
    assert (
        rec["queries"]["semantic_dedup_scaled"]
        <= 100.0 * base01["semantic_dedup"]
    ), "semantic_dedup_scaled super-linear vs its same-rule sf0.1 base"


def test_organic_record_covers_embedding_family():
    """VERDICT r13 item 3: the embedding near-dup family must carry
    organic-mode scale evidence (bounded clone cliques at cosine
    ~0.99, pseudo-random growth) instead of exclusion-by-rationale.
    Gated against the record's own sf0.1 base run of the identical
    parametrization."""
    with open(os.path.join(REPO, "BENCH_ORGANIC.json")) as f:
        rec = json.load(f)
    family = {
        "embedding_neardup_lsh_organic",
        "semantic_dedup_organic",
        "hard_negatives_organic",
        "embedding_decontam_organic",
    }
    assert family <= set(rec.get("emb_base", {})), (
        sorted(family - set(rec.get("emb_base", {}))))
    for run_name in ("sf1organic", "sf10organic"):
        run = rec["runs"][run_name]
        assert family <= set(run.get("emb_queries", {})), (
            run_name, sorted(family - set(run.get("emb_queries", {}))))
        assert run.get("emb_gate") == [], (run_name, run.get("emb_gate"))


def test_pipeline_record_carries_day_scaling_gate():
    """VERDICT r13 item 5: the reference IS an import pipeline
    (import_events.py:147-258, calculate_daily_summary.py:135-168) —
    the committed BENCH_PIPELINE.json must time that shape end-to-end
    (per-day import -> flow hooks -> summaries -> maintain/z-order) at
    two day counts and carry an empty day-count scaling gate: N more
    days may cost at most N× more, per stage."""
    import importlib.util

    p = os.path.join(REPO, "BENCH_PIPELINE.json")
    assert os.path.exists(p), "run tools/bench_pipeline.py"
    with open(p) as f:
        rec = json.load(f)
    spec = importlib.util.spec_from_file_location(
        "bench_pipeline_for_gate", os.path.join(REPO, "tools", "bench_pipeline.py"))
    bp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bp)
    assert len(rec["runs"]) == 2, rec["runs"].keys()
    day_counts = sorted(run["days"] for run in rec["runs"].values())
    assert day_counts[1] >= 10 * day_counts[0], day_counts
    for run in rec["runs"].values():
        assert set(run["stages"]) == set(bp.STAGES), (
            sorted(set(run["stages"]) ^ set(bp.STAGES)))
    assert rec["gate"] == [], rec["gate"]


def test_noop_write_only_in_run_loop():
    """bench.py and every tool time their queries through the one run
    loop: `format("noop")` appears once in them, inside
    bench.timed_runs."""
    import ast
    import pathlib

    root = pathlib.Path(REPO)
    files = [root / "bench.py", *sorted((root / "tools").glob("*.py"))]
    hits = {
        str(p.relative_to(root)): n
        for p in files
        if (n := p.read_text().count('format("noop")'))
    }
    assert hits == {"bench.py": 1}
    src = (root / "bench.py").read_text()
    loop = next(
        n for n in ast.parse(src).body
        if isinstance(n, ast.FunctionDef) and n.name == "timed_runs"
    )
    assert 'format("noop")' in ast.get_source_segment(src, loop)
