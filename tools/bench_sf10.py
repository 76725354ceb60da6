"""Regenerate BENCH_SF10_LOCAL.json: the 100× scale-evidence run
(tools/make_scaled_sf.py data at .scratch/sf10) over the SCALABLE
query subset — everything in the headline suite except configurations
whose docstrings label them quadratic or whose parameters are pinned
for oracle exactness rather than scale:

- the bench.QUADRATIC_BASELINES (exact near-dup baselines and the
  pinned-4-plane LSH — embedding_neardup_lsh_auto, the dynamic-plane
  scale path, IS measured);
- ann_bruteforce/_gemm (exact-scan baselines for the ANN recall
  pins; ivf/lsh are the measured scale paths);
- multi_device window/grouped/salted (deliberate same-oracle
  reformulations of the measured join form — the join form is in);
- semantic_dedup/_trained: the registry entries PIN n_cells=16 for
  the DuckDB oracle, and a fixed cell count is O(N²/C) by design —
  the scale lever is raising n_cells with the corpus (the docstring's
  first mitigation), which this tool measures separately and records
  under `semantic_dedup_scaled` (n_cells grown ~√N to 256, same
  operator, same plan shape).

Timings are min-of-2 full executions through the noop sink, one
shared session. Usage: python tools/bench_sf10.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (  # noqa: E402
    BENCH_QUERIES,
    PAIR_VERIFY_DATA_BORNE,
    QUADRATIC_BASELINES,
    scaling_violations,
    timed_runs,
    warm_session,
)

# Replica-clique outputs: make_scaled_sf gives every doc/blob
# `factor` near-identical clones, so identical-pHash Hamming buckets
# and the LSH pair graph contain factor-sized cliques. phash_pairs'
# pair OUTPUT grows as factor^2 (sf1 6.1s -> measured ~30+ min at
# sf10), triangle_counts' wedge set as factor^3 (C(100,3) = 161700
# wedges per clique vs C(10,3) = 120 at sf1), and the jaccard verify
# + cluster-resolution consumers of the same pair table inherit the
# factor^2 pair count (jaccard_dedup measured 342× its sf0.1 time at
# 100× data on the replica corpus — r12 VERDICT item 2) — all
# data-generator artifacts, not plan defects: on organic corpora
# near-dup group sizes do not grow with corpus scale. The WHOLE
# family is measured and scaling-GATED on bounded-clique organic
# corpora instead (tools/bench_organic.py -> BENCH_ORGANIC.json);
# at sf1 (clique factor 10) everything but the per-pair DP verify is
# additionally measured on the replica corpus and gate-green.
REPLICA_CLIQUE_OUTPUT = {
    "phash_pairs",
    "triangle_counts",
    "jaccard_dedup",
    "dedup_clusters",
    "cluster_keepers",
}

EXCLUDED = QUADRATIC_BASELINES | PAIR_VERIFY_DATA_BORNE | REPLICA_CLIQUE_OUTPUT | {
    "ann_bruteforce",
    "ann_bruteforce_gemm",
    # exact-scan mining demo — the label filter composes with any
    # bucketed ANN front-end at scale; the scorer is the ann_bruteforce
    # baseline already excluded above
    "hard_negatives",
    "multi_device_users_window",
    "multi_device_users_grouped",
    "multi_device_users_salted",
    "semantic_dedup",
    "semantic_dedup_trained",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch",
        "sf10",
    )
    import __spark_entry__ as em
    from fxa_activity_metrics_spark.operators import similarity
    from fxa_activity_metrics_spark.sources.testdata import read_table

    spark = warm_session("bench-sf10")
    qs = em.all_queries()
    names = [q for q in BENCH_QUERIES if q not in EXCLUDED]
    timings: dict[str, float] = {}
    for name in names:
        runs = timed_runs(spark, name, lambda: qs[name](spark, sf_dir), 2)
        timings[name] = round(min(w for _, w, _ in runs), 3)
        print(f"{name}: {timings[name]}", file=sys.stderr)

    # the semantic-dedup SCALE configuration: n_cells grows LINEARLY
    # with the corpus at ~800 vectors/cell (max(16, N // 800) — 250
    # cells at sf10's 200k vectors, 25 at sf1), so the within-cell
    # pairwise term N·cell_size stays linear in N — the SemDeDup
    # scale rule (fixed expected cell mass), and the rule that makes
    # the sf1-twin ×10 gate below compare like with like. (The r13
    # record used a hardcoded 256 cells with no sf1 base, so the
    # largest entry in the record was ungated — VERDICT r13 item 4.)
    def _scaled_semantic(d: str) -> float:
        emb_d = em._emb(spark, d)
        n = read_table(spark, d, "embeddings").count()
        cents = similarity.ivf_centroids(
            read_table(spark, d, "embeddings"), n_cells=max(16, n // 800)
        )
        runs = timed_runs(
            spark,
            "semantic_dedup_scaled",
            lambda: similarity.semantic_dedup(emb_d, threshold=0.3, centroids=cents),
            2,
        )
        return round(min(w for _, w, _ in runs), 3)

    timings["semantic_dedup_scaled"] = _scaled_semantic(sf_dir)
    print(f"semantic_dedup_scaled: {timings['semantic_dedup_scaled']}",
          file=sys.stderr)
    sf1_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch", "sf1",
    )
    scaled_sf1 = _scaled_semantic(sf1_dir) if os.path.isdir(sf1_dir) else None
    if scaled_sf1 is not None:
        print(f"semantic_dedup_scaled sf1 twin: {scaled_sf1}", file=sys.stderr)

    # the repo's own scaling rule, applied AT sf10 (r12 VERDICT item
    # 2 — the record must carry its gate, not assert it): a query
    # violates if it grew faster than the data vs the committed sf0.1
    # and sf1 records. semantic_dedup_scaled has no same-name base
    # row (n_cells grows with the corpus by design), so the gate
    # skips it; its sf1-vs-sf10 trend is documented in
    # ENGINEERING_NOTES.md.
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_LOCAL.json")) as f:
        base01 = json.load(f)["queries"]
    # at sf0.1 the ~800-vectors/cell rule gives max(16, 2000//800) =
    # 16 cells — exactly the registry entry's own parametrization, so
    # BENCH_LOCAL's semantic_dedup row IS the same-rule base for the
    # scale configuration and the binding x100 gate covers it. (The
    # x10 step on the REPLICA corpus is super-linear — clone groups
    # grow with factor, the replica-clique artifact every pair-family
    # row shows; the organic-corpus twin `semantic_dedup_organic` in
    # BENCH_ORGANIC.json is the bounded-clique evidence and is
    # gate-green at 10x and 100x.)
    base01 = dict(base01, semantic_dedup_scaled=base01["semantic_dedup"])
    gate = {"vs_sf0.1_x100": scaling_violations(timings, base01, 100.0)}
    sf1_path = os.path.join(root, "BENCH_SF1_LOCAL.json")
    if os.path.exists(sf1_path):
        with open(sf1_path) as f:
            base1 = json.load(f)["queries"]
        if scaled_sf1 is not None:
            # give the scale configuration its same-name base so the
            # x10 gate covers the largest entry in this record
            base1 = dict(base1, semantic_dedup_scaled=scaled_sf1)
        gate["vs_sf1_x10"] = scaling_violations(timings, base1, 10.0)
    line = json.dumps(
        {
            "sf": 10,
            "data_ratio_vs_base": 100,
            "queries": timings,
            "value": round(sum(timings.values()), 3),
            "excluded": sorted(EXCLUDED),
            "semantic_dedup_scaled_sf1base": scaled_sf1,
            "gate": gate,
        }
    )
    print(line)
    with open(os.path.join(root, "BENCH_SF10_LOCAL.json"), "w") as f:
        f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
