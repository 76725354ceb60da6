"""Recall floors for the approximate similarity operators (the ones
without SQL oracles): each must recover a healthy fraction of the
exact answer, and near-dup results must be exact-subset correct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E

SF = "/root/testdata/sf0.01"


def _neighbor_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


@pytest.fixture(scope="module")
def exact_topk(spark):
    return _neighbor_sets(E.all_queries()["ann_bruteforce"](spark, SF))


@pytest.mark.parametrize("name", ["ann_lsh", "ann_ivf", "ann_jl", "ann_pq"])
def test_ann_recall(spark, exact_topk, name):
    approx = _neighbor_sets(E.queries()[name](spark, SF))
    hits = total = 0
    for qid, want in exact_topk.items():
        got = approx.get(qid, set())
        hits += len(want & got)
        total += len(want)
    recall = hits / total
    assert recall >= 0.4, f"{name} recall {recall:.2f} < 0.4"


def test_bucket_ids_memo_is_thread_safe(spark):
    """foreachBatch sinks build LSH buckets on their own threads and
    share one bounded expression memo. Threads cycling through more
    plane sets than its 16 slots (so lookups race evictions) must
    raise nothing and get the single-threaded buckets."""
    import sys
    import threading
    from functools import reduce

    from pyspark.sql import DataFrame

    from fxa_activity_metrics_spark.operators.similarity import (
        _bucket_expr,
        bucket_ids,
        hyperplanes,
    )

    base = spark.createDataFrame(
        [([0.5, -1.0, 2.0, 0.25],), ([-0.3, 0.7, -0.1, 1.5],), ([1.0, 1.0, -2.0, 0.0],)],
        "vec array<double>",
    )
    plane_sets = [hyperplanes(4, 3, seed=f"race:{i}") for i in range(20)]

    def buckets(order):
        frames = [
            bucket_ids(base, "vec", plane_sets[i]).select(F.lit(i).alias("i"), "bucket")
            for i in order
        ]
        got = {}
        for r in reduce(DataFrame.unionByName, frames).collect():
            got.setdefault(r["i"], []).append(r["bucket"])
        return {i: sorted(b) for i, b in got.items()}

    want = buckets(range(20))
    results, errors = {}, []

    def worker(t):
        try:
            results[t] = buckets([(5 * t + j) % 20 for j in range(20)])
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert results == {t: want for t in range(8)}
    assert _bucket_expr.cache_info().currsize <= 16


def test_embedding_neardup_lsh_subset_and_recall(spark):
    exact = {
        (r["id_a"], r["id_b"])
        for r in E.all_queries()["embedding_neardup"](spark, SF).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in E.queries()["embedding_neardup_lsh"](spark, SF).collect()
    }
    assert approx <= exact, "LSH pairs must pass the exact cosine filter (no false positives)"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.6, f"near-dup LSH recall {recall:.2f} < 0.6"


def test_gemm_topk_matches_fold_baseline(spark, exact_topk):
    """The GEMM scale path is EXACT: neighbor sets per query must
    equal the fold-based brute force (ranks can only differ on exact
    float ties; sets cannot)."""
    gemm = _neighbor_sets(E.queries()["ann_bruteforce_gemm"](spark, SF))
    assert gemm == exact_topk


def test_embedding_decontam_flags_planted_leak(spark):
    """A corpus vector that IS a benchmark vector (plus tiny noise)
    must be flagged; orthogonal vectors must not."""
    from fxa_activity_metrics_spark.operators.similarity import (
        embedding_decontam,
    )

    probes = spark.createDataFrame(
        [(1000, [1.0, 0.0, 0.0]), (1001, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [0.999, 0.01, 0.0]),   # leaked copy of probe 1000
            (2, [0.0, 0.0, 1.0]),      # orthogonal: clean
            (3, [0.01, 0.998, 0.0]),   # leaked copy of probe 1001
        ],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.corpus_id, r.probe_id)
        for r in embedding_decontam(corpus, probes, threshold=0.95).collect()
    }
    assert got == {(1, 1000), (3, 1001)}


def test_embedding_decontam_probe_side_broadcasts(spark):
    """The corpus must not shuffle: probe side broadcast, no hash
    exchange anywhere in the plan (ngram_decontam's asymmetry)."""
    import __spark_entry__ as E

    df = E.queries()["embedding_decontam"](spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_neardup_lsh_auto_planes_bounds_buckets_and_keeps_recall(spark):
    """The scale contract itself: at 10× the corpus the plane count
    must grow (bounding expected bucket load) while near-dup-regime
    recall (θ=0.95) stays high. Runs on sf0.1 (2000 vectors), where
    auto-scaling lifts the 4-plane minimum to 6."""
    from fxa_activity_metrics_spark.operators.similarity import (
        _auto_planes,
        embedding_neardup_lsh,
        embedding_neardup_pairs_gemm,
    )

    assert _auto_planes(200, 4, 256) == 4, "sf0.01 keeps the oracle's 4 planes"
    assert _auto_planes(2000, 4, 256) > 4
    assert _auto_planes(20_000, 4, 256) == 10
    assert _auto_planes(10**9, 4, 256) == 16, "capped"

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs_gemm(emb, threshold=0.95).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_lsh(emb, threshold=0.95, n_tables=3).collect()
    }
    assert approx <= exact, "no false positives (exact cosine filter)"
    if exact:
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.9, f"near-dup recall {recall:.2f} < 0.9 at auto planes"


def test_decontam_gemm_path_equals_fold_path(spark):
    """The auto-GEMM decontam path (large probe sets) must emit the
    EXACT same (corpus_id, probe_id, cosine) rows as the JVM fold
    path — the shared-oracle contract of the neardup fold/GEMM pair."""
    from fxa_activity_metrics_spark.operators.similarity import embedding_decontam

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = emb.where("vec_id % 50 = 0")
    corpus = emb.where("vec_id % 50 != 0")
    fold = sorted(
        map(tuple, embedding_decontam(
            corpus, probes, threshold=0.4, gemm_min_probes=10**9
        ).collect())
    )
    gemm = sorted(
        map(tuple, embedding_decontam(
            corpus, probes, threshold=0.4, gemm_min_probes=1
        ).collect())
    )
    assert fold == gemm and len(fold) > 0


def test_blocked_gemm_equals_broadcast_gemm(spark):
    """The distributed block-GEMM exact path must emit the EXACT rows
    of the broadcast GEMM baseline (same shared oracle) at sf0.1 —
    2000 vectors across 8 blocks exercises diagonal and off-diagonal
    grid groups, hash-empty blocks, and the (min, max) id ordering."""
    from fxa_activity_metrics_spark.operators.similarity import (
        embedding_neardup_pairs_blocked,
        embedding_neardup_pairs_gemm,
    )

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    blocked = sorted(
        map(tuple, embedding_neardup_pairs_blocked(
            emb, threshold=0.4, n_blocks=8
        ).collect())
    )
    gemm = sorted(
        map(tuple, embedding_neardup_pairs_gemm(emb, threshold=0.4).collect())
    )
    assert blocked == gemm and len(blocked) > 0


def test_blocked_gemm_plan_shape(spark):
    """Scale pins for the blocked exact path: the grid joins are
    broadcast-hash (never a nested loop over the corpus), the ONLY
    wide exchange is the one block-pair groupBy feeding the Arrow
    kernel, and the scan is pruned to (id, vec)."""
    from fxa_activity_metrics_spark.operators.similarity import (
        embedding_neardup_pairs_blocked,
    )

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    df = embedding_neardup_pairs_blocked(emb, threshold=0.9, n_blocks=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_recall_floor_and_plan(spark, exact_topk):
    """IVFPQ recall composes multiplicatively — cell recall at 4/16
    probes (~0.46) × ADC shortlist recall (~0.87) — so the floor is
    0.25, well under the measured 0.40 but far above a broken cell
    or code assignment. Probe gate and LUT must both broadcast; one
    cartesian anywhere is a fail."""
    approx = _neighbor_sets(E.queries()["ann_ivfpq"](spark, SF))
    hits = total = 0
    for qid, want in exact_topk.items():
        got = approx.get(qid, set())
        hits += len(want & got)
        total += len(want)
    assert hits / total >= 0.25, f"ivfpq recall {hits / total:.2f} < 0.25"
    plan = (
        E.queries()["ann_ivfpq"](spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_trained_codebooks_beat_hashed_and_are_deterministic(spark):
    """Per-subspace L2 Lloyd's training must not lose to the hashed
    init at either operating point (measured m=8: 0.50→0.59, m=16:
    0.76→0.87), and two trainings must produce bit-identical books
    (fixed-point integer accumulation — the kmeans_centroids
    contract)."""
    from fxa_activity_metrics_spark.operators.similarity import (
        brute_force_topk,
        pq_codebooks,
        pq_topk,
        pq_train_codebooks,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where("vec_id < 20")
    exact = _neighbor_sets(brute_force_topk(emb, q, k=5))

    def recall(books):
        got = _neighbor_sets(
            pq_topk(emb, q, k=5, m=8, n_codes=16,
                    shortlist_factor=8, codebooks=books)
        )
        hits = sum(len(exact[k] & got.get(k, set())) for k in exact)
        return hits / sum(len(v) for v in exact.values())

    hashed = pq_codebooks(emb, m=8, n_codes=16)
    trained = pq_train_codebooks(emb, m=8, n_codes=16, n_iter=2)
    r_h, r_t = recall(hashed), recall(trained)
    assert r_t >= r_h, f"trained {r_t:.2f} < hashed {r_h:.2f}"
    assert r_t >= 0.5
    assert trained == pq_train_codebooks(emb, m=8, n_codes=16, n_iter=2)


def test_pq_plan_broadcast_lut_no_cartesian(spark):
    """PQ ADC scale pins: the LUT and query sides join by broadcast
    (the corpus code stream never shuffles for them), no cartesian
    anywhere, and the distance sum is an integer SUM (micro-units —
    float lookup sums would diverge by ulps between engines)."""
    import __spark_entry__ as E

    df = E.queries()["ann_pq"](spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_encode_is_deterministic_and_compact(spark):
    """Codes are stable across partitionings (md5 codebooks + argmin
    over literals) and bounded by n_codes."""
    from fxa_activity_metrics_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cbs = pq_codebooks(emb, m=16, n_codes=16)
    assert len(cbs) == 16 and len(cbs[0]) == 16 and len(cbs[0][0]) == 4
    a = {r["id"]: list(r["codes"]) for r in pq_encode(emb, cbs).collect()}
    b = {
        r["id"]: list(r["codes"])
        for r in pq_encode(emb.repartition(7), cbs).collect()
    }
    assert a == b
    assert all(0 <= c < 16 for codes in a.values() for c in codes)
    assert all(len(codes) == 16 for codes in a.values())


def test_decontam_probe_budget_guard(spark):
    import pytest

    from fxa_activity_metrics_spark.operators.similarity import embedding_decontam

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    with pytest.raises(ValueError, match="probe matrix"):
        embedding_decontam(
            emb, emb, gemm_min_probes=1, max_probe_bytes=64
        ).count()


def test_ivf_trained_recall_bound_sf01(spark):
    """Recall floor for the IVF path at sf0.1 with TRAINED centroids
    (the quality knob the persisted index exposes via train_iters) —
    the quantitative counterpart to the exact-determinism oracle.
    Measured curve (tools/ivf_recall.py, 16 cells, deterministic):
    probes 1/2/4/8 → hash 0.187/0.290/0.463/0.733, kmeans
    0.247/0.370/0.563/0.783 — training wins at EVERY operating point
    on this corpus, so that ordering is pinned too. (The sf1 replay
    in IVF_RECALL.json reads much higher (~0.95) because key-offset
    replication fills each top-k with co-celled replicas — sf0.1 is
    the honest hard case.) The 0.40 floor sits well under the
    measured 0.563 but far above a broken cell assignment
    (~n_probe/n_cells = 0.25 at random)."""
    from fxa_activity_metrics_spark.operators.similarity import (
        brute_force_topk_gemm,
        ivf_centroids,
        ivf_topk,
        kmeans_centroids,
    )

    sf = "/root/testdata/sf0.1"
    emb = E._emb(spark, sf)
    emb.cache().count()
    try:
        queries = emb.filter(F.col("vec_id") < 30)
        k = 10

        def sets(df):
            out = {}
            for r in df.filter(F.col("rank") <= k).collect():
                out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            return out

        def rec(approx, exact):
            hits = sum(len(approx.get(q, set()) & s) for q, s in exact.items())
            return hits / sum(len(s) for s in exact.values())

        exact = sets(brute_force_topk_gemm(emb, queries, k=k))
        assert sum(len(s) for s in exact.values()) == 30 * k
        cents = kmeans_centroids(emb, n_cells=16, n_iter=5)
        trained = rec(
            sets(ivf_topk(emb, queries, k=k, n_cells=16, n_probe=4, centroids=cents)),
            exact,
        )
        assert trained >= 0.40, f"trained-IVF recall {trained:.3f} < 0.40"
        hash_cents = ivf_centroids(emb, n_cells=16)
        untrained = rec(
            sets(
                ivf_topk(
                    emb, queries, k=k, n_cells=16, n_probe=4, centroids=hash_cents
                )
            ),
            exact,
        )
        assert trained >= untrained, (
            f"k-means centroids must not lose to hash sampling: "
            f"{trained:.3f} < {untrained:.3f}"
        )
        # probing every cell must recover the exact result (the
        # approximation comes ONLY from cell pruning)
        full = sets(
            ivf_topk(emb, queries, k=k, n_cells=16, n_probe=16, centroids=cents)
        )
        assert full == exact
    finally:
        emb.unpersist()


def test_semantic_dedup_drops_subset_of_allpairs(spark):
    """Every SemDeDup drop must be justified by a real ≥θ pair in the
    FULL corpus (cells only partition the search space — they can
    miss cross-cell pairs, never invent within-cell ones), and
    keep-flag semantics must be exhaustive: one row per input vector."""
    from fxa_activity_metrics_spark.operators.similarity import (
        embedding_neardup_pairs,
        semantic_dedup,
    )

    emb = E._emb(spark, "/root/testdata/sf0.01")
    gated = semantic_dedup(emb, threshold=0.3).collect()
    assert len(gated) == emb.count()
    dropped = {r["vec_id"] for r in gated if not r["keep"]}
    assert dropped, "fixture must exercise real drops"
    # all-pairs ≥θ edges, b-side = droppable ids under the min-id rule
    allpairs = embedding_neardup_pairs(emb, threshold=0.3).collect()
    droppable = {r["id_b"] for r in allpairs}
    assert dropped <= droppable


# --- JL projection -------------------------------------------------------


def test_jl_projection_preserves_distance_structure(spark):
    """Achlioptas ±1 JL: E[‖Px‖²] = d_out·‖x‖², so the normalized
    squared-distance ratio dp/(d_out·do) must sit in the JL
    concentration band (the property bucket-then-verify ANN rests
    on). NOT a correlation test — the synthetic embeddings'
    pairwise distances concentrate, so correlation would measure
    noise; the ratio band is the actual lemma."""
    import numpy as np

    from fxa_activity_metrics_spark.operators.similarity import (
        jl_project,
        jl_signs,
    )
    from fxa_activity_metrics_spark.sources.testdata import read_table

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings").limit(40)
    rows = emb.collect()
    d_in = len(rows[0]["embedding"])
    proj = jl_project(emb, d_in=d_in, d_out=8).collect()
    pv = {}
    for r in proj:
        pv.setdefault(r["id"], {})[r["j"]] = r["proj_micro"]
    P = {i: np.array([v[j] for j in range(8)], dtype=float) for i, v in pv.items()}
    X = {r["vec_id"]: np.array(r["embedding"], dtype=float) * 1e6 for r in rows}
    ids = sorted(X)
    ratios = []
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            do = float(np.sum((X[ids[a]] - X[ids[b]]) ** 2))
            dp = float(np.sum((P[ids[a]] - P[ids[b]]) ** 2))
            ratios.append(dp / (8.0 * do))
    r = np.array(ratios)
    assert 0.6 < float(np.median(r)) < 1.5
    assert float(np.percentile(r, 5)) > 0.1
    assert float(np.percentile(r, 95)) < 3.5
    # and the matrix is the documented md5 derivation
    s = jl_signs(4, 2)
    assert all(v in (1, -1) for row in s for v in row)


def test_jl_projection_is_shuffle_free_jvm(spark):
    """The projection is a pure per-row expression: no exchange past
    the parallelism-floor repartition, no Python eval."""
    import __spark_entry__ as E

    df = E.queries()["jl_projection"](spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan
