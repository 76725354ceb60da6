"""Persisted IVF index: build-once/query-many at storage level.
Queries against the lake-persisted index must return exactly what
the in-session ivf_topk computes with the same centroids, the cells
read must be partition-PRUNED to the probed cells, and index
maintenance (rebuild, upsert) must follow the lake's incremental
contract — versioned staging with an atomic manifest commit, and
touched-partition-only rewrites for deltas."""

from __future__ import annotations

import os

import pytest

from fxa_activity_metrics_spark.operators.similarity import (
    _assign_cells,
    ivf_build_index,
    ivf_cells_table,
    ivf_centroids,
    ivf_query_index,
    ivf_topk,
    ivf_upsert_index,
)
from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark.sources.testdata import read_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    lake = Lake(spark, str(tmp_path_factory.mktemp("ivf_lake")))
    emb = read_table(spark, SF, "embeddings")
    ivf_build_index(lake, emb, name="ivf", n_cells=16)
    return lake, emb


def test_index_layout(env):
    lake, _ = env
    assert lake.read("ivf_centroids").count() == 16
    cells_root = lake.path(ivf_cells_table(lake, "ivf"))
    parts = [d for d in os.listdir(cells_root) if d.startswith("cell=")]
    assert len(parts) > 1, "assignments must be cell-partition directories"


def test_persisted_query_equals_fresh(env, spark):
    lake, emb = env
    queries = emb.filter("vec_id < 20")
    fresh = ivf_topk(emb, queries, k=5, n_cells=16, n_probe=4)
    persisted = ivf_query_index(lake, queries, name="ivf", k=5, n_probe=4)
    a = sorted(map(tuple, fresh.collect()))
    b = sorted(map(tuple, persisted.collect()))
    assert a == b


def test_query_scan_is_partition_pruned(env, spark):
    lake, emb = env
    queries = emb.filter("vec_id < 3")
    df = ivf_query_index(lake, queries, name="ivf", k=5, n_probe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0], (
        "the probed-cell isin must prune cell partitions at the scan"
    )


def test_empty_query_batch_returns_empty(env, spark):
    """An empty queries frame must return an empty result, not crash
    building an isin() over zero probed cells."""
    lake, emb = env
    df = ivf_query_index(lake, emb.filter("vec_id < 0"), name="ivf")
    assert df.count() == 0
    assert df.columns == ["query_id", "neighbor_id", "rank", "cosine"]


def test_rebuild_drops_stale_cells(spark, tmp_path):
    """Rebuilding an index must not leave rows from the prior build
    visible: the new cells version is staged separately and the
    centroids-manifest swap retargets queries atomically; the stale
    version is garbage-collected."""
    lake = Lake(spark, str(tmp_path / "rebuild_lake"))
    emb = read_table(spark, SF, "embeddings")
    ivf_build_index(lake, emb, name="r", n_cells=16)
    first_tbl = ivf_cells_table(lake, "r")
    first_cells = set(os.listdir(lake.path(first_tbl)))
    # rebuild on a much smaller corpus with fewer cells: many old
    # cell partitions receive no rows
    small = emb.filter("vec_id < 40")
    ivf_build_index(lake, small, name="r", n_cells=4)
    live_tbl = ivf_cells_table(lake, "r")
    assert live_tbl != first_tbl, "rebuild must stage a fresh cells version"
    assert not os.path.exists(lake.path(first_tbl)), (
        "the prior cells version must be garbage-collected"
    )
    cells_now = {
        d for d in os.listdir(lake.path(live_tbl)) if d.startswith("cell=")
    }
    assert all(int(c.split("=")[1]) < 4 for c in cells_now), (
        f"stale cell partitions survived the rebuild: {sorted(cells_now)}"
    )
    # and the persisted query matches a fresh computation on the new corpus
    queries = small.filter("vec_id < 5")
    fresh = ivf_topk(small, queries, k=3, n_cells=4, n_probe=2)
    persisted = ivf_query_index(lake, queries, name="r", k=3, n_probe=2)
    assert sorted(map(tuple, fresh.collect())) == sorted(
        map(tuple, persisted.collect())
    )
    assert first_cells  # sanity: the first build did create partitions


def _cell_files(lake, table):
    """path → (mtime_ns, size) for every data file of the cells table."""
    out = {}
    for root, _, files in os.walk(lake.path(table)):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_mtime_ns, st.st_size)
    return out


def test_upsert_matches_assignment_and_leaves_untouched_cells(spark, tmp_path):
    """Upserting a corpus delta must equal assigning the UNION against
    the ORIGINAL centroids (upsert never re-trains), and cell
    partitions receiving no delta rows must keep their exact files."""
    lake = Lake(spark, str(tmp_path / "upsert_lake"))
    emb = read_table(spark, SF, "embeddings")
    base = emb.filter("vec_id >= 3")
    delta = emb.filter("vec_id < 3")
    ivf_build_index(lake, base, name="u", n_cells=16)
    tbl = ivf_cells_table(lake, "u")
    before = _cell_files(lake, tbl)

    ivf_upsert_index(lake, delta, name="u")
    assert ivf_cells_table(lake, "u") == tbl, "upsert edits the live version in place"

    # expected: union assigned against the centroids trained on base
    cents = ivf_centroids(base, n_cells=16)
    want = sorted(
        (r["neighbor_id"], r["cell"])
        for r in _assign_cells(emb, cents).select("neighbor_id", "cell").collect()
    )
    got = sorted(
        (r["neighbor_id"], r["cell"])
        for r in lake.read(tbl).select("neighbor_id", "cell").collect()
    )
    assert got == want

    # cells untouched by the delta keep byte-identical files
    touched = {
        r["cell"] for r in _assign_cells(delta, cents).select("cell").distinct().collect()
    }
    after = _cell_files(lake, tbl)

    def cell_of(path):
        for part in path.split(os.sep):
            if part.startswith("cell="):
                return int(part.split("=", 1)[1])
        return None

    untouched_before = {p: v for p, v in before.items() if cell_of(p) not in touched}
    assert untouched_before, "fixture must leave some cells untouched"
    for p, v in untouched_before.items():
        assert after.get(p) == v, f"untouched cell partition rewritten: {p}"

    # queries see the merged index, identical to in-session IVF on the
    # union with the original centroids
    queries = emb.filter("vec_id < 10")
    fresh = ivf_topk(emb, queries, k=5, centroids=cents, n_probe=4)
    persisted = ivf_query_index(lake, queries, name="u", k=5, n_probe=4)
    assert sorted(map(tuple, fresh.collect())) == sorted(
        map(tuple, persisted.collect())
    )


def test_upsert_moves_changed_vector_across_cells(spark, tmp_path):
    """Re-upserting an id whose embedding changed must move the row to
    its new cell and leave no duplicate in the old cell."""
    from pyspark.sql import functions as F

    lake = Lake(spark, str(tmp_path / "move_lake"))
    emb = read_table(spark, SF, "embeddings")
    ivf_build_index(lake, emb, name="m", n_cells=16)
    tbl = ivf_cells_table(lake, "m")

    # replace vec 5's embedding with vec 999's values (different cell
    # with high probability; assert no-dup regardless)
    donor = emb.filter("vec_id = 999").select(F.col("embedding").alias("e"))
    changed = (
        emb.filter("vec_id = 5")
        .crossJoin(donor)
        .select(F.col("vec_id"), F.col("e").alias("embedding"))
    )
    ivf_upsert_index(lake, changed, name="m")
    rows = lake.read(tbl).filter("neighbor_id = 5").collect()
    assert len(rows) == 1, "moved key must not leave a stale duplicate"


def test_kmeans_centroids_deterministic_and_better(spark):
    """Deterministic Lloyd's training: bit-identical centroids under
    repartition (fixed-point accumulation), inertia no worse than the
    hash-sampled init, n_iter=0 == init, and a build with train_iters
    stays query-consistent."""
    import math

    from fxa_activity_metrics_spark.operators.similarity import (
        ivf_centroids,
        kmeans_centroids,
    )
    from fxa_activity_metrics_spark.sources.testdata import read_table

    emb = read_table(spark, SF, "embeddings")
    a = kmeans_centroids(emb, n_cells=8, n_iter=3)
    b = kmeans_centroids(emb.repartition(17), n_cells=8, n_iter=3)
    assert a == b, "training must be bit-identical under any partitioning"
    assert kmeans_centroids(emb, n_cells=8, n_iter=0) == [
        list(c) for c in ivf_centroids(emb, n_cells=8)
    ]

    def inertia(cents):
        rows = emb.collect()
        tot = 0.0
        for r in rows:
            v = [float(x) for x in r["embedding"]]
            nv = math.sqrt(sum(x * x for x in v))
            best = -2.0
            for c in cents:
                nc = math.sqrt(sum(x * x for x in c))
                cos = sum(x * y for x, y in zip(v, c)) / (nv * nc)
                best = max(best, cos)
            tot += 1.0 - best
        return tot

    init = [list(c) for c in ivf_centroids(emb, n_cells=8)]
    assert inertia(a) <= inertia(init) + 1e-9, (
        "Lloyd's must not worsen the cosine inertia of its init"
    )


def test_build_with_train_iters_query_parity(spark, tmp_path):
    """A trained build must serve queries with the SAME ranking rules;
    persisted-trained == in-session ivf_topk over the same trained
    centroids."""
    from fxa_activity_metrics_spark.operators import similarity
    from fxa_activity_metrics_spark.sources.testdata import read_table

    lake = Lake(spark, str(tmp_path / "trained_lake"))
    emb = read_table(spark, SF, "embeddings")
    similarity.ivf_build_index(lake, emb, n_cells=8, train_iters=2)
    queries = emb.where("vec_id < 10")
    got = similarity.ivf_query_index(lake, queries, k=3, n_probe=2).collect()
    cents = similarity.kmeans_centroids(emb, n_cells=8, n_iter=2)
    want = similarity.ivf_topk(
        emb, queries, k=3, n_cells=8, n_probe=2, centroids=cents
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


# ---------------------------------------------------------------------------
# Persisted PQ index (pq_build_index / pq_query_index)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def pq_env(spark, tmp_path_factory):
    from fxa_activity_metrics_spark.operators.similarity import pq_build_index

    lake = Lake(spark, str(tmp_path_factory.mktemp("pq_lake")))
    emb = read_table(spark, SF, "embeddings")
    pq_build_index(lake, emb, m=16, n_codes=16)
    return lake, emb


def test_pq_index_layout(pq_env):
    lake, _ = pq_env
    manifest = lake.read("pq_codebooks").collect()
    assert len(manifest) == 16 * 16
    codes_tbl = manifest[0]["codes_table"]
    n_vec = lake.read(manifest[0]["vectors_table"]).count()
    # one (id, s, code) row per (vector, subspace)
    assert lake.read(codes_tbl).count() == n_vec * 16


def test_pq_persisted_query_equals_fresh(pq_env, spark):
    from pyspark.sql import functions as F

    from fxa_activity_metrics_spark.operators.similarity import (
        pq_query_index,
        pq_topk,
    )

    lake, emb = pq_env
    q = emb.filter(F.col("vec_id") < 20)
    via_index = pq_query_index(lake, q, k=5, shortlist_factor=8).collect()
    fresh = pq_topk(
        emb, q, k=5, m=16, n_codes=16, shortlist_factor=8
    ).collect()
    assert sorted(map(tuple, via_index)) == sorted(map(tuple, fresh))


def test_pq_rebuild_swaps_manifest(spark, tmp_path):
    from pyspark.sql import functions as F

    from fxa_activity_metrics_spark.operators.similarity import (
        pq_build_index,
        pq_query_index,
    )

    lake = Lake(spark, str(tmp_path / "pq_lake2"))
    emb = read_table(spark, SF, "embeddings").filter(F.col("vec_id") < 200)
    pq_build_index(lake, emb, m=4, n_codes=16)
    first = lake.read("pq_codebooks").collect()[0]["codes_table"]
    pq_build_index(lake, emb, m=4, n_codes=16)
    second = lake.read("pq_codebooks").collect()[0]["codes_table"]
    assert first != second  # fresh version staged, manifest re-pointed
    # the commit dropped the replaced version: only the live codes /
    # vectors pair and the manifest remain
    m = lake.read("pq_codebooks").first()
    assert lake.tables("pq_") == sorted(
        ["pq_codebooks", m["codes_table"], m["vectors_table"]]
    )
    out = pq_query_index(lake, emb.filter(F.col("vec_id") < 5), k=3)
    assert out.count() > 0


# ---------------------------------------------------------------------------
# Persisted IVFPQ index (ivfpq_build_index / ivfpq_query_index)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ivfpq_env(spark, tmp_path_factory):
    from fxa_activity_metrics_spark.operators.similarity import (
        ivfpq_build_index,
    )

    lake = Lake(spark, str(tmp_path_factory.mktemp("ivfpq_lake")))
    emb = read_table(spark, SF, "embeddings")
    ivfpq_build_index(lake, emb, n_cells=16, m=16, n_codes=16)
    return lake, emb


def test_ivfpq_persisted_query_equals_fresh(ivfpq_env, spark):
    from pyspark.sql import functions as F

    from fxa_activity_metrics_spark.operators.similarity import (
        ivfpq_query_index,
        ivfpq_topk,
    )

    lake, emb = ivfpq_env
    q = emb.filter(F.col("vec_id") < 20)
    via_index = ivfpq_query_index(
        lake, q, k=5, n_probe=4, shortlist_factor=8
    ).collect()
    fresh = ivfpq_topk(
        emb, q, k=5, n_cells=16, n_probe=4, m=16, n_codes=16,
        shortlist_factor=8,
    ).collect()
    assert sorted(map(tuple, via_index)) == sorted(map(tuple, fresh))


def test_ivfpq_rebuild_drops_stale_versions(spark, tmp_path):
    """A rebuild stages a fresh version of all three IVFPQ tables,
    re-points the centroids manifest at them, and drops the versions
    it replaced."""
    from pyspark.sql import functions as F

    from fxa_activity_metrics_spark.operators.similarity import (
        ivfpq_build_index,
        ivfpq_query_index,
    )

    lake = Lake(spark, str(tmp_path / "ivfpq_lake2"))
    emb = read_table(spark, SF, "embeddings").filter(F.col("vec_id") < 200)
    ivfpq_build_index(lake, emb, n_cells=4, m=4, n_codes=16)
    first = lake.read("ivfpq_centroids").first()
    ivfpq_build_index(lake, emb, n_cells=4, m=4, n_codes=16)
    m = lake.read("ivfpq_centroids").first()
    live = [m["codes_table"], m["vectors_table"], m["codebooks_table"]]
    assert first["codes_table"] not in live
    assert lake.tables("ivfpq_") == sorted(["ivfpq_centroids", *live])
    out = ivfpq_query_index(lake, emb.filter(F.col("vec_id") < 5), k=3, n_probe=2)
    assert out.count() > 0


def test_ivfpq_code_scan_is_partition_pruned(ivfpq_env, spark):
    from pyspark.sql import functions as F

    from fxa_activity_metrics_spark.operators.similarity import (
        ivfpq_query_index,
    )

    lake, emb = ivfpq_env
    df = ivfpq_query_index(
        lake, emb.filter(F.col("vec_id") < 3), k=5, n_probe=2
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert (
        "PartitionFilters" in plan
        and "cell" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    ), "the probed-cell isin must prune cell partitions of the code table"


def test_ivfpq_upsert_encodes_and_moves_keys(spark, tmp_path):
    """Upsert must: (a) encode new ids against the STORED codebooks
    and assign against STORED centroids; (b) replace a changed id's
    rows across cells; (c) leave untouched cells' rows identical."""
    from pyspark.sql import functions as F

    from fxa_activity_metrics_spark.operators.similarity import (
        _as_double,
        _cell_exprs,
        ivfpq_build_index,
        ivfpq_query_index,
        ivfpq_upsert_index,
        norm,
        pq_encode,
    )

    emb = read_table(spark, SF, "embeddings").filter(F.col("vec_id") < 300)
    lake = Lake(spark, str(tmp_path / "lake"))
    ivfpq_build_index(lake, emb, n_cells=8, m=4, n_codes=16)
    crows = sorted(lake.read("ivfpq_centroids").collect(), key=lambda r: r["cell"])
    codes_tbl = crows[0]["codes_table"]
    before = {
        (r["id"], r["s"]): (r["cell"], r["code"])
        for r in lake.read(codes_tbl).collect()
    }

    # (a) brand-new id = an existing vector with a fresh id: must
    # land in the same cell with the same codes
    src = emb.filter(F.col("vec_id") == 7).first()
    new = spark.createDataFrame(
        [(9001, src["embedding"]), ],
        "vec_id long, embedding array<float>",
    )
    ivfpq_upsert_index(lake, new)
    after = {
        (r["id"], r["s"]): (r["cell"], r["code"])
        for r in lake.read(codes_tbl).collect()
    }
    for s in range(4):
        assert after[(9001, s)] == before[(7, s)]
    # (c) everything that existed before is unchanged
    for key, val in before.items():
        assert after[key] == val

    # the upserted twin is immediately servable: querying with 9001's
    # vector (== id 7's) must surface id 7 as a neighbor
    out = ivfpq_query_index(
        lake, new, k=3, n_probe=4, shortlist_factor=8
    ).collect()
    assert any(r["neighbor_id"] == 7 for r in out)

    # (b) move id 7 onto a different vector: rows replaced (still
    # exactly 4 subspace rows), matching id 11's stored encoding
    other = emb.filter(F.col("vec_id") == 11).first()
    moved = spark.createDataFrame(
        [(7, other["embedding"]) ], "vec_id long, embedding array<float>"
    )
    ivfpq_upsert_index(lake, moved)
    final = {
        (r["id"], r["s"]): (r["cell"], r["code"])
        for r in lake.read(codes_tbl).collect()
    }
    rows7 = [kv for kv in final if kv[0] == 7]
    assert len(rows7) == 4
    for (_, s) in rows7:
        assert final[(7, s)] == final[(11, s)]
    # queries still serve after the move
    assert ivfpq_query_index(
        lake, new, k=3, n_probe=4, shortlist_factor=8
    ).count() == 3


def test_never_built_index_fails_loud(spark, tmp_path):
    """Querying or upserting a never-built index must raise a
    ValueError NAMING the missing manifest table — not an opaque
    IndexError on rows[0] or a raw lake read error (the same loud
    contract as pq_codebooks' empty-corpus guards)."""
    from fxa_activity_metrics_spark.operators.similarity import (
        ivfpq_query_index,
        ivfpq_upsert_index,
        pq_query_index,
    )

    lake = Lake(spark, str(tmp_path / "empty_lake"))
    q = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3, 0.4])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="pq_codebooks"):
        pq_query_index(lake, q)
    with pytest.raises(ValueError, match="ivfpq_centroids"):
        ivfpq_query_index(lake, q)
    with pytest.raises(ValueError, match="ivfpq_centroids"):
        ivfpq_upsert_index(lake, q)
    with pytest.raises(ValueError, match="ivf_centroids"):
        ivf_query_index(lake, q)
    with pytest.raises(ValueError, match="ivf_centroids"):
        ivf_upsert_index(lake, q)


# Filtered vector search: candidate_ids restricts the index candidate
# stream (pre-filtering — the metadata-predicate search every serving
# stack needs: top-k within a language/source/split).


def test_ivf_filtered_query_equals_filtered_bruteforce(env, spark):
    from pyspark.sql import functions as F

    from fxa_activity_metrics_spark.operators.similarity import (
        brute_force_topk,
    )

    lake, emb = env
    # allowed-id frame with an arbitrary column name (interface takes
    # the first column, whatever it is called)
    allowed = emb.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("the_id")
    )
    q = emb.filter(F.col("vec_id") < 20)
    # full probes (n_probe == n_cells): every allowed candidate is
    # scored, so the filtered index search IS the filtered exact scan
    got = ivf_query_index(
        lake, q, name="ivf", k=5, n_probe=16, candidate_ids=allowed
    ).collect()
    fcorpus = emb.join(
        allowed.select(F.col("the_id").alias("vec_id")), "vec_id", "left_semi"
    )
    want = brute_force_topk(fcorpus, q, k=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert all(r.neighbor_id % 3 == 0 for r in got)


def test_ivfpq_filtered_query_equals_filtered_bruteforce(ivfpq_env, spark):
    from pyspark.sql import functions as F

    from fxa_activity_metrics_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_query_index,
    )

    lake, emb = ivfpq_env
    allowed = emb.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    q = emb.filter(F.col("vec_id") < 20)
    # full probes + corpus-sized shortlist: the ADC stage passes every
    # allowed candidate to the exact rerank, so ranking == brute force
    # on the filtered corpus (pre-filtering guarantees k survivors)
    got = ivfpq_query_index(
        lake, q, k=5, n_probe=16, shortlist_factor=200, candidate_ids=allowed
    ).collect()
    fcorpus = emb.join(allowed, "vec_id", "left_semi")
    want = brute_force_topk(fcorpus, q, k=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_filtered_query_plan_is_broadcast_semi_join(ivfpq_env, spark):
    """The allowed-id filter must hit the candidate stream as a
    broadcast LEFT SEMI join (never a shuffle of the code table)."""
    from pyspark.sql import functions as F

    from fxa_activity_metrics_spark.operators.similarity import (
        ivfpq_query_index,
    )

    lake, emb = ivfpq_env
    allowed = emb.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    df = ivfpq_query_index(
        lake, emb.filter(F.col("vec_id") < 3), k=5, n_probe=2,
        candidate_ids=allowed,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    semi = plan[plan.index("LeftSemi") - 200 : plan.index("LeftSemi") + 50]
    assert "Broadcast" in semi, semi


def test_escalate_probes_arithmetic():
    from fxa_activity_metrics_spark.operators.similarity import (
        _escalate_probes,
    )

    # full selectivity: no-op
    assert _escalate_probes(4, 16, 1000, 1000) == 4
    # selectivity 1/4 -> 4x probes
    assert _escalate_probes(2, 16, 250, 1000) == 8
    # tiny filter: clamp at n_cells
    assert _escalate_probes(2, 16, 3, 1000) == 16
    # empty filter: full probe (result is empty anyway)
    assert _escalate_probes(2, 16, 0, 1000) == 16
    # never BELOW the caller's n_probe
    assert _escalate_probes(8, 16, 1000, 1000) == 8


def test_driver_probe_replica_matches_jvm_nearest_cells(spark):
    """Both index query paths probe with ``_nearest_cells_rows``, the
    driver replica of the JVM ``_cell_exprs`` closure the in-session
    paths and builds assign with: the probe lists must be equal —
    over random vectors, on an exact tie (duplicate centroids: the
    higher cell first, the lower second) and at n == n_cells."""
    import random

    from pyspark.sql import functions as F

    from fxa_activity_metrics_spark.operators.similarity import (
        _cell_exprs,
        _nearest_cells_rows,
        norm,
    )

    rng = random.Random(11)
    dim = 8
    cents = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(6)]
    cents.append(list(cents[2]))  # cell 6 ties cell 2 exactly
    qmat = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(40)]
    qmat.append(list(cents[2]))
    qids = list(range(len(qmat)))
    q = spark.createDataFrame(
        list(zip(qids, qmat)), "query_id long, q_vec array<double>"
    )
    nearest = _cell_exprs(cents)
    for n in (1, 3, len(cents)):
        jvm = {
            r["query_id"]: list(r["cells"])
            for r in q.select(
                "query_id",
                nearest(F.col("q_vec"), norm(F.col("q_vec")), n).alias("cells"),
            ).collect()
        }
        driver = {qi: cells for qi, _, cells in _nearest_cells_rows(qids, qmat, cents, n)}
        assert driver == jvm, n
    for cells in driver.values():
        assert cells.index(6) + 1 == cells.index(2)

    # a zero-norm query divides by zero on both sides
    zero = [[0.0] * dim]
    with pytest.raises(ZeroDivisionError):
        _nearest_cells_rows([0], zero, cents, 1)
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        spark.createDataFrame([(0, zero[0])], "query_id long, q_vec array<double>").select(
            nearest(F.col("q_vec"), norm(F.col("q_vec")), 1)
        ).collect()


def test_filtered_partial_probe_recall_floor(env, spark):
    """FILTERED_RECALL.json's pinned floor: a selective filter
    (selectivity 0.05) at n_probe=2 starves a fixed-probe shortlist
    but auto_probe escalates to full probe, where filtered search ==
    filtered brute force by construction. Everything here is a
    deterministic md5 derivation, so the recalls are exact
    reproducible numbers, not statistics."""
    from pyspark.sql import functions as F

    from fxa_activity_metrics_spark.operators.similarity import (
        brute_force_topk,
    )

    lake, emb = env
    allowed = emb.filter(F.col("vec_id") % 20 == 0).select("vec_id")
    q = emb.filter(F.col("vec_id") < 20)
    fcorpus = emb.join(allowed, "vec_id", "left_semi")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(fcorpus, q, k=5).collect()
    }

    def rec(auto):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_query_index(
                lake, q, name="ivf", k=5, n_probe=2,
                candidate_ids=allowed, auto_probe=auto,
            ).collect()
        }
        return len(got & exact) / len(exact)

    fixed, auto = rec(False), rec(True)
    assert auto >= 0.95, auto     # escalated: ~= exact
    assert auto >= fixed          # never worse than fixed probes


def test_candidate_ids_multi_column_raises(env, spark):
    from pyspark.sql import functions as F

    lake, emb = env
    q = emb.filter(F.col("vec_id") < 3)
    wide = emb.select("vec_id", F.lit(1).alias("extra"))
    with pytest.raises(ValueError, match="single-column"):
        ivf_query_index(lake, q, name="ivf", candidate_ids=wide)


def test_manifest_records_corpus_count_through_build_and_upsert(spark, tmp_path):
    """The centroids manifest carries n_vectors so filtered queries
    compute selectivity from a bounded manifest read, never a count
    job over the cells table per call (VERDICT r12 item 3). Build
    records the corpus size; upsert refreshes it — new ids add,
    re-upserted ids don't double-count."""
    from pyspark.sql import functions as F

    emb = read_table(spark, SF, "embeddings").filter("vec_id < 200")
    n = emb.count()
    lake = Lake(spark, str(tmp_path / "nv_lake"))
    ivf_build_index(lake, emb, name="ivf", n_cells=8)
    m = lake.read("ivf_centroids")
    assert set(r["n_vectors"] for r in m.collect()) == {n}

    # 5 genuinely new ids + 1 replaced id -> n + 5
    delta = (
        read_table(spark, SF, "embeddings")
        .filter("vec_id >= 200 and vec_id < 205")
        .unionByName(emb.filter("vec_id = 0"))
    )
    ivf_upsert_index(lake, delta, name="ivf")
    m2 = lake.read("ivf_centroids")
    assert set(r["n_vectors"] for r in m2.collect()) == {n + 5}
    # and the count matches the actual cells table
    assert lake.read(ivf_cells_table(lake, "ivf")).count() == n + 5


def test_filtered_query_uses_manifest_count_not_a_cells_scan(spark, tmp_path):
    """A filtered auto_probe query on a current index must not launch
    a count over the cells table: with the cells files made unreadable
    for anything but the probed partitions... (cheap proxy: monkeypatch
    Lake.read to record table reads and assert the cells table is read
    exactly once — the probed scan — not twice)."""
    emb = read_table(spark, SF, "embeddings").filter("vec_id < 300")
    lake = Lake(spark, str(tmp_path / "mc_lake"))
    ivf_build_index(lake, emb, name="ivf", n_cells=8)
    queries = emb.filter("vec_id < 3")
    allowed = emb.filter("vec_id % 7 = 0").select("vec_id")

    reads: list[str] = []
    orig = Lake.read

    def spy(self, table, schema=None):
        reads.append(table)
        return orig(self, table, schema)

    Lake.read = spy
    try:
        out = ivf_query_index(
            lake, queries, name="ivf", k=3, n_probe=2, candidate_ids=allowed
        )
        out.collect()
    finally:
        Lake.read = orig
    cells = ivf_cells_table(lake, "ivf")
    assert reads.count(cells) == 1, reads


def test_validate_candidates_raises_on_foreign_ids(env, spark):
    """Opt-in subset-contract enforcement (VERDICT r13): a filter
    frame with ids absent from the index must raise loudly instead of
    silently overstating selectivity and under-escalating auto_probe.
    Off by default — the validation scan is the corpus-scale cost the
    hot path deliberately avoids."""
    from pyspark.sql import functions as F

    lake, emb = env
    q = emb.filter(F.col("vec_id") < 3)
    foreign = spark.range(10_000_000, 10_000_005).select(
        F.col("id").alias("vec_id")
    )
    with pytest.raises(ValueError, match="absent from the index"):
        ivf_query_index(lake, q, name="ivf", candidate_ids=foreign,
                        validate_candidates=True)
    # a genuine subset passes and returns the same rows as unvalidated
    subset = emb.filter("vec_id % 7 = 0").select("vec_id")
    a = ivf_query_index(lake, q, name="ivf", candidate_ids=subset,
                        validate_candidates=True).collect()
    b = ivf_query_index(lake, q, name="ivf", candidate_ids=subset).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_validate_candidates_raises_on_foreign_ids_ivfpq(ivfpq_env, spark):
    from pyspark.sql import functions as F
    from fxa_activity_metrics_spark.operators.similarity import (
        ivfpq_query_index,
    )

    lake, emb = ivfpq_env
    q = emb.filter(F.col("vec_id") < 3)
    foreign = spark.range(10_000_000, 10_000_003).select(
        F.col("id").alias("vec_id")
    )
    with pytest.raises(ValueError, match="absent from the index"):
        ivfpq_query_index(lake, q, candidate_ids=foreign,
                          validate_candidates=True)
