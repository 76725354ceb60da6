"""Streaming near-dup graph maintenance (streaming/graph_stream.py):
after any prefix of day-drops, the maintained edge table must equal
the one-shot LSH candidate set, the maintained component table must
be BIT-IDENTICAL to batch duplicate_clusters, and the maintained
PageRank table to batch graph.pagerank — with re-ranking confined to
components the day's edges touched (untouched components keep their
stored rows, pinned via updated_day). Replays converge."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from fxa_activity_metrics_spark import cacheutil
from fxa_activity_metrics_spark.operators import graph
from fxa_activity_metrics_spark.operators.dedup import (
    duplicate_clusters,
    minhash_lsh_candidates,
)
from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark.streaming.graph_stream import (
    components_from_lake,
    pagerank_from_lake,
    run_neardup_graph_stream,
)

# near-identical pairs so 8-hash/2-band LSH over 2-shingles fires:
# component A spans days 1-2 (doc 11 merges 1-2's cluster), day 3
# introduces component B with disjoint vocabulary.
_A1 = "the quick brown fox jumps over the lazy dog at dawn"
_A2 = "the quick brown fox jumps over the lazy dog at dusk"
_B1 = "zeta omega rho sigma tau upsilon phi chi psi lambda"
_DAY1 = [(1, _A1), (2, _A1 + " again"), (3, "completely unrelated text one")]
_DAY2 = [(11, _A2), (12, "another unrelated blob of words")]
_DAY3 = [(21, _B1), (22, _B1 + " extra")]

_DAYS = {
    "2024-07-01": _DAY1,
    "2024-07-02": _DAY2,
    "2024-07-03": _DAY3,
}


def _write_drop(dirpath, name, rows, mtime):
    path = os.path.join(dirpath, name)
    with open(path, "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    os.utime(path, (mtime, mtime))


@pytest.fixture()
def src_dir(tmp_path):
    d = tmp_path / "drops"
    d.mkdir()
    base = time.time() - 3600
    _write_drop(str(d), "documents-2024-07-01.json", _DAY1, base)
    _write_drop(str(d), "documents-2024-07-02.json", _DAY2, base + 60)
    return str(d)


def _batch_docs(spark, keys):
    rows = [(i, t) for k in keys for i, t in _DAYS[k]]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _batch_pairs(spark, keys):
    return minhash_lsh_candidates(
        _batch_docs(spark, keys), num_hashes=8, band_size=2, shingle_n=2
    )


def _run(spark, src, lake, ckpt):
    q = run_neardup_graph_stream(
        spark, src, lake, ckpt, shingle_n=2, n_iters=3
    )
    q.awaitTermination(180)
    assert not q.isActive


def _pr_rows(df):
    return sorted((r.doc_id, r.pr_micro) for r in df.collect())


def _comp_rows(df):
    return sorted((r.doc_id, r.cluster_id) for r in df.collect())


def test_stream_graph_equals_batch(spark, src_dir, tmp_path):
    try:
        lake = Lake(spark, str(tmp_path / "lake"))
        _run(spark, src_dir, lake, str(tmp_path / "ckpt"))

        two = ("2024-07-01", "2024-07-02")
        want_pairs = {
            (r.id_a, r.id_b) for r in _batch_pairs(spark, two).collect()
        }
        got_pairs = {
            (r.id_a, r.id_b)
            for r in lake.read("neardup_edges").select("id_a", "id_b").collect()
        }
        assert got_pairs == want_pairs and want_pairs, "edge union == one-shot LSH"

        assert _comp_rows(components_from_lake(lake)) == _comp_rows(
            duplicate_clusters(_batch_pairs(spark, two))
        )
        want_pr = graph.pagerank(
            graph.symmetrize(_batch_pairs(spark, two)), n_iters=3
        ).select(F.col("id").alias("doc_id"), "pr_micro")
        assert _pr_rows(pagerank_from_lake(lake)) == _pr_rows(want_pr)

        # day 3 arrives: a NEW component, disjoint from A
        _write_drop(src_dir, "documents-2024-07-03.json", _DAY3, time.time())
        _run(spark, src_dir, lake, str(tmp_path / "ckpt"))

        all_keys = tuple(_DAYS)
        assert _comp_rows(components_from_lake(lake)) == _comp_rows(
            duplicate_clusters(_batch_pairs(spark, all_keys))
        )
        want_pr3 = graph.pagerank(
            graph.symmetrize(_batch_pairs(spark, all_keys)), n_iters=3
        ).select(F.col("id").alias("doc_id"), "pr_micro")
        assert _pr_rows(pagerank_from_lake(lake)) == _pr_rows(want_pr3)

        # incrementality: component A gained no edge on day 3, so its
        # rows were NOT recomputed — updated_day still predates day 3
        stamps = {
            r.doc_id: str(r.updated_day)
            for r in lake.read("neardup_pagerank").collect()
        }
        comp_a = {d for d, _ in _DAY1 + _DAY2 if d in stamps}
        comp_b = {d for d, _ in _DAY3 if d in stamps}
        assert comp_b and all(stamps[d] == "2024-07-03" for d in comp_b)
        assert comp_a and all(stamps[d] < "2024-07-03" for d in comp_a), (
            "untouched component was re-ranked"
        )
    finally:
        # the batch oracles (duplicate_clusters, pagerank) track
        # persisted rounds in the global registry
        cacheutil.release_all()


def test_stream_graph_replay_converges(spark, src_dir, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    ckpt = str(tmp_path / "ckpt")
    _run(spark, src_dir, lake, ckpt)
    pr_before = _pr_rows(pagerank_from_lake(lake))
    comp_before = _comp_rows(components_from_lake(lake))
    # same checkpoint: nothing replays
    _run(spark, src_dir, lake, ckpt)
    assert _pr_rows(pagerank_from_lake(lake)) == pr_before
    # fresh checkpoint: full re-ingest through the idempotent day
    # sink and a full re-rank — ranks and components converge
    _run(spark, src_dir, lake, str(tmp_path / "ckpt2"))
    assert _pr_rows(pagerank_from_lake(lake)) == pr_before
    assert _comp_rows(components_from_lake(lake)) == comp_before
