"""Streaming inverted-index maintenance == one-shot build over
everything ingested, across restarts and late-arriving days."""

from __future__ import annotations

import json
import os
import time

import pytest

from fxa_activity_metrics_spark.operators import search
from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark.streaming.search_stream import (
    run_text_index_stream,
)

_DAY1 = [
    (1, "the data table holds a query vector for the data engine"),
    (2, "unrelated prose about rivers and light"),
]
_DAY2 = [
    (11, "query the table of data vectors"),
    (12, "more prose without the key words"),
]
_DAY3 = [(21, "a late data query about one more table")]

TERMS = ["data", "query", "table", "vector"]


def _write_drop(dirpath: str, name: str, rows, mtime: float) -> None:
    path = os.path.join(dirpath, name)
    with open(path, "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    os.utime(path, (mtime, mtime))


def _query_rows(lake):
    return [
        (r.doc_id, r.rank, r.score)
        for r in search.query_text_index(lake, TERMS, top_k=10).collect()
    ]


def _oneshot_rows(spark, tmp_path, rows, tag):
    lake = Lake(spark, str(tmp_path / f"oneshot_{tag}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    search.build_text_index(lake, docs, n_buckets=16)
    return _query_rows(lake)


@pytest.fixture()
def src_dir(tmp_path):
    d = tmp_path / "drops"
    d.mkdir()
    base = time.time() - 3600
    _write_drop(str(d), "documents-2024-07-01.json", _DAY1, base)
    _write_drop(str(d), "documents-2024-07-02.json", _DAY2, base + 60)
    return str(d)


def test_stream_index_matches_oneshot_build(spark, src_dir, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    q = run_text_index_stream(spark, src_dir, lake, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    # every batch's checkpoint blocks are released when it returns
    # (earlier tests' batch oracles may have left their own)
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) <= persisted
    assert _query_rows(lake) == _oneshot_rows(
        spark, tmp_path, _DAY1 + _DAY2, "a"
    )
    m = lake.read("bm25_stats").first()
    assert m["n_docs"] == 4


def test_stream_index_restart_extends_and_is_idempotent(
    spark, src_dir, tmp_path
):
    lake = Lake(spark, str(tmp_path / "lake"))
    ckpt = str(tmp_path / "ckpt")
    run_text_index_stream(spark, src_dir, lake, ckpt).awaitTermination(120)
    first = _query_rows(lake)
    # restart, no new data: index unchanged
    run_text_index_stream(spark, src_dir, lake, ckpt).awaitTermination(120)
    assert _query_rows(lake) == first
    # a late day arrives: only its delta is upserted
    _write_drop(
        src_dir, "documents-2024-07-03.json", _DAY3, time.time() - 1800
    )
    run_text_index_stream(spark, src_dir, lake, ckpt).awaitTermination(120)
    assert _query_rows(lake) == _oneshot_rows(
        spark, tmp_path, _DAY1 + _DAY2 + _DAY3, "b"
    )
    assert lake.read("bm25_stats").first()["n_docs"] == 5


def test_replayed_upsert_is_idempotent_directly(spark, tmp_path):
    """The exactly-once claim rests on upsert idempotence — pin it
    directly: applying the same delta twice leaves the index
    (postings AND manifest totals) identical."""
    lake = Lake(spark, str(tmp_path / "lake"))
    docs = spark.createDataFrame(_DAY1, "doc_id long, text string")
    search.build_text_index(lake, docs, n_buckets=16)
    delta = spark.createDataFrame(_DAY2, "doc_id long, text string")
    search.upsert_text_index(lake, delta)
    m1 = lake.read("bm25_stats").first()
    r1 = _query_rows(lake)
    search.upsert_text_index(lake, delta)  # replay
    m2 = lake.read("bm25_stats").first()
    assert (m1["n_docs"], m1["sum_dl"]) == (m2["n_docs"], m2["sum_dl"])
    assert _query_rows(lake) == r1


def test_crash_between_merge_and_manifest_converges_on_replay(
    spark, tmp_path
):
    """THE replay hazard: merges committed, manifest write lost. A
    full replay of the batch must still converge to the one-shot
    index — totals are recomputed from the doclens state, not
    reconciled incrementally (which would double-subtract)."""
    lake = Lake(spark, str(tmp_path / "lake"))
    search.build_text_index(
        lake, spark.createDataFrame(_DAY1, "doc_id long, text string"),
        n_buckets=16,
    )
    pre_manifest = lake.read("bm25_stats").collect()
    delta = spark.createDataFrame(_DAY2, "doc_id long, text string")
    search.upsert_text_index(lake, delta)
    # simulate the crash: merges survived, manifest write did not
    lake.overwrite(
        "bm25_stats",
        spark.createDataFrame(pre_manifest, lake.read("bm25_stats").schema),
    )
    # replay the whole batch
    search.upsert_text_index(lake, delta)
    got = _query_rows(lake)
    want = _oneshot_rows(spark, tmp_path, _DAY1 + _DAY2, "crash")
    assert got == want
    assert lake.read("bm25_stats").first()["n_docs"] == 4


def test_empty_doc_batch_replay_counts_once(spark, tmp_path):
    """A zero-token doc leaves no postings but must count exactly
    once in n_docs no matter how many times its batch replays (it
    lives in the doclens table, replaced idempotently by id)."""
    lake = Lake(spark, str(tmp_path / "lake"))
    search.build_text_index(
        lake, spark.createDataFrame(_DAY1, "doc_id long, text string"),
        n_buckets=16,
    )
    delta = spark.createDataFrame(
        [(30, "   "), (31, "a data point")], "doc_id long, text string"
    )
    search.upsert_text_index(lake, delta)
    search.upsert_text_index(lake, delta)  # replay
    m = lake.read("bm25_stats").first()
    assert m["n_docs"] == 4  # 2 + the empty doc + the real doc
    assert m["sum_dl"] == lake.read(m["doclens_table"]).agg(
        {"dl": "sum"}
    ).first()[0]
