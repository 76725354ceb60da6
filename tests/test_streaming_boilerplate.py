"""Streaming boilerplate-blocklist maintenance
(streaming/boilerplate_stream.py): after any prefix of day-drops the
folded lake blocklist must equal the one-shot batch
frequent_segments over the same documents (bit-exact md5 hashes and
counts), replays must converge, and cleaning through the
stream-maintained blocklist must equal the batch remove_boilerplate."""

from __future__ import annotations

import json
import os
import time

import pytest

from fxa_activity_metrics_spark import cacheutil
from fxa_activity_metrics_spark.operators.dedup import (
    frequent_segments,
    remove_boilerplate,
)
from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark.streaming.boilerplate_stream import (
    blocklist_from_lake,
    run_segment_counts_stream,
)

# 2-token segments at width=2; "c d" recurs across days and docs
_DAY1 = [
    (1, "a b c d"),
    (2, "e f g h"),
]
_DAY2 = [
    (11, "c d x y"),
    (12, "e f q r"),
]
_DAY3 = [
    (21, "c d e f"),
]

_WIDTH = 2


def _write_drop(dirpath: str, name: str, rows, mtime: float) -> None:
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


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _block_rows(df):
    return sorted((r["seg_hash"], r["n_docs"]) for r in df.collect())


def test_stream_blocklist_equals_batch(spark, src_dir, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    q = run_segment_counts_stream(
        spark, src_dir, lake, str(tmp_path / "ckpt"), width=_WIDTH
    )
    q.awaitTermination(120)
    assert not q.isActive

    got = _block_rows(blocklist_from_lake(lake, min_docs=2))
    want = _block_rows(
        frequent_segments(_docs_df(spark, _DAY1 + _DAY2), width=_WIDTH, min_docs=2)
    )
    assert got == want and got  # non-vacuous: "c d" and "e f" qualify

    # a third day arrives: the fold must track it exactly — including
    # a segment crossing the threshold only ACROSS days
    _write_drop(src_dir, "documents-2024-07-03.json", _DAY3, time.time())
    q2 = run_segment_counts_stream(
        spark, src_dir, lake, str(tmp_path / "ckpt"), width=_WIDTH
    )
    q2.awaitTermination(120)
    got3 = _block_rows(blocklist_from_lake(lake, min_docs=2))
    want3 = _block_rows(
        frequent_segments(
            _docs_df(spark, _DAY1 + _DAY2 + _DAY3), width=_WIDTH, min_docs=2
        )
    )
    assert got3 == want3


def test_fresh_checkpoint_replay_converges(spark, src_dir, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    q = run_segment_counts_stream(
        spark, src_dir, lake, str(tmp_path / "ckpt1"), width=_WIDTH
    )
    q.awaitTermination(120)
    first = _block_rows(blocklist_from_lake(lake, min_docs=1))

    # full replay from a fresh checkpoint: replace-the-day, not add
    q2 = run_segment_counts_stream(
        spark, src_dir, lake, str(tmp_path / "ckpt2"), width=_WIDTH
    )
    q2.awaitTermination(120)
    assert _block_rows(blocklist_from_lake(lake, min_docs=1)) == first


def test_cleaning_with_streamed_blocklist_equals_batch(spark, src_dir, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    q = run_segment_counts_stream(
        spark, src_dir, lake, str(tmp_path / "ckpt"), width=_WIDTH
    )
    q.awaitTermination(120)

    corpus = _docs_df(spark, _DAY1 + _DAY2)
    try:
        via_stream = remove_boilerplate(
            corpus, width=_WIDTH, blocklist=blocklist_from_lake(lake, min_docs=2)
        )
        via_batch = remove_boilerplate(corpus, width=_WIDTH, min_docs=2)
        assert sorted(map(tuple, via_stream.collect())) == sorted(
            map(tuple, via_batch.collect())
        )
    finally:
        # the batch remove_boilerplate tracks its persisted blocklist
        # in the global registry
        cacheutil.release_all()
