"""Streaming inverted-index maintenance: the §2.9 × lexical-search
cross — each arriving document day-drop is merged into the persisted
BM25 index (`operators/search.py`), so the index follows the corpus
incrementally and queries never wait for an offline rebuild.

The upsert is IDEMPOTENT by construction — postings replace by
doc_id (re-upserting a doc writes identical rows), and the manifest
totals are reconciled against the replaced docs' CURRENT postings,
so a replayed micro-batch subtracts exactly what it re-adds, and any
crash/restart converges to the same index as a one-shot build over
everything ingested (pinned by tests/test_streaming_search.py).

First batch bootstraps the index (create-if-not-exists, S4) with a
full build; later batches pay only their own delta — history is
never re-tokenized, the streaming analogue of the incremental
signature import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from fxa_activity_metrics_spark.operators.search import (
    build_text_index,
    upsert_text_index,
)
from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark.streaming._drain import DOCS_SCHEMA, drain_docs


def run_text_index_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    name: str = "bm25",
    n_buckets: int = 16,
    schema=DOCS_SCHEMA,
):
    """Stream document day-drops into the persisted inverted index.
    Returns the started query."""

    def write_index(batch_df: DataFrame) -> None:
        delta = batch_df.select("doc_id", "text")
        if lake.exists(f"{name}_stats"):
            upsert_text_index(lake, delta, name=name)
        else:
            build_text_index(lake, delta, name=name, n_buckets=n_buckets)

    return drain_docs(spark, source_dir, checkpoint_dir, write_index, schema)
