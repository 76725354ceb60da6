"""Streaming exact dedup: content-hash keeper state over a document
stream — the §2.9 (streaming) face of operators.dedup.

Documents arrive as day-files; each micro-batch updates a running
(content_hash → keeper_id, n_copies) aggregation in the state store
and merges changed hashes into the lake table, so at every point the
table equals the batch `exact_duplicates` over everything ingested so
far (pinned by tests/test_streaming_dedup.py, including across a
restart from checkpoint).

Scale notes:
- the stream aggregation is associative (min/sum) → map-side partial
  per micro-batch; state is one row per DISTINCT content hash, the
  same cardinality any exact dedup must hold somewhere;
- content-hash state has no event-time to expire on — production
  bounds it by retention (drop hashes not seen for N days via a
  TTL'd state key, or periodically rebuild from the lake); the
  reference's pipeline has the same property in its Redshift tables;
- the merge sink replaces changed hashes only, like the flow-session
  merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark.streaming._drain import (
    DOCS_SCHEMA,
    drain,
    drain_docs,
    read_docs_stream,
)


def dedup_aggregate(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Running keeper state: same expression as the batch
    exact_duplicates (operators/dedup.py) — md5 digest, min id,
    copy count — maintained incrementally per micro-batch."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def merge_keepers_sink(lake: Lake, table: str = "dedup_keepers"):
    """Batch body: upsert by content_hash — replace changed hashes,
    keep the rest (idempotent per epoch)."""

    def write(batch_df: DataFrame) -> None:
        if lake.exists(table):
            existing = lake.read(table)
            kept = existing.join(
                batch_df.select("content_hash"), "content_hash", "left_anti"
            )
            merged = kept.unionByName(batch_df)
        else:
            merged = batch_df
        lake.overwrite(table, merged)

    return write


def sign_batch(batch_df: DataFrame, num_hashes: int, shingle_n: int) -> DataFrame:
    """The batch's MinHash signature rows keyed (id, ..., day) — the
    rows plans.dedup_incremental.append_signatures writes."""
    from fxa_activity_metrics_spark.operators.dedup import minhash_signature

    return minhash_signature(
        batch_df, "doc_id", "text", num_hashes, shingle_n
    ).join(batch_df.select(F.col("doc_id").alias("id"), "day"), "id")


def run_signature_import_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    table: str = "dedup_signatures",
    num_hashes: int = 8,
    shingle_n: int = 3,
    schema: T.StructType = DOCS_SCHEMA,
):
    """Streaming twin of plans.dedup_incremental.append_signatures:
    each arriving document day-file is signed (MinHash over its
    increment only, through the shared batch operator) and written to
    the same day-partitioned signature table the batch plan maintains.
    After any prefix of files, `incremental_candidates` works on the
    table unchanged; batch and stream writers are interchangeable
    (pinned by tests/test_streaming_dedup.py). Returns the started
    query."""

    def write_signed(batch_df: DataFrame) -> None:
        lake.write_days(table, sign_batch(batch_df, num_hashes, shingle_n), sort_cols=["id"])

    return drain_docs(spark, source_dir, checkpoint_dir, write_signed, schema)


def run_incremental_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    sig_table: str = "dedup_signatures",
    cand_table: str = "dedup_candidates",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    schema: T.StructType = DOCS_SCHEMA,
):
    """End-to-end streaming near-dup dedup: each arriving day-file is
    signed into the signature table AND its incremental candidate
    pairs (new day × full history, via banding the persisted sigs —
    plans.dedup_incremental semantics) are written to a
    day-partitioned candidates table. After any prefix of files, the
    candidates table equals the one-shot LSH candidate set over
    everything ingested (pinned by tests/test_streaming_dedup.py).

    Each micro-batch is a fresh plan over the lake — no cross-snapshot
    union, so the ReuseExchange stale-listing trap in the batch
    backfill cannot arise here. Returns the started query.
    """
    from fxa_activity_metrics_spark.plans.dedup_incremental import (
        incremental_candidates,
    )

    def write(batch_df: DataFrame) -> None:
        lake.write_days(sig_table, sign_batch(batch_df, num_hashes, shingle_n), sort_cols=["id"])
        days = [r["day"] for r in batch_df.select("day").distinct().collect()]
        for day in sorted(days):
            cands = incremental_candidates(
                lake, day, num_hashes=num_hashes, band_size=band_size, table=sig_table
            )
            lake.write_days(
                cand_table,
                cands.withColumn("day", F.lit(day)),
                sort_cols=["id_a", "id_b"],
            )

    return drain_docs(spark, source_dir, checkpoint_dir, write, schema)


def run_exact_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    table: str = "dedup_keepers",
):
    """Wire source → running dedup agg → merge sink; returns the
    query. In update output mode each micro-batch emits only the
    hashes it touched."""
    agg = dedup_aggregate(read_docs_stream(spark, source_dir))
    return drain(agg, checkpoint_dir, merge_keepers_sink(lake, table), mode="update")
