"""Streaming ANN-index maintenance: the §2.9 × vector-search cross —
each arriving embedding day-drop is merged into the persisted IVFPQ
index (`operators/similarity.py`), so the serving index follows the
corpus incrementally and queries never wait for an offline rebuild.
Closes the one index family (VERDICT r10 item 6) whose incremental
path had no streaming twin — BM25, IVF, sketches, graph, SCD2 and
boilerplate already have theirs.

The upsert is IDEMPOTENT by construction — ``ivfpq_upsert_index``
encodes the batch against the STORED codebooks/centroids
(deterministic given the manifest, which bootstrap froze) and
``merge_replace``s both index tables by id, so a replayed micro-batch
rewrites identical rows into the same cell partitions, and any
crash/restart converges to the same index as batch maintenance over
everything ingested (pinned by tests/test_streaming_ann.py).

First batch bootstraps the index (create-if-not-exists, S4) with a
full ``ivfpq_build_index`` — centroids and codebooks are trained on
that batch and FROZEN; later batches pay only their own encode+merge
delta against the frozen model. Quantization drift against stale
codebooks is the standard IVFPQ maintenance trade (Jégou et al. 2011
§V): rebuild cadence is the caller's knob (run ivfpq_build_index
offline; the manifest swap is atomic), not this stream's. The
manifest (``{name}_centroids``) is written LAST by the build, so a
crash mid-bootstrap leaves no manifest and the replay re-bootstraps
cleanly as the next version — orphan code tables are unreferenced,
never served.

At 100 TB this is the difference between re-encoding the corpus per
refresh and encoding only the day's arrivals: the upsert touches the
new vectors once and rewrites only the cell partitions they land in,
while queries keep partition-pruned reads against the manifest's
live tables throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from fxa_activity_metrics_spark.operators.similarity import (
    ivfpq_build_index,
    ivfpq_upsert_index,
)
from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark.streaming._drain import drain_docs

EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


def run_ann_index_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    name: str = "ivfpq",
    n_cells: int = 16,
    m: int = 4,
    n_codes: int = 16,
    schema: T.StructType = EMB_SCHEMA,
):
    """Stream embedding day-drops (`embeddings-YYYY-MM-DD.json`) into
    the persisted IVFPQ index. Returns the started query."""

    def write_index(batch_df: DataFrame) -> None:
        delta = batch_df.select("vec_id", "embedding")
        if lake.exists(f"{name}_centroids"):
            ivfpq_upsert_index(lake, delta, name=name)
        else:
            ivfpq_build_index(
                lake, delta, name=name, n_cells=n_cells, m=m, n_codes=n_codes
            )

    return drain_docs(spark, source_dir, checkpoint_dir, write_index, schema)
