"""The one micro-batch driver of the foreachBatch streaming twins.

Every twin is a source frame plus a body. :func:`drain` owns the rest:

- the start chain — a checkpointed ``foreachBatch`` query on the
  ``availableNow`` trigger (drain what has landed, then stop: the
  reference's scheduled daily-drop cadence). The checkpointed source
  plus a body whose sink is idempotent per day or per key (dynamic
  partition overwrite, merge-by-key) is what makes a replayed epoch
  converge to the same lake state;
- the per-batch lifecycle — a ``cacheutil`` scope (the body runs on a
  stream-execution thread, so only this batch's frames may be
  released, never a concurrent query's), ONE eager local checkpoint
  (severs the micro-batch lineage: bodies join the batch against
  batch reads of their sink tables and run several jobs over it
  without re-reading the source files), and a skip when the batch is
  empty.

The document day-file source (``<prefix>-YYYY-MM-DD.json``, one file
per trigger) lives here too; :func:`drain_docs` drains it and checks
every batch's file day before the body runs.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fxa_activity_metrics_spark import cacheutil

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

_FILE_DAY_RE = r"([0-9]{4}-[0-9]{2}-[0-9]{2})\.json$"


def read_docs_stream(
    spark: SparkSession, source_dir: str, schema: T.StructType = DOCS_SCHEMA
) -> DataFrame:
    """File-source stream of JSON day-drops (declared schema, one file
    per trigger — the day-batch cadence)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(source_dir)
    )


def _docs_with_file_day(
    spark: SparkSession, source_dir: str, schema: T.StructType
) -> DataFrame:
    """Document stream + the day parsed from each source file name,
    carrying the file name for diagnostics."""
    return (
        read_docs_stream(spark, source_dir, schema)
        .withColumn("_src_file", F.input_file_name())
        .withColumn(
            "day",
            # try_cast: an unparseable name yields NULL here (ANSI cast
            # would throw an opaque CAST_INVALID_INPUT mid-plan) and
            # _require_file_days raises the actionable error instead
            F.regexp_extract(F.col("_src_file"), _FILE_DAY_RE, 1).try_cast("date"),
        )
    )


def _require_file_days(batch_df: DataFrame) -> None:
    """Fail fast on files not named `*-YYYY-MM-DD.json`: a null day
    would land those rows in the default partition, silently outside
    every read_days / incremental_candidates window."""
    bad = [
        r["_src_file"]
        for r in batch_df.filter(F.col("day").isNull())
        .select("_src_file")
        .distinct()
        .limit(5)
        .collect()
    ]
    if bad:
        raise ValueError(
            "document day-files must be named '<prefix>-YYYY-MM-DD.json'; "
            f"cannot parse a day from: {bad}"
        )


def drain(
    frame: DataFrame,
    checkpoint_dir: str,
    body: Callable[[DataFrame], None],
    mode: str = "append",
):
    """Start ``frame`` as an availableNow query checkpointed at
    ``checkpoint_dir`` whose every non-empty micro-batch runs
    ``body(batch)`` on the locally checkpointed batch. ``mode`` is the
    output mode (``update`` for the running aggregations). Returns the
    started query."""

    def run_batch(batch_df: DataFrame, epoch_id: int) -> None:
        with cacheutil.scope():
            batch = cacheutil.local_checkpoint(batch_df)
            if batch.isEmpty():
                return
            body(batch)

    return (
        frame.writeStream.outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(run_batch)
        .trigger(availableNow=True)
        .start()
    )


def drain_docs(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    body: Callable[[DataFrame], None],
    schema: T.StructType = DOCS_SCHEMA,
):
    """:func:`drain` over the document day-file source: each batch
    carries ``day`` (from its file name) and ``_src_file``, and a
    batch holding a file with no parseable day fails before
    ``body`` runs."""

    def checked(batch: DataFrame) -> None:
        _require_file_days(batch)
        body(batch)

    return drain(_docs_with_file_day(spark, source_dir, schema), checkpoint_dir, checked)
