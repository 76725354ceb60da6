"""Streaming dataset import: the file-source twin of the batch
ImportJob (EP1), sharing its exact semantics — works for any flat
dataset descriptor (activity, email).

Each micro-batch is one day-file (`maxFilesPerTrigger=1` — the
reference's one-file-per-day cadence, import_events.py:179-186). The
file's day is recovered from its NAME via input_file_name(), so the
straggler filter (rows outside the file's day are dropped,
import_events.py:118) and the idempotent day sink (dynamic partition
overwrite) behave byte-for-byte like the batch path. Cohort sampling
fans the same batch into the three sampled lake variants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fxa_activity_metrics_spark.functions.core import (
    day_of,
    empty_strings,
    sample_cohort,
    ts_from_epoch,
)
from fxa_activity_metrics_spark.schemas import ACTIVITY, Dataset, SAMPLE_RATES
from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark.streaming._drain import drain

_FILE_DAY_RE = r"([0-9]{4}-[0-9]{2}-[0-9]{2})\.csv$"


def read_dataset_stream(
    spark: SparkSession, source_dir: str, dataset: Dataset = ACTIVITY
) -> DataFrame:
    """Typed event stream: declared schema (never inferred), epoch
    → timestamp, event day, and the owning file's day."""
    raw = (
        spark.readStream.schema(dataset.csv_schema)
        .option("maxFilesPerTrigger", 1)
        # only this dataset's day-files — drop dirs hold several
        # datasets (the batch driver filters by prefix the same way)
        .option("pathGlobFilter", f"{dataset.csv_prefix}-*.csv")
        # '' stays '' — the same options as the batch read_day_csv
        .option("emptyValue", "")
        .csv(source_dir)
    )
    return (
        empty_strings(raw)
        .withColumn("timestamp", ts_from_epoch("timestamp"))
        .withColumn("day", day_of("timestamp"))
        .withColumn(
            "_file_day",
            F.regexp_extract(F.input_file_name(), _FILE_DAY_RE, 1).cast("date"),
        )
    )


def run_dataset_import_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    dataset: Dataset = ACTIVITY,
):
    """source stream → straggler filter → 3 sampled day-partition
    sinks. Returns the started query."""
    # reference straggler filter: keep rows whose UTC day == the day
    # encoded in the source filename (import_events.py:118); on the
    # stream, so a batch of stragglers only is an empty batch
    day_rows = read_dataset_stream(spark, source_dir, dataset).filter(
        F.col("day") == F.col("_file_day")
    )
    perm_cols = [f.name for f in dataset.lake_schema.fields if f.name != "day"]

    def sink(batch_df: DataFrame) -> None:
        for suffix, percent, _months in SAMPLE_RATES:
            typed = batch_df.filter(sample_cohort(dataset.id_column, percent)).select(
                *perm_cols, "day"
            )
            lake.write_days(f"{dataset.name}{suffix}", typed)

    return drain(day_rows, checkpoint_dir, sink)
