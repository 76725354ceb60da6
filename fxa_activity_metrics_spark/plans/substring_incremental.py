"""Incremental duplicated-substring detection over a persisted
gram-count table.

The one-shot path (operators.dedup.duplicated_spans) re-hashes the
WHOLE corpus per run. On a lake where documents arrive daily, gram
counts are ADDITIVE — a gram's corpus-wide occurrence count is the
sum of its per-day counts — so the lake split is:

- **append**: each arriving day writes ITS k-gram occurrence counts
  (one map-side-combining groupBy over the increment only) to a
  day-partitioned ``substring_gram_counts`` table via the idempotent
  day sink; history is never re-tokenized.
- **query**: the new day's spans come from re-anchoring ONLY that
  day's documents (positional hashes, cost proportional to the
  increment) against the cumulative counts summed from the stored
  table — a gram is duplicated when its lifetime total reaches
  min_count, whether the occurrences are old, new, or split across.

Semantics (the incremental-dedup reading, same as
plans/dedup_incremental.py): a day's documents are flagged against
everything ingested UP TO AND INCLUDING that day. A doc's spans
depend only on global gram counts at its ingestion horizon, so for
every prefix of the day stream:

    incremental_spans(day_d) ==
        duplicated_spans(union of docs with day <= d)
            restricted to day_d's documents

— pinned exactly in tests/test_substring_incremental.py. (Spans of
OLD days are intentionally not revised when later duplicates arrive;
re-run backfill for retrospective semantics.)

Count-table growth is bounded the same way the streaming LM model's
is (streaming/lm_stream.py): rollup_gram_counts folds partitions
older than a horizon into a base partition, score-preserving because
the query path only ever reads SUM(cnt) per gram.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fxa_activity_metrics_spark.operators.dedup import (
    _positional_gram_hashes,
    spans_from_hits,
)
from fxa_activity_metrics_spark.sources.lake import Lake

from fxa_activity_metrics_spark import cacheutil

GRAM_TABLE = "substring_gram_counts"

# all pre-horizon history folds into this partition key; any date
# earlier than real data works (mirrors streaming/lm_stream.BASE_DAY)
BASE_DAY = dt.date(1970, 1, 1)


def incremental_spans(
    lake: Lake,
    docs: DataFrame,
    day: dt.date,
    k: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = GRAM_TABLE,
) -> DataFrame:
    """Duplicated spans for ``day``'s documents against all grams
    ingested up to and including ``day`` (the day's own counts must
    already be appended). Only the increment is re-anchored; the
    duplicated-gram set comes from summing the stored per-day counts
    — one aggregation over (gh, cnt) rows, never over text."""
    cum = lake.read(table).filter(F.col("day") <= F.lit(day))
    dup = (
        cum.groupBy("gh")
        .agg(F.sum("cnt").alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("gh")
    )
    occ_d = _positional_gram_hashes(docs, k, id_col, text_col)
    hits = occ_d.join(dup, "gh").select("doc_id", "pos")
    return spans_from_hits(hits, k)


def rollup_gram_counts(
    lake: Lake,
    older_than: dt.date,
    table: str = GRAM_TABLE,
) -> None:
    """Fold count partitions with day < older_than into the BASE_DAY
    partition (re-summed per gram), bounding partition count on a
    long-running lake. Query-preserving: incremental_spans only reads
    SUM(cnt) per gram, and addition re-associates freely."""
    old = lake.read(table).filter(
        (F.col("day") < F.lit(older_than)) | (F.col("day") == F.lit(BASE_DAY))
    )
    if old.isEmpty():
        return
    folded = (
        old.groupBy("gh")
        .agg(F.sum("cnt").alias("cnt"))
        .withColumn("day", F.lit(BASE_DAY))
    )
    # materialize before rewriting the partitions it reads from
    folded = folded.transform(cacheutil.local_checkpoint)
    lake.delete_where(table, (F.col("day") < F.lit(older_than)) | (F.col("day") == F.lit(BASE_DAY)))
    lake.write_days(table, folded, sort_cols=["gh"])
