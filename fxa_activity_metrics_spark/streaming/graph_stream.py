"""Streaming maintenance of the near-duplicate GRAPH — the §2.9 face
of operators/graph.py, completing the last operator family without a
streaming twin (VERDICT r8 item 9).

Three day-partitioned / maintained tables:

- ``neardup_edges`` (id_a, id_b, day): the MinHash-LSH candidate
  graph, day = the day the pair was DISCOVERED.  Each arriving
  `documents-YYYY-MM-DD.json` day-drop signs its increment into the
  signature table and emits only pairs involving its own day
  (plans.dedup_incremental semantics — pairs with both sides in
  history were emitted when their day arrived), so the union over
  day partitions reconstructs the one-shot LSH candidate set exactly.
- ``neardup_components`` (doc_id, cluster_id): connected components,
  maintained INCREMENTALLY — the day's delta edges are contracted
  through the stored labels (u,v) -> (l(u), l(v)), star contraction
  runs on that cluster-of-clusters graph only (delta-scale, never the
  full edge set), and the composed labels are written back.  Because
  star contraction's label is "minimum reachable id", composing
  stored labels through the mini-contraction yields EXACTLY the
  labels a batch duplicate_clusters over the full edge set computes
  (pinned bit-exact in tests/test_streaming_graph.py).
- ``neardup_pagerank`` (doc_id, pr_micro, updated_day): fixed-round
  integer PageRank.  A node's rank depends only on its connected
  component (rank flows along edges; integer micro-unit arithmetic,
  fixed rounds), so PR re-runs ONLY on components that gained an
  edge this batch — merged components, and components a new internal
  edge landed in — while every other node keeps its stored row.
  The union is bit-identical to batch pagerank over the full graph.

Scale shape: per batch, signing + banding touch the increment;
candidate generation bucket-joins the increment's bands against the
persisted band table; component maintenance joins the (node-scale)
label table twice against delta edges and contracts a delta-scale
graph; the one full-table touch is the induced-subgraph filter
(edge table semi-joined to changed nodes) feeding PageRank — at
100 TB that is a scan + semi-join gate, with the expensive iterative
rounds confined to the changed components' edges.  ``updated_day``
is diagnostic metadata (last batch day whose edges touched the
node's component); the replay-convergence contract covers
(doc_id, pr_micro) — a full replay recomputes every component and
restamps the day, but ranks converge bit-exactly.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fxa_activity_metrics_spark import cacheutil
from fxa_activity_metrics_spark.operators import graph
from fxa_activity_metrics_spark.operators.dedup import duplicate_clusters
from fxa_activity_metrics_spark.plans.dedup_incremental import (
    incremental_candidates,
)
from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark.streaming._drain import DOCS_SCHEMA, drain_docs
from fxa_activity_metrics_spark.streaming.dedup_stream import sign_batch

SIG_TABLE = "graph_signatures"
EDGE_TABLE = "neardup_edges"
COMP_TABLE = "neardup_components"
PR_TABLE = "neardup_pagerank"

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("day", T.DateType()),
    ]
)
COMP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("cluster_id", T.LongType()),
    ]
)
PR_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("pr_micro", T.LongType()),
        T.StructField("updated_day", T.DateType()),
    ]
)


def _advance_components(
    stored: DataFrame, delta_pairs: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Fold a batch of delta edges into the stored component labels.

    Returns (new_labels, changed_clusters):
    - new_labels (doc_id, cluster_id) — the full updated assignment,
      bit-equal to batch star contraction over all edges ever seen;
    - changed_clusters (cluster_id,) — the NEW labels of every
      component that gained an edge this batch (merged or internal).

    The contraction runs on the delta edges REWRITTEN onto stored
    labels — cluster-of-clusters, delta-scale.  Composition is sound
    for min-reachable-id labels: the new label of an old cluster is
    the minimum over the old clusters it merged with, which is the
    global minimum of the merged component.
    """
    la = stored.select(
        F.col("doc_id").alias("id_a"), F.col("cluster_id").alias("la")
    )
    lb = stored.select(
        F.col("doc_id").alias("id_b"), F.col("cluster_id").alias("lb")
    )
    mapped = (
        delta_pairs.join(la, "id_a", "left")
        .join(lb, "id_b", "left")
        .select(
            F.coalesce("la", "id_a").alias("u"),
            F.coalesce("lb", "id_b").alias("v"),
        )
    )
    contracted = (
        mapped.filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("id_a"), F.greatest("u", "v").alias("id_b")
        )
        .distinct()
    )
    # nodes first seen this batch enter with identity labels
    delta_nodes = (
        delta_pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(delta_pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    fresh = delta_nodes.join(stored, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    )
    labels = stored.unionByName(fresh)

    if contracted.isEmpty():
        # no cross-cluster merges; the touched clusters are the delta
        # nodes' (possibly fresh) labels
        changed = (
            delta_nodes.join(labels, "doc_id").select("cluster_id").distinct()
        )
        return labels, changed

    mini = duplicate_clusters(contracted).select(
        F.col("doc_id").alias("cluster_id"), F.col("cluster_id").alias("root")
    )
    new_labels = (
        labels.join(mini, "cluster_id", "left")
        .select(
            "doc_id", F.coalesce("root", "cluster_id").alias("cluster_id")
        )
    )
    changed = (
        delta_nodes.join(new_labels, "doc_id").select("cluster_id").distinct()
    )
    return new_labels, changed


def _maintain_graph_tables(
    lake: Lake,
    delta_pairs: DataFrame,
    batch_day: dt.date,
    n_iters: int,
    comp_table: str,
    pr_table: str,
    edge_table: str,
) -> None:
    """Advance components and PageRank for one batch's delta pairs
    (already written to the edge table)."""
    delta_pairs = cacheutil.track(delta_pairs.persist())
    if delta_pairs.isEmpty():
        delta_pairs.unpersist()
        return
    stored = lake.read(comp_table, COMP_SCHEMA)
    labels, changed = _advance_components(stored, delta_pairs)
    labels = cacheutil.track(labels.persist())
    changed = cacheutil.track(changed.persist())

    # induced subgraph of the changed components: components are
    # label-closed, so filtering one endpoint suffices. The day
    # partitions form a SET, not a bag: a replayed early day re-emits
    # its cross-day pairs into its own partition while the later
    # day's partition still holds them, so the union can carry a pair
    # twice — distinct here keeps PageRank's edge multiplicities
    # equal to the one-shot candidate set under any replay history.
    all_pairs = (
        lake.read(edge_table, EDGE_SCHEMA).select("id_a", "id_b").distinct()
    )
    changed_nodes = labels.join(
        changed.select("cluster_id"), "cluster_id", "left_semi"
    ).select("doc_id")
    sub = all_pairs.join(
        changed_nodes.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi"
    )
    pr_new = graph.pagerank(graph.symmetrize(sub), n_iters=n_iters).select(
        F.col("id").alias("doc_id"),
        "pr_micro",
        F.lit(batch_day).alias("updated_day"),
    )
    kept = lake.read(pr_table, PR_SCHEMA).join(
        changed_nodes, "doc_id", "left_anti"
    )
    # materialize BEFORE the overwrites: both unions read the tables
    # they are about to replace
    out_pr = pr_new.unionByName(kept).transform(cacheutil.local_checkpoint)
    out_labels = labels.transform(cacheutil.local_checkpoint)
    lake.overwrite(comp_table, out_labels)
    lake.overwrite(pr_table, out_pr)


def run_neardup_graph_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    sig_table: str = SIG_TABLE,
    edge_table: str = EDGE_TABLE,
    comp_table: str = COMP_TABLE,
    pr_table: str = PR_TABLE,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    n_iters: int = 3,
    schema: T.StructType = DOCS_SCHEMA,
):
    """Maintain the near-dup graph tables from a stream of
    `documents-YYYY-MM-DD.json` day-drops.  Signatures and edges go
    through the idempotent day sink; components and PageRank advance
    once per batch over the batch's delta edges.  Returns the started
    query."""

    def write(batch_df: DataFrame) -> None:
        lake.write_days(sig_table, sign_batch(batch_df, num_hashes, shingle_n), sort_cols=["id"])
        days = sorted(r["day"] for r in batch_df.select("day").distinct().collect())
        batch_pairs = None
        for day in days:
            cands = incremental_candidates(
                lake,
                day,
                num_hashes=num_hashes,
                band_size=band_size,
                table=sig_table,
            ).transform(cacheutil.local_checkpoint)
            lake.write_days(
                edge_table,
                cands.withColumn("day", F.lit(day)),
                sort_cols=["id_a", "id_b"],
            )
            batch_pairs = (
                cands if batch_pairs is None
                else batch_pairs.unionByName(cands)
            )
        _maintain_graph_tables(
            lake, batch_pairs, days[-1], n_iters, comp_table, pr_table, edge_table
        )

    return drain_docs(spark, source_dir, checkpoint_dir, write, schema)


def pagerank_from_lake(lake: Lake, pr_table: str = PR_TABLE) -> DataFrame:
    """(doc_id, pr_micro) — the maintained rank table, bit-equal to
    batch graph.pagerank over every edge ever discovered."""
    return lake.read(pr_table, PR_SCHEMA).select("doc_id", "pr_micro")


def components_from_lake(lake: Lake, comp_table: str = COMP_TABLE) -> DataFrame:
    """(doc_id, cluster_id) — the maintained component table,
    bit-equal to batch duplicate_clusters over every edge ever
    discovered."""
    return lake.read(comp_table, COMP_SCHEMA)
