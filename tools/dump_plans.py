"""Dump formatted physical plans of registry queries at
$SPARK_GRAFT_SF_DIR.

    python tools/dump_plans.py                  # regenerate PLANS.md
    python tools/dump_plans.py DIR QUERY [...]  # DIR/<QUERY>.txt each

With no arguments it regenerates PLANS.md: the plans of the headline
queries — the at-a-glance evidence that each operator's plan has the
shape the 100 TB design depends on. The properties called out per plan
are CI-pinned in tests/test_plans.py and the per-operator test files.
With a directory and query names it writes each query's full
``explain('formatted')`` text there, for before/after plan diffs of a
change (run it once in a checkout of each side).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fxa_activity_metrics_spark import cacheutil  # noqa: E402
from fxa_activity_metrics_spark.session import get_spark  # noqa: E402

HEADLINE = {
    "pricing_summary": "TPC-H-shape aggregate: pushdown + partial agg + codegen",
    "nation_revenue": "star join: every dim broadcast, fact never shuffles twice",
    "multi_device_users_join": "J1 7-day range self-join as equi-join + theta residual",
    "minhash_lsh": "served from the persisted pair table (bucketed scan); fresh build = band-bucketed generation, one shuffle of key rows",
    "embedding_neardup_lsh": "multi-table bucket join: shuffle on (table,bucket) only",
    "bm25_search": "1-row broadcast stats + per-row tf + TakeOrderedAndProject",
    "chunk_documents": "per-row generate+explode: zero shuffle",
    "source_mixture": "broadcast rate join: corpus never hash-shuffles",
    "shard_shuffle": "single exchange on shard key, per-shard sorts",
    "interval_join": "epoch-bucketed equi-join: no nested loop",
    "chunk_pack": "chunk explode -> block-sharded applyInPandas packer",
    "clean_corpus": "inline gate + window-min keeper + broadcast decontam anti-join",
    "query_text_index": "persisted postings: probed term buckets partition-pruned",
    "ivf_query_index": "persisted cells: probed cells partition-pruned",
    "blob_stats_compressed": "compress + decompress-in-kernel: two Arrow passes, zero shuffle",
    "lm_score": "bigram-count joins + integer micro-nat sum: JVM-only, order-free",
    "lm_score_backoff": "persisted lake gram rollup probed by five gram-key joins: all-JVM Stupid Backoff",
    "lm_buckets": "distributed rank: range exchange + _pid-partitioned window, no bare global window",
    "phash_png": "PNG inflate+unfilter in one Arrow pass: zero shuffle",
    "dedup_clusters": "star contraction phase 1: fold groupBy + supernode edge rewrite",
    "cms_token_counts": "d-row salted-hash explode -> one combine shuffle into <= d*w cells; broadcast probe",
    "cohort_retention": "one uid shuffle + window over the tiny cohort-offset aggregate, no join",
    "funnel_steps": "pre-filtered scan, one uid shuffle, fold-in-codegen chain",
    "dedup_spans": "positional-gram anchors: one count shuffle, 1:1 digest join, doc-window islands",
    "substring_dedup": "span removal: collect_list spans + exists() token filter, no UDF",
    "semantic_dedup": "SemDeDup: centroid-literal cell map, ONE cell-keyed exchange for the pair join",
    "semantic_dedup_trained": "SemDeDup over 2-iter fixed-point Lloyd cells: same single cell-keyed exchange",
    "heavy_hitters": "mergeable MG: mapInPandas summaries (<=P*k rows) -> driver fold, raw stream never shuffles",
    "heavy_hitters_mg": "replayable MG: one groupBy(g) exchange into applyInPandas, G*k-row merge",
    "min_cost_supplier": "Q2 shape: fact pre-agg before dims, all dims broadcast, per-part window",
    "parts_supplier_stats": "Q16 shape: distinct pairs -> broadcast anti-join -> count_distinct",
    "dormant_customers": "Q22 shape: 1-row broadcast avg + left-anti recent-orders probe",
    "small_qty_revenue": "Q17 shape: per-part threshold pre-agg joined back, brand dim broadcast twice",
    "large_volume_orders": "Q18 shape: one fact shuffle keys both the rollup and the orders join",
    "disjunctive_revenue": "Q19 shape: clean equi-key + OR-group residual on a broadcast join",
    "waiting_suppliers": "Q21 shape: EXISTS/NOT-EXISTS pair as one per-order aggregate, dims broadcast",
    "local_supplier_volume": "Q5 shape: compound (suppkey, nationkey) broadcast key carries the local predicate",
    "forecast_revenue_change": "Q6 shape: pure scan-agg, all three predicates pushed to the scan",
    "volume_shipping": "Q7 shape: two independent nation roles as separate broadcast dims, one fact shuffle",
    "national_market_share": "Q8 shape: CASE-ratio in ONE aggregation pass over a single fact scan",
    "product_type_profit": "Q9 shape: LIKE prefix pushed (StringStartsWith), dims broadcast, no fact-fact join",
    "returned_item_revenue": "Q10 shape: top-20 on the aggregate BEFORE the dim joins see any rows",
    "important_stock": "Q11 shape: global scalar reuses the per-part aggregate, 1-row broadcast gate",
    "late_shipment_priority": "Q12 shape: both-sides late predicate as the equi-join residual",
    "promo_revenue_effect": "Q14 shape: conditional-sum ratio, one pass, broadcast part dim",
    "dominant_part_suppliers": "Q20 shape: per-part totals re-aggregate the pair frame (ReuseExchange)",
    "bloom_decontam": "crossover fallback at committed scale (probe << 2^20 grams): the prefilter IS the exact digest broadcast join — no bitset jobs; forced-bloom plan pinned separately in test_plans",
    "daily_uniques_kmv": "KMV bottom-k: salted two-level rank, KB-scale merge — sketch AND estimate exactly oracled",
    "pagerank_neardup": "integer PageRank round: co-partitioned edge join + one groupBy(dst) exchange per round",
    "triangle_counts": "ordered-edge wedge join: each triangle found once, both joins equi-keyed",
    "jl_projection": "JL ±1 projection: per-row integer folds over sign-array literals, zero shuffle, zero UDF",
    "boilerplate_removal": "C4-style segment blocklist: persisted explode shared by both branches, broadcast anti-gate, ONE groupBy(doc_id)",
    "weighted_sample": "A-ES weighted reservoir: integer micro-nat keys, salted two-level rank, no global sort",
    "kcore_neardup": "fixed-round peeling: degree agg + two left-semi joins per round, edges persist per round",
    "tfidf_terms": "tf persisted once, df re-aggregates it; WindowGroupLimit pushes the per-doc top-k below the exchange",
    "ann_jl": "JL sign buckets: integer projection, Hamming-radius multiprobe, equi-join + exact-cosine verify",
    "neardup_editdist": "levenshtein verify on LSH survivors only: two equi-joins, DP runs on the bounded pair set",
    "source_overlap": "near-dup pairs x two broadcast source lookups -> n_sources^2 matrix",
    "novelty_score": "persisted gram frame feeds both the df count and the per-doc fold",
    "rolling_actives": "rolling distinct via explode-onto-window-days: two combine shuffles, no range join",
    "daily_spikes": "integer spike gate over a calendar-bounded RANGE window on the per-day aggregate",
    "locf_fill": "entity x observed-day grid (broadcast day list) + running last(ignorenulls) per entity",
    "pricing_rollup": "ROLLUP lattice in ONE Expand + hash aggregate pass",
    "event_type_pivot": "fixed-list pivot: one aggregation, no distinct-values pre-pass",
    "embedding_neardup_blocked": "block GEMM: broadcast block-pair grid, ONE groupBy exchange into the BLAS kernel — no corpus broadcast, no driver pull",
    "scd2_history": "gaps-and-islands: lag-filter-lead share ONE key exchange + sort, no groupBy, no join",
    "ann_pq": "PQ ADC: codes posexplode x broadcast LUT (shuffle-free), ONE (query,id) exchange, exact-cosine rerank of the shortlist",
    "ann_ivfpq": "IVFPQ: broadcast cell-probe gate + broadcast LUT over the code stream, ONE (query,id) exchange, exact rerank",
    "hard_negatives": "contrastive mining: label exclusion INSIDE the broadcast join condition — corpus never shuffles, same-label pairs never materialize",
    "cluster_keepers": "star-contraction components + node-scale weight join + per-cluster window (keeper = argmax weight, tie min id)",
    "kmv_overlap": "sketch set algebra: ONE distinct-hash shuffle builds all sketches; broadcast pairwise stage is |types|²·k array cells",
    "split_leakage": "cross-split leakage: split = pure md5 id expression on BOTH pair sides — one orientation union over the persisted pair table + one aggregate, zero joins",
    "split_decontam": "decontaminated split: leaked-eval aggregate derived inside the pair-table scan, broadcast LEFT join onto the per-row split projection — one corpus scan, zero corpus shuffles",
    "kmv_day_overlap": "consecutive-day sketch pairing (next_day = day + 1): returning-id estimates from k-row sketches, raw stream never reread",
    "pq_query_index": "persisted PQ: stored code stream scanned (never re-encoded), manifest codebooks -> broadcast LUT, exact rerank from stored vectors",
    "ivfpq_query_index": "persisted IVFPQ: probed cells are partition-PRUNED scans of the cell-partitioned code table; manifest LUT; stored-vector rerank",
    "text_vectors": "hashing trick: tf persisted once, df re-aggregated from it, signed md5 buckets — one (doc,j) aggregation, zero UDFs",
    "text_ann": "sparse cosine: ONE broadcast bucket equi-join for the integer dot, map-side partials into the (query,neighbor) aggregate",
}


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def dump_dir(spark, sf_dir: str, outdir: str, names: list[str]) -> None:
    """Write DIR/<name>.txt: the full formatted plan of each query."""
    import __spark_entry__ as em

    qs = em.all_queries()
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(_explain(qs[name](spark, sf_dir)))
        cacheutil.release_all()
        print(f"wrote {name}.txt", flush=True)


def main(argv: list[str]) -> None:
    if len(argv) == 1:
        sys.exit("usage: dump_plans.py [DIR QUERY [QUERY ...]]")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plans")
    if argv:
        dump_dir(spark, sf_dir, argv[0], argv[1:])
    else:
        write_plans_md(spark, sf_dir)


def write_plans_md(spark, sf_dir: str) -> None:
    import __spark_entry__ as em

    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        "Generated from `spark.explain('formatted')` at sf0.1 on local[32]",
        "(regenerate: `python tools/dump_plans.py`). Each plan is the shape",
        "the 100 TB design depends on; the properties named in the headers",
        "are CI-pinned in tests/test_plans.py and friends.",
        "",
    ]
    for name, blurb in HEADLINE.items():
        fn = em.queries().get(name) or getattr(em, f"q_{name}")
        tree = _explain(fn(spark, sf_dir)).split("\n\n")[0]
        out.append(f"## {name}\n\n_{blurb}_\n\n```\n{tree}\n```\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md regenerated")


if __name__ == "__main__":
    main(sys.argv[1:])
