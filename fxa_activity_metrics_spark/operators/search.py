"""Lexical (BM25) search over the document corpus — the keyword
complement to the embedding-based similarity operators.

Shape at 100 TB:

- corpus statistics (doc count, total token length, per-query-term
  document frequencies) are ONE map-side-combining aggregate whose
  output is a single row — broadcast back, never a shuffle of the
  corpus;
- scoring is a per-row projection (term frequencies come from the
  row's own token array — no posting-list join, no explode);
- top-k is orderBy+limit, which Spark plans as TakeOrderedAndProject:
  per-partition partial top-k merged on the driver — NOT a
  row_number window over a single global sort partition.

Determinism/oracle notes: idf is snapped to integer micro-units
(round(ln(...)·1e6) as BIGINT) so the one libm-sensitive op (ln —
within 1 ulp but not correctly rounded on every platform) is
quantized far from any rounding boundary; every other op in the
score is an IEEE correctly-rounded +,-,*,/ chain written in the same
association order as the DuckDB oracle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fxa_activity_metrics_spark.functions.core import hex_to_long
from fxa_activity_metrics_spark.operators._lakeindex import commit, read_manifest, stage
from fxa_activity_metrics_spark.operators.dedup import tokens

from fxa_activity_metrics_spark import cacheutil


def _term_eq(term: str):
    """Unary HOF lambda comparing an element to a bound literal —
    a factory so pyspark sees arity 1 (a two-arg lambda would be
    read as (element, index))."""
    return lambda x: x == F.lit(term)


def _bm25_contrib(
    tf: F.Column,
    df: F.Column,
    dl: F.Column,
    n: F.Column,
    avgdl: F.Column,
    k1: float,
    b: float,
) -> F.Column:
    """One term's BM25 contribution — THE single definition of the
    scoring arithmetic (micro-quantized idf, association order),
    shared by the direct and index paths so their bitwise-parity
    contract holds by construction, not by keeping two copies in
    sync. All inputs are double Columns except tf/df/dl which are
    cast here."""
    df_d = df.cast("double")
    # micro-quantized idf: the ln is the only non-correctly-rounded
    # op in the whole score — snap it to an exact integer
    idf = (
        F.round(F.log((n - df_d + 0.5) / (df_d + 0.5) + 1.0) * 1e6)
        .cast("bigint")
        .cast("double")
        / 1e6
    )
    tfd = tf.cast("double")
    denom = tfd + k1 * ((1.0 - b) + b * (dl.cast("double") / avgdl))
    return idf * (tfd * (k1 + 1.0)) / denom


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 rank of the corpus against a bag of query terms.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b + b·dl/avgdl))
    with the BM25+ style always-positive idf
    idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1).

    Ties in the 6dp-rounded score break by ascending doc id, so the
    top-k set and order are deterministic. Output:
    (id, score, rank) — rank 1-based, ≤ top_k rows.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be distinct")
    toks = tokens(text_col)
    tokd = docs.select(
        F.col(id_col), toks.alias("toks"), F.size(toks).alias("dl")
    )
    stats = tokd.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(F.array_contains("toks", t).cast("long")).alias(f"df_{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    scored = tokd.crossJoin(F.broadcast(stats))
    n = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n
    contribs = []
    for i, t in enumerate(query_terms):
        tf = F.size(F.filter(F.col("toks"), _term_eq(t)))
        contrib = _bm25_contrib(
            tf, F.col(f"df_{i}"), F.col("dl"), n, avgdl, k1, b
        )
        contribs.append(F.when(tf > 0, contrib).otherwise(F.lit(0.0)))
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    ranked = (
        scored.select(F.col(id_col), F.round(score, 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(top_k)
    )
    # rank the ≤ top_k survivors (tiny frame — the global sort already
    # happened as TakeOrderedAndProject, not a single-partition window)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col))
    return ranked.withColumn("rank", F.row_number().over(w)).select(
        id_col, "rank", "score"
    )


# ---------------------------------------------------------------------------
# Persisted inverted index (build-once / query-many, the IVF pattern
# applied to lexical search)
# ---------------------------------------------------------------------------


def term_bucket_col(term_col: F.Column | str, n_buckets: int) -> F.Column:
    """Deterministic term → bucket (the postings partition key):
    md5 7-hex prefix % n_buckets — the engine's cohort rule, so the
    Python twin below computes the identical bucket driver-side."""
    c = F.col(term_col) if isinstance(term_col, str) else term_col
    return (hex_to_long(F.substring(F.md5(c), 1, 7)) % n_buckets).cast("int")


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of term_bucket_col — used at query time to
    choose which postings partitions to read (partition pruning)."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:7], 16) % n_buckets


def _require_unique_ids(docs: DataFrame, id_col: str) -> None:
    """Raise loudly on a duplicated doc id within a batch. Two rows
    for one id would write two doclens rows, silently inflating the
    manifest's n_docs/sum_dl and leaving conflicting per-posting dl —
    a dirty drop must be deduped by the CALLER (who knows which row
    wins), not papered over here. One column-pruned aggregate over
    the id column only; no tokenization is triggered."""
    dup = (
        docs.groupBy(F.col(id_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(3)
        .collect()
    )
    if dup:
        ids = ", ".join(str(r[0]) for r in dup)
        raise ValueError(
            f"duplicate {id_col} values in index batch (e.g. {ids}); "
            "dedup the batch before indexing"
        )


def _index_frames(
    docs: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> tuple[DataFrame, DataFrame]:
    """The ONE definition of the index's stored shapes, shared by
    build and upsert so the 'upsert == rebuild bitwise' contract
    can't drift between two copies:

    - doclens: (doc_id, dl, bucket) — one row per document INCLUDING
      zero-token docs, partitioned by the doc id's md5 bucket. The
      source of truth for the manifest totals (n_docs, sum_dl).
    - postings: (term, doc_id, tf, dl, bucket) — partitioned by the
      term's md5 bucket; dl denormalized so queries never join a
      doc-length table.
    """
    toks = tokens(text_col)
    tokd = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("toks"), F.size(toks).alias("dl")
    )
    doclens = tokd.select(
        "doc_id",
        "dl",
        (
            hex_to_long(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7))
            % n_buckets
        )
        .cast("int")
        .alias("bucket"),
    )
    postings = (
        tokd.select("doc_id", "dl", F.explode("toks").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn("bucket", term_bucket_col("term", n_buckets))
    )
    return doclens, postings


def _stats_manifest(
    lake, postings_tbl: str, doclens_tbl: str, n_buckets: int
) -> DataFrame:
    """The ``{name}_stats`` manifest row, its totals recomputed FROM the
    persisted doclens table. Recompute-from-state (not incremental
    reconciliation) is what makes upsert replays converge: however
    many times a crashed batch re-runs its idempotent merges, the
    totals always describe the state actually on disk."""
    if lake.exists(doclens_tbl):
        totals = (
            lake.read(doclens_tbl)
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
            .first()
        )
        n_total, s_total = int(totals["n"]), int(totals["s"] or 0)
    else:
        # empty-corpus bootstrap: write_parts of an empty frame
        # leaves a file-less dir
        n_total, s_total = 0, 0
    return lake.spark.createDataFrame(
        [(n_total, s_total, postings_tbl, doclens_tbl, n_buckets)],
        "n_docs long, sum_dl long, postings_table string,"
        " doclens_table string, n_buckets int",
    )


def build_text_index(
    lake,
    docs: DataFrame,
    name: str = "bm25",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
) -> None:
    """Persist an inverted index for BM25 to the lake — the
    build-once/query-many story at storage level (the persisted-IVF
    pattern, ivf_build_index, applied to lexical search):

    - ``{name}_postings_v{N}``: (term, doc_id, tf, dl), PARTITIONED
      BY the term's md5 bucket, staged under a fresh version. dl is
      denormalized onto every posting so queries never join a doc-
      length table.
    - ``{name}_doclens_v{N}``: (doc_id, dl), partitioned by the doc
      id's md5 bucket — one row per document including empty ones;
      the source of truth the manifest totals are computed from.
    - ``{name}_stats``: the index MANIFEST — one row (n_docs, sum_dl,
      postings_table, doclens_table), committed through
      ``_lakeindex.commit`` (written last, then the replaced versions
      are dropped).

    Query-term buckets become partition-PRUNED scans: at 100 TB a
    4-term query reads ≤ 4/n_buckets of the postings bytes. The
    build is one explode + one map-side-combining groupBy on
    (term, doc) — the standard postings shuffle, run once offline.
    """
    _require_unique_ids(docs, id_col)
    doclens, postings = _index_frames(docs, id_col, text_col, n_buckets)
    tbl, stale = stage(lake, name, ("postings", "doclens"))
    lake.write_parts(tbl["doclens"], doclens, "bucket")
    lake.write_parts(tbl["postings"], postings, "bucket")
    commit(
        lake,
        f"{name}_stats",
        _stats_manifest(lake, tbl["postings"], tbl["doclens"], n_buckets),
        stale,
    )


def query_text_index(
    lake,
    query_terms: list[str],
    name: str = "bm25",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 over the persisted inverted index. BITWISE-identical
    scores to ``bm25_search`` on the same corpus (same micro-
    quantized idf, same association order; the per-doc sum is
    pivoted into fixed term order — one column per query term, each
    aggregating at most one posting — so float summation order
    cannot drift from the direct path's left-assoc chain).

    Contract difference: only documents containing ≥1 query term are
    candidates (zero-score docs never enter the index scan), so the
    result equals bm25_search whenever ≥ top_k documents match.

    Scale shape: probed buckets are partition-pruned scans of the
    postings table (~len(terms)/n_buckets of the bytes), df is a
    tiny per-term aggregate of the pruned scan broadcast back, and
    the only shuffle is the groupBy over candidate doc_ids.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be distinct")
    m = read_manifest(lake, f"{name}_stats", "query_text_index")[0]
    n_docs, sum_dl = int(m["n_docs"]), int(m["sum_dl"])
    if n_docs == 0 or not lake.exists(m["postings_table"]):
        # empty index (valid bootstrap state), or an index whose docs
        # all tokenized to nothing (n_docs > 0 but a file-less
        # postings table): nothing to scan either way
        return lake.spark.createDataFrame(
            [], "doc_id long, rank int, score double"
        )
    buckets = sorted({term_bucket_py(t, int(m["n_buckets"])) for t in query_terms})
    posts = (
        lake.read(m["postings_table"])
        .where(F.col("bucket").isin(buckets))
        .where(F.col("term").isin(query_terms))
    )
    dfreq = posts.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = F.lit(float(n_docs))
    avgdl = F.lit(float(sum_dl)) / n
    scored = posts.join(F.broadcast(dfreq), "term")
    contrib = _bm25_contrib(
        F.col("tf"), F.col("df"), F.col("dl"), n, avgdl, k1, b
    )
    # pivot to fixed term order: each per-term agg sees ≤1 posting per
    # doc, so the final left-assoc chain reproduces bm25_search's
    # summation order exactly
    per_term = scored.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("term") == t, contrib)).alias(f"c_{i}")
            for i, t in enumerate(query_terms)
        ]
    )
    score = F.coalesce(F.col("c_0"), F.lit(0.0))
    for i in range(1, len(query_terms)):
        score = score + F.coalesce(F.col(f"c_{i}"), F.lit(0.0))
    ranked = (
        per_term.select(F.col("doc_id"), F.round(score, 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(top_k)
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return ranked.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "rank", "score"
    )


def upsert_text_index(
    lake,
    new_docs: DataFrame,
    name: str = "bm25",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Incremental index maintenance (the ivf_upsert_index analogue):
    merge ``new_docs`` into the live doclens + postings tables and
    recompute the manifest totals — history is never re-tokenized.

    A re-imported doc_id replaces ALL its prior rows, including
    postings in buckets its new terms no longer touch
    (Lake.merge_replace's moved-key handling on key=doc_id).

    REPLAY-SAFE by construction, which is what the streaming
    exactly-once contract rests on: every step is either an
    idempotent replace-by-key merge or a recompute-from-state
    (manifest totals re-derived from the doclens table actually on
    disk, NOT incrementally reconciled against the previous
    manifest). A crash after any subset of the merges, followed by a
    full replay of the batch, converges to the same index as a
    one-shot build — an incremental n_docs±delta scheme would
    double-subtract a half-applied batch. Zero-token docs live in
    doclens (one row per doc), so they count exactly once no matter
    how often their batch replays.

    Bucket granularity caveat: term-hash buckets mean a text-rich
    doc touches most postings buckets, so the partition-granular
    rewrite pays off mainly for small/targeted upserts; the doclens
    merge is pruned by the doc-id bucket. Centroids-equivalent state
    (the tokenizer) is static, so unlike IVF there is nothing to
    re-train.
    """
    _require_unique_ids(new_docs, id_col)
    m = read_manifest(lake, f"{name}_stats", "upsert_text_index")[0]
    n_buckets = int(m["n_buckets"])
    doclens, postings = _index_frames(new_docs, id_col, text_col, n_buckets)
    lake.merge_replace(m["doclens_table"], doclens, "bucket", "doc_id")
    # postings deletion is driven by the batch's FULL doc-id set
    # (doclens has one row per doc, zero-token docs included), not by
    # the ids that happen to appear in the new postings frame — a doc
    # re-imported with text that tokenizes to nothing must still have
    # its old postings removed ('upsert == rebuild' contract).
    lake.merge_replace(
        m["postings_table"],
        postings,
        "bucket",
        "doc_id",
        keys=doclens.select("doc_id"),
    )
    commit(
        lake,
        f"{name}_stats",
        _stats_manifest(lake, m["postings_table"], m["doclens_table"], n_buckets),
    )


def tfidf_top_terms(
    docs: DataFrame,
    top_k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k terms by tf·idf — the keyword-extraction
    complement to bm25_search (which ranks docs for a query; this
    ranks terms for a doc).

    Integer scoring end-to-end: idf_micro = round(ln(N/df)·1e6) as
    BIGINT (the module's micro-quantized-ln rule — ln is the only
    non-correctly-rounded op, so it is snapped once), and
    score_micro = tf · idf_micro, an exact integer product. Corpus-
    universal terms (df = N) score exactly 0 and rank last; ties
    break on the term string, so the top-k SET AND ORDER are pure
    functions of the corpus — exact-hash oracle.

    Plan shape: one exchange on (doc_id, term) for tf (map-side
    partial counts), one on term for df — derived by re-aggregating
    the tf frame, never re-scanning the corpus (the lm_score_backoff
    lesson from round 7) — a 1-row stats broadcast for N, and a
    per-doc window (partitioned rank, no global sort).

    Output: (doc_id, term, tf, df, score_micro, rank), rank ≤ top_k.
    """
    tf = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        # persisted: df re-aggregates THIS frame — without the cache
        # Catalyst re-scans and re-explodes the corpus for the df
        # branch (no subtree sharing across join branches)
        .persist()
    )
    tf = cacheutil.track(tf)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score_micro",
            F.col("tf")
            * F.round(
                F.log(F.col("n_docs").cast("double") / F.col("df").cast("double"))
                * 1e6
            ).cast("bigint"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("doc_id", "term", "tf", "df", "score_micro", "rank")
    )


def hashed_tfidf_vectors(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashed tf·idf document vectors (the hashing trick,
    Weinberger et al. 2009) — the text→vector bridge that gives every
    document a fixed-``dim`` sparse embedding with NO trained model
    and NO vocabulary table: bucket j = md5(term) mod dim, sign ± from
    the next md5 hex digit (the signed sum makes collisions cancel in
    expectation instead of biasing upward), weight = tf · idf_micro
    (this module's micro-quantized-ln rule). All-integer accumulation
    ⇒ the vectors are a pure function of the corpus, replayable
    bit-for-bit by the oracle.

    Output is the EXPLODED sparse form (doc_id, j, w_micro), non-zero
    buckets only — the shape the sparse-cosine search consumes
    directly, and (unlike an array column) scalar-hashable by the
    driver's canonicalizer. Plan: the tfidf_top_terms tf/df shape
    (tf persisted, df re-aggregated from it, 1-row N broadcast) plus
    one (doc_id, j) aggregation. Zero UDFs.
    """
    tf = (
        docs.select(
            F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    tf = cacheutil.track(tf)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.select(F.count(F.lit(1)).alias("n_docs"))
    h = F.md5(F.col("term"))
    bucket = (hex_to_long(F.substring(h, 1, 12)) % dim).cast("int")
    sign = F.when(
        F.substring(h, 13, 1).isin("0", "1", "2", "3", "4", "5", "6", "7"),
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            bucket.alias("j"),
            (
                sign
                * F.col("tf")
                * F.round(
                    F.log(
                        F.col("n_docs").cast("double") / F.col("df").cast("double")
                    )
                    * 1e6
                ).cast("bigint")
            ).alias("t_micro"),
        )
        .groupBy("doc_id", "j")
        .agg(F.sum("t_micro").alias("w_micro"))
        .filter(F.col("w_micro") != 0)
    )


def hashed_vector_topk(
    docs: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_queries: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact cosine top-k over the hashed tf·idf vectors — full-text
    similarity search with no embedding model: the first
    ``n_queries`` doc ids (mod rule: doc_id < n_queries) probe the
    whole corpus. Sparse dot product via ONE equi-join on the bucket
    index (never a dense d-wide array); dot and squared-norm sums are
    exact wide integers (DECIMAL(38,0) — BIGINT would wrap on
    large/repetitive documents while the oracle sums in HUGEINT);
    norms and the final cosine in double rounded to 6dp for the
    cross-engine ranking rule shared with every exact top-k entry.

    Scale shape: vectors are (doc_id, j, w) rows; the query side is
    a bounded broadcast; the dot-product join shuffles nothing (the
    corpus side aggregates per (query, doc) with map-side partials
    after a broadcast join on j). Output: (query_id, neighbor_id,
    rank, cosine).
    """
    vecs = cacheutil.track(
        hashed_tfidf_vectors(docs, dim, id_col, text_col).persist()
    )
    # Exact wide-integer sums: w_micro ~ tf·idf·1e6, so BIGINT sums of
    # squared terms (~1e16 each) silently wrap on large/repetitive
    # documents while the DuckDB oracle sums the same products in
    # HUGEINT.  Casting each factor to DECIMAL(19,0) makes the product
    # DECIMAL(38,0) — exact to 1e38, same integer the oracle computes —
    # and only the final cast surfaces a double (no decimal output).
    _wide = F.col("w_micro").cast("decimal(19,0)")
    norms = vecs.groupBy("doc_id").agg(
        F.sqrt(F.sum(_wide * _wide).cast("double")).alias("nrm")
    )
    qv = vecs.filter(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("query_id"), "j", F.col("w_micro").alias("qw")
    )
    dots = (
        vecs.join(F.broadcast(qv), "j")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", F.col("doc_id").alias("neighbor_id"))
        .agg(
            F.sum(
                F.col("w_micro").cast("decimal(19,0)")
                * F.col("qw").cast("decimal(19,0)")
            ).alias("dot_micro2")
        )
    )
    qn = norms.select(F.col("doc_id").alias("query_id"), F.col("nrm").alias("qn"))
    cn = norms.select(F.col("doc_id").alias("neighbor_id"), F.col("nrm").alias("cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        dots.join(F.broadcast(qn), "query_id")
        .join(cn, "neighbor_id")
        .withColumn(
            "cos",
            F.round(
                F.col("dot_micro2").cast("double") / (F.col("qn") * F.col("cn")), 6
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.col("cos").alias("cosine"))
    )
