"""N-gram language-model quality filtering — the CCNet-style LM
perplexity gate (Wenzek et al. 2020: score web text against an
in-domain LM; keep the head of the per-doc perplexity distribution).

Spark-first shape, all JVM expressions:
- TRAIN: unigram/bigram counts are one explode + one map-side-
  combining groupBy each — the classic distributed LM count job.
  The model is two DataFrames of exact integers (no floats stored).
- SCORE: each doc's positional bigrams join the count tables on the
  gram key (shuffle equi-joins; hot function words are exactly the
  AQE-skew-split case measured in tools/skew_bench.py), and the
  per-position add-one log-probability is INTEGER micro-nats:
  round(ln(c12+1)·1e6) − round(ln(c1+V)·1e6) as BIGINT. The per-doc
  total is then an integer SUM — associative, order-independent,
  bit-exact across partitionings and engines. The ln is snapped to
  1e-6 exactly like BM25's micro-quantized idf (operators/search.py),
  the engine's one precedent for a non-correctly-rounded op inside a
  parity score.

Scale: counts and scoring are linear scans + two count-table joins;
nothing is ever collected to the driver and the model tables shuffle
only on their own keys. A 5-gram KenLM upgrade swaps the gram column;
the plumbing is n-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fxa_activity_metrics_spark.operators.dedup import tokens

from fxa_activity_metrics_spark import cacheutil


def _positional_ngrams(text_col: str, n: int) -> F.Column:
    """Array<struct<w1..wn>> of consecutive n-token windows, in
    document order, duplicates kept — the n-agnostic core. Built from
    n top-level slices folded with zip_with, the same construction as
    dedup.shingles: no expression inside a HOF lambda that isn't a
    bound var (per-element re-evaluation trap)."""
    if n < 2:
        raise ValueError("n-gram order must be >= 2")
    toks = tokens(text_col)
    length = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.zip_with(
        F.slice(toks, 1, length),
        F.slice(toks, 2, length),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    def _extend(fields: tuple[str, ...], k: int):
        # closure factory: pyspark introspects HOF-lambda arity, so
        # the loop vars can't ride in as defaulted params
        def merge(p, c):
            return F.struct(*[p[f].alias(f) for f in fields], c.alias(f"w{k}"))

        return merge

    for k in range(3, n + 1):
        out = F.zip_with(
            out,
            F.slice(toks, k, length),
            _extend(tuple(f"w{i}" for i in range(1, k)), k),
        )
    return out


def _positional_bigrams(text_col: str) -> F.Column:
    """Array<struct<w1,w2>> of consecutive token pairs (n=2 case of
    ``_positional_ngrams``, kept as the parity-stable bigram name)."""
    return _positional_ngrams(text_col, 2)


def lm_counts(
    corpus: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Train the count model: (unigrams, bigrams) DataFrames.

    unigrams: (w1, c1)  — token occurrence counts;
    bigrams:  (w1, w2, c12) — consecutive-pair occurrence counts.
    Exact integers; one shuffle each (map-side combine)."""
    toks = corpus.select(F.explode(tokens(text_col)).alias("w1"))
    unigrams = toks.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    pairs = corpus.select(F.explode(_positional_bigrams(text_col)).alias("bg"))
    bigrams = (
        pairs.select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
    )
    return unigrams, bigrams


def _micro_ln(x: F.Column) -> F.Column:
    """ln snapped to integer micro-nats (the BM25 idf trick): the one
    non-correctly-rounded op becomes an exact BIGINT both engines
    agree on."""
    return F.round(F.log(x.cast("double")) * 1e6).cast("bigint")


def _avg_6dp(total_micro: F.Column, n: F.Column) -> F.Column:
    """round(total_micro / 1e6 / n, 6) exactly as the DuckDB oracle
    rounds it: the quotient in binary64, then quotient·1e6 rounded
    half away from zero to an integer and scaled back. Spark's
    round(x, 6) instead rounds the shortest decimal string of x, which
    on an exact half-tie can sit just inside the half and round toward
    zero: −81 657 012 µnats over 24 grams is −3.4023755, and round()
    gives −3.402375 where the oracle gives −3.402376. Rounding the
    same binary64 product makes the two engines agree on every input,
    ties included. (Exact decimal HALF_UP would not: the oracle's own
    binary64 quotient lands below the half on some true ties.)"""
    x = total_micro.cast("double") / 1e6 / n.cast("double")
    return F.round(x * 1e6, 0) / 1e6


def lm_score(
    corpus: DataFrame,
    model_corpus: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    counts: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Per-document add-one bigram log-probability against a count
    model trained on ``model_corpus`` (defaults to ``corpus`` itself —
    the self-scoring regime; pass an in-domain corpus for the CCNet
    setup). Docs with fewer than 2 tokens have no bigrams and are
    absent from the output (nothing to score).

    Output: (doc_id, n_bigrams, logprob_micro, avg_logprob) where
    logprob_micro = Σ round(ln(c12+1)·1e6) − round(ln(c1+V)·1e6)
    over the doc's bigrams (BIGINT — order-independent), V = model
    vocabulary size, and avg_logprob = round(logprob_micro / 1e6 /
    n_bigrams, 6). Higher = more in-domain; filter on it with
    ``lm_filter``.

    ``counts``: a prebuilt (unigrams, bigrams) model — e.g. lake
    tables maintained by streaming/lm_stream.py or built once per
    session — skips the model training scan entirely (exact counts,
    so persisted and in-session models are interchangeable).
    """
    if counts is not None:
        unigrams, bigrams = counts
    else:
        unigrams, bigrams = lm_counts(
            model_corpus if model_corpus is not None else corpus,
            id_col, text_col,
        )
    return lm_score_with_counts(corpus, unigrams, bigrams, id_col, text_col)


def lm_score_with_counts(
    corpus: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score against EXTERNAL count frames — the shared core of
    lm_score (in-session counts) and the streaming-maintained lake
    model (streaming/lm_stream.py): same joins, same integer
    micro-nat arithmetic, so in-session and persisted models are
    interchangeable by construction."""
    vocab = unigrams.agg(F.count(F.lit(1)).alias("v"))
    bg = corpus.select(
        F.col(id_col).alias("doc_id"), F.explode(_positional_bigrams(text_col)).alias("bg")
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    scored = (
        bg.join(bigrams, ["w1", "w2"], "left")
        .join(unigrams, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (
                _micro_ln(F.coalesce(F.col("c12"), F.lit(0)) + 1)
                - _micro_ln(F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("lp").alias("logprob_micro"),
        _avg_6dp(F.sum("lp"), F.count(F.lit(1))).alias("avg_logprob"),
    )


def _padded_ngrams(text_col: str, n: int) -> F.Column:
    """Array<struct<w1..wn>> of n-windows over the token array padded
    with n−1 trailing NULLs — one window HEADED by every token, so a
    single exploded relation carries every gram order at once: w1
    alone is the unigram stream, (w1,w2) with w2 non-null the bigram
    stream, etc. Tokens are split on ' ' and can never be NULL, so
    NULL marks padding unambiguously. Same shifted-slice zip_with
    construction as _positional_ngrams (no non-bound expression
    inside a HOF lambda)."""
    if n < 2:
        raise ValueError("n-gram order must be >= 2")
    toks = tokens(text_col)
    padded = F.concat(
        toks, F.array_repeat(F.lit(None).cast("string"), n - 1)
    )
    length = F.size(toks)
    out = F.zip_with(
        F.slice(padded, 1, length),
        F.slice(padded, 2, length),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )

    def _extend(fields: tuple[str, ...], k: int):
        def merge(p, c):
            return F.struct(*[p[f].alias(f) for f in fields], c.alias(f"w{k}"))

        return merge

    for k in range(3, n + 1):
        out = F.zip_with(
            out,
            F.slice(padded, k, length),
            _extend(tuple(f"w{i}" for i in range(1, k)), k),
        )
    return out


def lm_gram_rollup(
    model: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """ALL gram tables (orders 1..n, plus the token grand total) from
    ONE model scan and ONE corpus-scale shuffle (VERDICT r7 #7 — the
    previous per-order lm_ngram_counts calls cost lm_score_backoff
    six model scans): explode the padded n-windows (_padded_ngrams)
    and count at the FINEST grain only, then derive each lower order
    by re-aggregating the count table itself — every token heads
    exactly one padded window, so summing order-j+1 counts over the
    last key yields exactly the order-j positional counts (doc-tail
    padding rows included, marked by NULL keys and filtered by the
    accessor). The derived aggregations are vocabulary-scale, not
    corpus-scale, and Spark's ReuseExchange serves them all from the
    one n-gram shuffle. (Chosen over GROUP BY ROLLUP, whose ×(n+1)
    pre-aggregation row expansion made materialization ~3× dearer for
    the same output.)

    Output schema matches grouping-sets convention: (w1..wn, cn, gid)
    with gid = (1 << (n−j)) − 1 for the order-j slice and the
    all-ones gid carrying the token grand total. Callers slice with
    lm_gram_table and should persist the frame when probing more than
    once (the model is the small, reused side — cache the model, not
    the corpus)."""
    cols = [f"w{i}" for i in range(1, n + 1)]
    grams = model.select(F.explode(_padded_ngrams(text_col, n)).alias("g"))
    level = (
        grams.select(*[F.col(f"g.{c}").alias(c) for c in cols])
        .groupBy(*cols)
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    levels = {n: level}
    for j in range(n - 1, 0, -1):
        level = level.groupBy(*cols[:j]).agg(F.sum("cn").alias("cn"))
        levels[j] = level
    null_s = F.lit(None).cast("string")
    parts = []
    for j, df in levels.items():
        gid = (1 << (n - j)) - 1
        parts.append(
            df.select(
                *[F.col(c) for c in cols[:j]],
                *[null_s.alias(c) for c in cols[j:]],
                F.col("cn"),
                F.lit(gid).alias("gid"),
            )
        )
    total = levels[1].agg(F.sum("cn").alias("cn"))
    parts.append(
        total.select(
            *[null_s.alias(c) for c in cols],
            F.col("cn"),
            F.lit((1 << n) - 1).alias("gid"),
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def lm_gram_table(rollup: DataFrame, j: int, n: int = 3) -> DataFrame:
    """Slice the order-j gram counts out of an lm_gram_rollup(n)
    frame: gid selects the (w1..wj) grouping set, the non-null guard
    drops doc-tail padding groups. Output: (w1..wj, cn)."""
    gid = (1 << (n - j)) - 1
    keep = [f"w{i}" for i in range(1, j + 1)]
    out = rollup.filter(F.col("gid") == gid)
    for c in keep:
        out = out.filter(F.col(c).isNotNull())
    return out.select(*keep, "cn")


def lm_ngram_counts(
    corpus: DataFrame, n: int, text_col: str = "text"
) -> DataFrame:
    """Order-n gram counts: (w1..wn, cn) — one explode + one
    map-side-combining groupBy, the same job shape at every n (the
    n-agnostic claim, made concrete)."""
    cols = [f"w{i}" for i in range(1, n + 1)]
    grams = corpus.select(F.explode(_positional_ngrams(text_col, n)).alias("g"))
    return (
        grams.select(*[F.col(f"g.{c}").alias(c) for c in cols])
        .groupBy(*cols)
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )


def lm_score_ngram(
    corpus: DataFrame,
    n: int,
    model_corpus: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    rollup: DataFrame | None = None,
) -> DataFrame:
    """Per-document add-one order-n log-probability — the GENERIC
    scorer behind the bigram ``lm_score`` (n=2 is pinned bit-identical
    to it in tests). Per position: P(wn | w1..wn-1) = (c(w1..wn) + 1)
    / (c(w1..wn-1) + V), the textbook add-one estimate with the
    (n-1)-gram context count in the denominator (for n=2 that context
    count IS the unigram count; doc-final contexts with no continuation
    still count, the standard convention). Same integer micro-nat
    arithmetic, so the sum is order-independent and cross-engine
    exact.

    Plan shape at any n: explode → two count groupBys (model) → two
    gram-key equi-joins (broadcast at small model sizes, AQE-skew-
    split at scale) → integer sum. Nothing about the physical plan
    changes with n except the join key width — which is the point.

    Output: (doc_id, n_grams, logprob_micro, avg_logprob); docs with
    fewer than n tokens are absent (nothing to score).
    """
    model = model_corpus if model_corpus is not None else corpus
    gram_cols = [f"w{i}" for i in range(1, n + 1)]
    ctx_cols = gram_cols[:-1]
    # one model scan for every gram order (VERDICT r7 #7): the rollup
    # is the persisted model side, probed by the n-gram join, the
    # context join, and the vocab aggregate. A prebuilt ``rollup``
    # (an lm_gram_rollup(n) lake table) skips model training.
    rolled = (
        rollup
        if rollup is not None
        else cacheutil.track(lm_gram_rollup(model, n, text_col).persist())
    )
    unigrams = lm_gram_table(rolled, 1, n).withColumnRenamed("cn", "c1")
    vocab = unigrams.agg(F.count(F.lit(1)).alias("v"))
    grams_n = lm_gram_table(rolled, n, n)
    if n == 2:
        ctx = unigrams.select(F.col("w1"), F.col("c1").alias("cctx"))
    else:
        ctx = lm_gram_table(rolled, n - 1, n).withColumnRenamed("cn", "cctx")
    doc_grams = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_positional_ngrams(text_col, n)).alias("g"),
    ).select("doc_id", *[F.col(f"g.{c}").alias(c) for c in gram_cols])
    scored = (
        doc_grams.join(grams_n, gram_cols, "left")
        .join(ctx, ctx_cols, "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (
                _micro_ln(F.coalesce(F.col("cn"), F.lit(0)) + 1)
                - _micro_ln(F.coalesce(F.col("cctx"), F.lit(0)) + F.col("v"))
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum("lp").alias("logprob_micro"),
        _avg_6dp(F.sum("lp"), F.count(F.lit(1))).alias("avg_logprob"),
    )


def lm_score_backoff(
    corpus: DataFrame,
    model_corpus: DataFrame | None = None,
    alpha: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
    rollup: DataFrame | None = None,
) -> DataFrame:
    """Stupid Backoff trigram scoring (Brants et al. 2007, "Large
    Language Models in Machine Translation") — the backoff scheme
    DESIGNED for distributed count-based LMs: no discount
    normalization pass (which needs context-global statistics), just
    relative frequencies with a fixed backoff penalty, so the whole
    score stays join + integer arithmetic:

        S(w3|w1w2) = c123/c12            if c123 > 0
                   = α · c23/c2          elif c23 > 0
                   = α² · (c3+1)/(N+V)   otherwise

    (the last line adds the engine's add-one floor so an
    out-of-vocabulary token scores finitely instead of log 0 — the
    one deviation from the paper, which simply skips OOV; a filter
    cannot skip, it must rank). Per-position log-score in INTEGER
    micro-nats: each branch is a difference of `_micro_ln` BIGINTs
    plus 1×/2× the micro-log of α (a driver-side literal), so the
    per-doc sum is order-independent and cross-engine exact — same
    contract as lm_score / lm_score_ngram.

    Plan shape: ONE persisted model rollup (lm_gram_rollup — every
    gram order from a single scan+shuffle) probed by FIVE count-table
    left joins (trigram, context-bigram, backoff-bigram, two unigram
    probes) + a 1-row broadcast stats frame → integer sum. All
    gram-key equi-joins —
    broadcast at small model sizes, AQE-skew-split at scale; the
    hot-function-word skew case is the measured one in
    tools/skew_bench.py.

    Output: (doc_id, n_grams, score_micro, avg_score); docs under 3
    tokens are absent. avg_score is display-only (6dp) — compose a
    gate on the integer fields, the lm_filter precedent.
    """
    import math

    model = model_corpus if model_corpus is not None else corpus
    log_alpha_micro = int(round(math.log(alpha) * 1e6))

    # ONE model scan + one rollup shuffle feeds the trigram table,
    # both bigram probes, both unigram probes, and the stats frame
    # (VERDICT r7 #7 — previously three independent explode+groupBy
    # jobs, six model scans in the recorded plan)
    rolled = (
        rollup
        if rollup is not None
        else cacheutil.track(lm_gram_rollup(model, 3, text_col).persist())
    )
    unigrams = lm_gram_table(rolled, 1, 3).select(
        F.col("w1").alias("w"), F.col("cn").alias("c")
    )
    bigrams = lm_gram_table(rolled, 2, 3).withColumnRenamed("cn", "c2g")
    trigrams = lm_gram_table(rolled, 3, 3).withColumnRenamed("cn", "c3g")
    stats = unigrams.agg(
        F.sum("c").alias("n_tok"), F.count(F.lit(1)).alias("v")
    )

    doc_grams = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_positional_ngrams(text_col, 3)).alias("g"),
    ).select(
        "doc_id",
        F.col("g.w1").alias("w1"),
        F.col("g.w2").alias("w2"),
        F.col("g.w3").alias("w3"),
    )
    j = (
        doc_grams.join(trigrams, ["w1", "w2", "w3"], "left")
        .join(
            bigrams.select(
                F.col("w1"), F.col("w2"), F.col("c2g").alias("c12")
            ),
            ["w1", "w2"],
            "left",
        )
        .join(
            bigrams.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("c2g").alias("c23"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            unigrams.select(F.col("w").alias("w2"), F.col("c").alias("cu2")),
            ["w2"],
            "left",
        )
        .join(
            unigrams.select(F.col("w").alias("w3"), F.col("c").alias("cu3")),
            ["w3"],
            "left",
        )
        .crossJoin(F.broadcast(stats))
    )
    la = F.lit(log_alpha_micro).cast("bigint")
    lp = (
        F.when(
            F.coalesce(F.col("c3g"), F.lit(0)) > 0,
            _micro_ln(F.col("c3g")) - _micro_ln(F.col("c12")),
        )
        .when(
            F.coalesce(F.col("c23"), F.lit(0)) > 0,
            la + _micro_ln(F.col("c23")) - _micro_ln(F.col("cu2")),
        )
        .otherwise(
            la * 2
            + _micro_ln(F.coalesce(F.col("cu3"), F.lit(0)) + 1)
            - _micro_ln(F.col("n_tok") + F.col("v"))
        )
    )
    scored = j.select("doc_id", lp.alias("lp"))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum("lp").alias("score_micro"),
        _avg_6dp(F.sum("lp"), F.count(F.lit(1))).alias("avg_score"),
    )


def lm_buckets(
    corpus: DataFrame,
    model_corpus: DataFrame | None = None,
    n_buckets: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    counts: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """CCNet's actual selection step (Wenzek et al. 2020 §4.2): rank
    documents by LM score and cut the ranking into ``n_buckets``
    equal slices — bucket 1 = head (most in-domain), then middle,
    tail. A fixed threshold (lm_filter) drifts as the corpus mix
    drifts; the head/middle/tail cut is self-calibrating, which is
    why CCNet ships data by bucket.

    Rank-based, not value-threshold-based, so no float quantile is
    ever computed: documents order by (avg_logprob DESC, doc_id) —
    a total order both engines agree on bit-for-bit — through the
    distributed ``global_rank`` (range exchange + per-partition
    offsets, no single-task window), and bucket = (rank-1)·k div n
    + 1, exact integer arithmetic. Docs with no bigrams are absent
    (unscorable — the lm_filter convention).

    Output: (doc_id, avg_logprob, rank, bucket).
    """
    from fxa_activity_metrics_spark.operators.assembly import global_rank

    scored = lm_score(corpus, model_corpus, id_col, text_col, counts=counts)
    ranked = global_rank(
        scored,
        [F.col("avg_logprob").desc(), F.col("doc_id").asc()],
        out_col="rank",
        total_col="_n",
    )
    return ranked.select(
        "doc_id",
        "avg_logprob",
        "rank",
        (
            F.expr(f"(rank - 1) * {int(n_buckets)} div _n") + F.lit(1)
        ).cast("int").alias("bucket"),
    )


def lm_filter(
    corpus: DataFrame,
    min_avg_logprob: float,
    model_corpus: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    counts: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Keep documents whose average bigram log-probability clears the
    gate (the CCNet head/middle cut as a fixed threshold — percentile
    selection composes via value_percentiles upstream). Zero-bigram
    docs are dropped: an LM gate cannot vouch for unscorable text.

    The gate compares INTEGERS, not the rounded double:
    avg ≥ t  ⇔  logprob_micro ≥ round(t·1e6) · n_bigrams, exact
    BIGINT arithmetic on both engines. Thresholding on the 6dp
    ``avg_logprob`` would let a representable half-tie (e.g.
    n_bigrams=2 with an odd micro sum) flip membership between
    Spark's repr-then-HALF_UP round and DuckDB's binary round —
    ``avg_logprob`` stays display-only. Output: (doc_id,
    avg_logprob)."""
    threshold_micro = int(round(min_avg_logprob * 1e6))
    return (
        lm_score(corpus, model_corpus, id_col, text_col, counts=counts)
        .filter(
            F.col("logprob_micro")
            >= F.lit(threshold_micro) * F.col("n_bigrams")
        )
        .select("doc_id", "avg_logprob")
    )
