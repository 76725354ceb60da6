"""LM quality filtering (CCNet-style bigram perplexity gate):
pure-Python reference parity, order-independence of the integer
micro-nat sum, edge semantics, and the zero-UDF plan contract."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from fxa_activity_metrics_spark.operators.lmfilter import (
    lm_counts,
    lm_filter,
    lm_score,
)

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the cat sat"),
    (3, "dogs bark"),
    (4, "single"),
    (5, ""),
    (6, "the the the the"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _py_reference():
    """Classic add-one bigram LM over DOCS, integer micro-nats."""
    toks = {i: [t for t in s.split(" ") if t] for i, s in DOCS}
    uni: dict[str, int] = {}
    bg: dict[tuple[str, str], int] = {}
    for ts in toks.values():
        for t in ts:
            uni[t] = uni.get(t, 0) + 1
        for a, b in zip(ts, ts[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
    v = len(uni)

    def micro(x: float) -> int:
        return int(math.floor(x * 1e6 + 0.5)) if x >= 0 else -int(
            math.floor(-x * 1e6 + 0.5)
        )

    out = {}
    for i, ts in toks.items():
        pairs = list(zip(ts, ts[1:]))
        if not pairs:
            continue
        lp = sum(
            micro(math.log(bg[(a, b)] + 1)) - micro(math.log(uni[a] + v))
            for a, b in pairs
        )
        # Spark's round(col, 6) is BigDecimal.valueOf(double) — i.e.
        # Double.toString first, THEN decimal HALF_UP (so the literal
        # -1.4067055 rounds to -1.406706 even though its exact binary
        # value sits just below the tie). Emulate via repr().
        from decimal import ROUND_HALF_UP, Decimal

        avg = float(
            Decimal(repr(lp / 1e6 / len(pairs))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        out[i] = (len(pairs), lp, avg)
    return out


def test_counts_match_python_reference(spark, docs):
    uni, bg = lm_counts(docs)
    got_uni = {r["w1"]: r["c1"] for r in uni.collect()}
    got_bg = {(r["w1"], r["w2"]): r["c12"] for r in bg.collect()}
    assert got_uni["the"] == 7 and got_uni["cat"] == 2 and got_uni["single"] == 1
    assert got_bg[("the", "cat")] == 2
    assert got_bg[("the", "the")] == 3
    assert ("single", "single") not in got_bg
    assert sum(got_uni.values()) == sum(len([t for t in s.split() if t]) for _, s in DOCS)


def test_scores_match_python_reference(spark, docs):
    want = _py_reference()
    got = {
        r["doc_id"]: (r["n_bigrams"], r["logprob_micro"], r["avg_logprob"])
        for r in lm_score(docs).collect()
    }
    assert got == want
    # zero/one-token docs are unscorable and absent
    assert 4 not in got and 5 not in got


def test_score_is_partitioning_invariant(spark, docs):
    """The integer micro-nat sum must be bit-identical under any
    physical partitioning — the property float sums don't have."""
    a = sorted(map(tuple, lm_score(docs).collect()))
    b = sorted(map(tuple, lm_score(docs.repartition(13, "text")).collect()))
    assert a == b


def test_repeated_text_scores_higher_than_rare(spark, docs):
    got = {r["doc_id"]: r["avg_logprob"] for r in lm_score(docs).collect()}
    # doc 6 is pure repetition of the most frequent bigram in the
    # model — it must out-score the rare-bigram doc 3
    assert got[6] > got[3]


def test_filter_threshold_and_columns(spark, docs):
    """The gate is exact integer arithmetic on the UNROUNDED score:
    avg ≥ t ⇔ logprob_micro ≥ round(t·1e6)·n_bigrams. Expected
    membership is computed from the integer fields, not the 6dp
    display value (whose rounding could flip a borderline doc)."""
    rows = lm_score(docs).collect()
    scores = {r["doc_id"]: r["avg_logprob"] for r in rows}
    cut = sorted(scores.values())[len(scores) // 2]
    cut_micro = int(round(cut * 1e6))
    kept = lm_filter(docs, cut)
    assert kept.columns == ["doc_id", "avg_logprob"]
    got = {r["doc_id"] for r in kept.collect()}
    assert got == {
        r["doc_id"]
        for r in rows
        if r["logprob_micro"] >= cut_micro * r["n_bigrams"]
    }


def test_filter_half_tie_is_engine_stable(spark):
    """A representable 6dp half-tie (odd micro sum over n_bigrams=2)
    must gate on the exact integer value: raw avg sits BELOW the
    HALF_UP-rounded display value, so a threshold equal to the
    rounded value excludes the doc — on both engines, because no
    double rounding is consulted."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b"), (3, "b c")], "doc_id long, text string"
    )
    row = lm_score(docs).where("doc_id = 1").collect()[0]
    assert row["n_bigrams"] == 2 and row["logprob_micro"] % 2 == 1, (
        "fixture must produce an odd micro sum over 2 bigrams "
        "(exact dyadic half-tie)"
    )
    display = row["avg_logprob"]  # the 6dp HALF_UP-rounded tie
    raw_micro_x2 = row["logprob_micro"]  # = 2 × raw avg in micro-nats (odd)
    kept = {r["doc_id"] for r in lm_filter(docs, display).collect()}
    # membership must equal the exact-integer predicate, regardless of
    # which side the display value rounded to
    expect_kept = raw_micro_x2 >= int(round(display * 1e6)) * 2
    assert (1 in kept) == expect_kept


def test_avg_rounding_matches_duckdb_on_half_ties(spark):
    """avg_logprob rounds exactly as the DuckDB oracle does, exact
    half-ties included: −81 657 012 µnats over 24 grams (= −3.4023755)
    is −3.402376 on both engines, and a sweep of ties at several gram
    counts agrees value for value."""
    import random

    import duckdb

    from fxa_activity_metrics_spark.operators.lmfilter import _avg_6dp

    rng = random.Random(7)
    pairs = [(-81657012, 24)] + [
        (n * (2 * j + 1) // 2, n)
        for n, j in (
            (rng.choice([2, 4, 8, 16, 24, 50, 64, 200]), rng.randint(-20_000_000, 0))
            for _ in range(300)
        )
    ]
    got = {
        (r["l"], r["n"]): r["avg"]
        for r in spark.createDataFrame(pairs, "l long, n long")
        .select("l", "n", _avg_6dp(F.col("l"), F.col("n")).alias("avg"))
        .collect()
    }
    assert got[(-81657012, 24)] == -3.402376
    con = duckdb.connect()
    want = {
        (l, n): con.execute(f"SELECT round({l} / 1e6 / {n}, 6)").fetchone()[0]
        for l, n in pairs
    }
    assert got == want


def test_in_domain_model_corpus(spark, docs):
    """CCNet setup: score against a DIFFERENT (in-domain) model. A doc
    made of the model's frequent bigrams must out-score one made of
    out-of-vocabulary tokens."""
    model = docs.where("doc_id <= 2")
    probe = spark.createDataFrame(
        [(10, "the cat sat"), (11, "zebra quark flux")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["avg_logprob"] for r in lm_score(probe, model_corpus=model).collect()}
    assert got[10] > got[11]


def test_plan_is_jvm_only(spark, docs):
    plan = lm_score(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan, "scoring must stay JVM-side"


# ---------------------------------------------------------------------------
# Generic order-n scorer (the n-agnostic plumbing, proven)
# ---------------------------------------------------------------------------


def _py_reference_n(docs, n):
    """Add-one order-n LM over ``docs``, integer micro-nats —
    generalizes _py_reference."""
    toks = {i: [t for t in s.split(" ") if t] for i, s in docs}
    uni: dict[str, int] = {}
    grams: dict[tuple, int] = {}
    ctxs: dict[tuple, int] = {}
    for ts in toks.values():
        for t in ts:
            uni[t] = uni.get(t, 0) + 1
        for j in range(len(ts) - n + 1):
            g = tuple(ts[j : j + n])
            grams[g] = grams.get(g, 0) + 1
        for j in range(len(ts) - n + 2):
            c = tuple(ts[j : j + n - 1])
            if len(c) == n - 1:
                ctxs[c] = ctxs.get(c, 0) + 1
    v = len(uni)
    ctx_counts = (
        {(w,): c for w, c in uni.items()} if n == 2 else ctxs
    )

    def micro(x: float) -> int:
        return int(math.floor(x * 1e6 + 0.5)) if x >= 0 else -int(
            math.floor(-x * 1e6 + 0.5)
        )

    out = {}
    for i, ts in toks.items():
        windows = [tuple(ts[j : j + n]) for j in range(len(ts) - n + 1)]
        if not windows:
            continue
        lp = sum(
            micro(math.log(grams[g] + 1))
            - micro(math.log(ctx_counts.get(g[:-1], 0) + v))
            for g in windows
        )
        from decimal import ROUND_HALF_UP, Decimal

        avg = float(
            Decimal(repr(lp / 1e6 / len(windows))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        out[i] = (len(windows), lp, avg)
    return out


def test_generic_n2_is_bitwise_identical_to_bigram_scorer(spark, docs):
    from fxa_activity_metrics_spark.operators.lmfilter import lm_score_ngram

    a = sorted(map(tuple, lm_score(docs).collect()))
    b = sorted(map(tuple, lm_score_ngram(docs, 2).collect()))
    assert a == b


def test_trigram_matches_python_reference(spark, docs):
    from fxa_activity_metrics_spark.operators.lmfilter import lm_score_ngram

    want = _py_reference_n(DOCS, 3)
    got = {
        r["doc_id"]: (r["n_grams"], r["logprob_micro"], r["avg_logprob"])
        for r in lm_score_ngram(docs, 3).collect()
    }
    assert got == want
    # docs with < 3 tokens are unscorable at n=3
    assert 3 not in got and 4 not in got and 5 not in got


def test_bigram_and_trigram_order_differently(spark):
    """The crafted flip: doc 'p q r' has FREQUENT bigrams but a
    never-seen trigram; doc 's t u' occurs as a full trigram. Bigram
    scoring must prefer 'p q r'; trigram scoring must prefer
    's t u' — if the orders agreed, the trigram entry would add no
    modeling power over the bigram gate."""
    from fxa_activity_metrics_spark.operators.lmfilter import lm_score_ngram

    model_rows = (
        [(100 + i, "p q x") for i in range(20)]
        + [(200 + i, "y q r") for i in range(20)]
        + [(300 + i, "s t u") for i in range(5)]
    )
    model = spark.createDataFrame(model_rows, "doc_id long, text string")
    probes = spark.createDataFrame(
        [(1, "p q r"), (2, "s t u")], "doc_id long, text string"
    )
    bi = {
        r["doc_id"]: r["avg_logprob"]
        for r in lm_score(probes, model_corpus=model).collect()
    }
    tri = {
        r["doc_id"]: r["avg_logprob"]
        for r in lm_score_ngram(probes, 3, model_corpus=model).collect()
    }
    assert bi[1] > bi[2], "bigram gate must favor the frequent-bigram doc"
    assert tri[2] > tri[1], "trigram gate must favor the seen-trigram doc"


def test_trigram_plan_is_jvm_only_and_partitioning_invariant(spark, docs):
    from fxa_activity_metrics_spark.operators.lmfilter import lm_score_ngram

    df = lm_score_ngram(docs, 3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, lm_score_ngram(docs.repartition(13, "text"), 3).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# Stupid Backoff (Brants et al. 2007)
# ---------------------------------------------------------------------------


def _py_backoff(model_docs, probe_docs, alpha=0.4):
    """Pure-Python Stupid Backoff reference, integer micro-nats, with
    branch bookkeeping so tests can prove all three branches fired."""
    def toks(s):
        return [t for t in s.split(" ") if t]

    uni: dict[str, int] = {}
    bg: dict[tuple, int] = {}
    tg: dict[tuple, int] = {}
    for _, s in model_docs:
        ts = toks(s)
        for t in ts:
            uni[t] = uni.get(t, 0) + 1
        for a, b in zip(ts, ts[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
        for a, b, c in zip(ts, ts[1:], ts[2:]):
            tg[(a, b, c)] = tg.get((a, b, c), 0) + 1
    n_tok, v = sum(uni.values()), len(uni)

    def micro(x: float) -> int:
        return int(math.floor(x * 1e6 + 0.5)) if x >= 0 else -int(
            math.floor(-x * 1e6 + 0.5)
        )

    la = micro(math.log(alpha))
    out, branches = {}, set()
    for i, s in probe_docs:
        ts = toks(s)
        wins = list(zip(ts, ts[1:], ts[2:]))
        if not wins:
            continue
        lp = 0
        for w1, w2, w3 in wins:
            if tg.get((w1, w2, w3), 0) > 0:
                lp += micro(math.log(tg[(w1, w2, w3)])) - micro(math.log(bg[(w1, w2)]))
                branches.add("tri")
            elif bg.get((w2, w3), 0) > 0:
                lp += la + micro(math.log(bg[(w2, w3)])) - micro(math.log(uni[w2]))
                branches.add("bi")
            else:
                lp += 2 * la + micro(math.log(uni.get(w3, 0) + 1)) - micro(
                    math.log(n_tok + v)
                )
                branches.add("uni")
        from decimal import ROUND_HALF_UP, Decimal

        avg = float(
            Decimal(repr(lp / 1e6 / len(wins))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        out[i] = (len(wins), lp, avg)
    return out, branches


def test_backoff_matches_python_reference_all_branches(spark):
    """The fixture is built so every backoff branch fires: probe 1 is
    an in-model trigram (branch 1); probe 2's trigram is unseen but
    its (w2,w3) bigram exists (branch 2); probe 3 ends in an
    out-of-vocabulary token (branch 3, add-one floor)."""
    from fxa_activity_metrics_spark.operators.lmfilter import lm_score_backoff

    model_rows = [
        (1, "the cat sat on the mat"),
        (2, "a dog sat on a rug"),
    ]
    probe_rows = [
        (10, "the cat sat"),      # seen trigram
        (11, "a cat sat"),        # unseen trigram, seen (cat, sat)
        (12, "the cat zzz"),      # OOV tail -> unigram floor
        (13, "on the mat a dog sat"),  # mixed
    ]
    model = spark.createDataFrame(model_rows, "doc_id long, text string")
    probe = spark.createDataFrame(probe_rows, "doc_id long, text string")
    want, branches = _py_backoff(model_rows, probe_rows)
    assert branches == {"tri", "bi", "uni"}, "fixture must exercise all branches"
    got = {
        r["doc_id"]: (r["n_grams"], r["score_micro"], r["avg_score"])
        for r in lm_score_backoff(probe, model_corpus=model).collect()
    }
    assert got == want


def test_backoff_is_jvm_only_and_partitioning_invariant(spark, docs):
    from fxa_activity_metrics_spark.operators.lmfilter import lm_score_backoff

    df = lm_score_backoff(docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    a = sorted(map(tuple, df.collect()))
    b = sorted(
        map(tuple, lm_score_backoff(docs.repartition(13, "text")).collect())
    )
    assert a == b


def test_backoff_prefers_fluent_continuations(spark):
    """A doc of in-model trigrams must out-score a doc that backs off
    at every position — the ranking property the gate exists for."""
    from fxa_activity_metrics_spark.operators.lmfilter import lm_score_backoff

    model = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(5)],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "mat the on sat cat the")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["avg_score"]
        for r in lm_score_backoff(probe, model_corpus=model).collect()
    }
    assert got[1] > got[2]


# ---------------------------------------------------------------------------
# Distributed rank + CCNet head/middle/tail buckets
# ---------------------------------------------------------------------------


def test_global_rank_is_dense_total_and_partition_invariant(spark):
    from fxa_activity_metrics_spark.operators.assembly import global_rank

    rows = [(i, (i * 37) % 101) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, v long")
    ranked = {
        r["id"]: r["rank"]
        for r in global_rank(
            df, [F.col("v").desc(), F.col("id").asc()], total_col="n"
        ).collect()
    }
    want_order = [i for i, _ in sorted(rows, key=lambda t: (-t[1], t[0]))]
    assert ranked == {i: pos + 1 for pos, i in enumerate(want_order)}
    # physical partitioning must not change a single rank
    ranked13 = {
        r["id"]: r["rank"]
        for r in global_rank(
            df.repartition(13, "id"), [F.col("v").desc(), F.col("id").asc()]
        ).collect()
    }
    assert ranked13 == ranked
    # the plan must NOT contain a global single-partition window:
    # every Window sort key list includes the injected partition id
    plan = global_rank(df, [F.col("v").desc(), F.col("id").asc()])._jdf.queryExecution().executedPlan().toString()
    assert "_pid" in plan


def test_global_rank_empty_frame(spark):
    from fxa_activity_metrics_spark.operators.assembly import global_rank

    df = spark.createDataFrame([], "id long, v long")
    assert global_rank(df, [F.col("v"), F.col("id")]).count() == 0


def test_lm_buckets_equal_slices_and_head_quality(spark):
    from fxa_activity_metrics_spark.operators.lmfilter import lm_buckets

    # 9 scorable docs with strictly distinct scores (each appends a
    # growing tail of unique junk tokens, monotonically diluting the
    # in-model prefix) -> buckets of exactly 3/3/3
    rows = [
        (
            i,
            "the cat sat on the mat "
            + " ".join(f"z{i}x{j}" for j in range(i - 1)),
        )
        for i in range(1, 10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = lm_buckets(docs, n_buckets=3).collect()
    assert len(got) == 9
    from collections import Counter

    sizes = Counter(r["bucket"] for r in got)
    assert sizes == {1: 3, 2: 3, 3: 3}
    # ranks are a permutation of 1..9, rank order = score order, and
    # the head bucket is exactly the 3 best-scoring docs
    ranks = sorted(r["rank"] for r in got)
    assert ranks == list(range(1, 10))
    ordered = sorted(got, key=lambda r: r["rank"])
    scores = [r["avg_logprob"] for r in ordered]
    assert len(set(scores)) == 9, "fixture must produce distinct scores"
    assert scores == sorted(scores, reverse=True)
    assert [r["bucket"] for r in ordered] == [1, 1, 1, 2, 2, 2, 3, 3, 3]
    top3 = {r["doc_id"] for r in sorted(got, key=lambda r: -r["avg_logprob"])[:3]}
    assert {r["doc_id"] for r in got if r["bucket"] == 1} == top3


def test_rollup_slices_equal_lm_counts(spark, docs):
    """The r14 build derivation: lm_gram_rollup's order-1/order-2
    slices must be row-identical to lm_counts' unigram/bigram tables
    (every token heads exactly one padded window; order-2 rows with
    w2 non-null are exactly the consecutive-pair stream). _lm_model
    persists the rollup once and derives both count tables from it
    instead of re-exploding the corpus."""
    from fxa_activity_metrics_spark.operators.lmfilter import (
        lm_gram_rollup,
        lm_gram_table,
    )

    uni, bg = lm_counts(docs)
    rollup = lm_gram_rollup(docs, 3)
    uni2 = lm_gram_table(rollup, 1, 3).withColumnRenamed("cn", "c1")
    bg2 = lm_gram_table(rollup, 2, 3).withColumnRenamed("cn", "c12")
    assert sorted(map(tuple, uni.collect())) == sorted(map(tuple, uni2.collect()))
    assert sorted(map(tuple, bg.collect())) == sorted(map(tuple, bg2.collect()))
    assert dict(uni2.dtypes) == dict(uni.dtypes)
    assert dict(bg2.dtypes) == dict(bg.dtypes)
