"""Deduplication operators for large-scale text corpora.

Beyond the reference's surface (SURVEY §2 lists no dedup beyond
SELECT DISTINCT / dropDuplicates) — these are the training-data
pipeline operators, designed for 100 TB:

- exact_duplicates: hash-groupBy on a content digest. One shuffle on
  the digest; the digest (md5) is computed JVM-side.
- minhash_lsh_candidates: shingle → minhash → band → bucket-join.
  Candidate generation is groupBy-band (shuffle on band keys), never
  an all-pairs product; cost is O(docs × bands) rows.
- jaccard_pairs: verify candidate pairs with exact n-gram Jaccard.
- simhash: 32-bit signature via sign-sum of token-hash bits.

Everything is built-in Spark SQL expressions (transform/aggregate/
filter over arrays) — no Python UDFs — so the whole path stays inside
whole-stage codegen and Arrow never enters the picture.

Determinism contract: hashes are md5-of-UTF8 (identical in DuckDB),
so every operator here has an exact SQL oracle.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fxa_activity_metrics_spark import cacheutil


def tokens(text_col: str | F.Column = "text") -> F.Column:
    """Whitespace tokens, empties dropped. Matches the DuckDB oracle's
    list_filter(string_split(text, ' '), t -> t <> '')."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(c, " "), lambda t: t != "")


def shingles(
    text_col: str | F.Column = "text", n: int = 3, distinct: bool = True
) -> F.Column:
    """Word n-gram shingles as strings ("w1 w2 w3"), all JVM-side.

    Built by zip_with over n shifted slices of the token array —
    deliberately NOT a transform-with-index that slices the array
    inside the lambda: expressions referenced inside a higher-order
    lambda are re-evaluated PER ELEMENT, which turns the construction
    quadratic (and re-runs the upstream split per element). Here every
    reference to the token array sits at top level → once per row.
    Docs with fewer than n tokens get an empty shingle set.

    ``distinct=False`` keeps duplicate grams (positional gram list) —
    used by repetition detection, which needs the raw gram count."""
    toks = tokens(text_col)
    if n == 1:
        return F.array_distinct(toks) if distinct else toks
    length = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    z = F.slice(toks, 1, length)
    for i in range(1, n):
        z = F.zip_with(
            z, F.slice(toks, i + 1, length), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.array_distinct(z) if distinct else z


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: group by content digest; the lowest id is the
    keeper. Returns (content_hash, keeper_id, n_copies)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_signature(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 1,
) -> DataFrame:
    """MinHash signatures: sig[i] = min over shingles of the i-th
    32-bit hex chunk of the shingle's salted md5 digests (digest
    ⌊i/4⌋ — unsalted for 0, '{d}:'-prefixed otherwise — chunk i%4).
    String-min over fixed-width hex is numeric min; chunking packs
    FOUR hash functions per md5, so 8 hashes cost 2 digests per
    shingle instead of 8 (~3× faster signature pass), and the scheme
    is reproducible in any engine with md5+substring.
    Output: (id, sig array<string> of length num_hashes)."""
    # Single fold over the shingle set: acc holds the running minimum
    # per hash index, so the shingle expression appears exactly once
    # in the tree (a transform over hash indices would re-evaluate it
    # per index — per-lambda references re-run per element).
    n_digests = (num_hashes + 3) // 4
    sentinel = "~"  # sorts after every md5 hex chunk

    def hash_chunks(t: F.Column) -> F.Column:
        digs = F.array(
            *[
                F.md5(t) if d == 0 else F.md5(F.concat(F.lit(f"{d}:"), t))
                for d in range(n_digests)
            ]
        )
        # bind each digest via the inner lambda so md5 runs once per
        # digest — four substring references on a raw md5 expression
        # would re-hash per chunk
        chunks = F.flatten(
            F.transform(
                digs,
                lambda dg: F.transform(
                    F.sequence(F.lit(0), F.lit(3)),
                    lambda j: F.substring(dg, j * 8 + 1, F.lit(8)),
                ),
            )
        )
        return F.slice(chunks, 1, num_hashes)

    sh = shingles(text_col, shingle_n)
    sig = F.aggregate(
        sh,
        F.array_repeat(F.lit(sentinel), num_hashes),
        lambda acc, t: F.zip_with(
            acc,
            hash_chunks(t),
            lambda a, b: F.least(a, b),
        ),
    )
    # exclude docs with an empty shingle set (the SQL analogue drops
    # them via NULL-key join semantics). Filter on the CHEAP token
    # count, not on the signature: a predicate on the projected sig
    # gets pushed below the projection with the whole signature
    # expression substituted in — computing it twice per row.
    eligible = docs.filter(F.size(tokens(text_col)) >= max(shingle_n, 1))
    return eligible.select(F.col(id_col).alias("id"), sig.alias("sig"))


def signature_bands(
    sigs: DataFrame, num_hashes: int, band_size: int
) -> DataFrame:
    """(id, band_idx, band_key) rows from a signature table — the
    LSH banding step, shared by the one-shot candidate path and the
    incremental persisted-signature path (plans/dedup_incremental):
    band keys are a cheap slice+concat over the 8 stored hex chunks,
    so a persisted signature table never re-shingles its corpus."""
    n_bands = num_hashes // band_size
    return sigs.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.concat_ws(
                    "|", F.slice(F.col("sig"), b * band_size + 1, band_size)
                ),
            )
        ).alias("band_idx", "band_key"),
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: split the signature into bands of
    ``band_size``; docs sharing any band key are candidates.

    Scale path: explode to (band_idx, band_key, id) — docs × bands
    rows — then bucket on the band key and expand in-bucket pairs.
    One shuffle on (band_idx, band_key); no cross product, no
    self-join. Output: distinct (id_a, id_b) with id_a < id_b.
    """
    assert num_hashes % band_size == 0
    sigs = minhash_signature(docs, id_col, text_col, num_hashes, shingle_n)
    bands = signature_bands(sigs, num_hashes, band_size)
    # Bucket by band key and expand in-bucket combinations, instead of
    # a band self-join: signatures are computed once (a self-join
    # duplicates the whole shingle→md5 subtree on both sides) and the
    # shuffle carries (band_key, id) rows only. In-bucket expansion is
    # O(bucket²) — fine because LSH buckets are near-dup clusters;
    # max_bucket_size guards the pathological all-identical corpus
    # (an oversized bucket means the band is non-discriminative).
    buckets = (
        bands.groupBy("band_idx", "band_key")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    ids = F.col("ids")  # plain attribute — cheap to re-read per lambda element
    combos = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(combos).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_n: int = 1,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs.

    With ``candidates`` (e.g. from minhash_lsh_candidates) only those
    pairs are verified — the 100 TB path. Without, all id_a < id_b
    pairs are scored (quadratic; correctness baseline / small inputs
    only). Jaccard = |A∩B| / |A∪B| over distinct shingles.
    Output: (id_a, id_b, jaccard) with jaccard >= threshold.
    """
    sets_ = docs.select(
        F.col(id_col).alias("id"), shingles(text_col, shingle_n).alias("sh")
    )
    a = sets_.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets_.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    if candidates is not None:
        pairs = candidates.join(a, "id_a").join(b, "id_b")
    else:
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """SimHash signature: for each bit b, sum +1/-1 over distinct
    tokens by whether bit b of the token's 32-bit hash is set; bit b
    of the signature is 1 iff the sum is positive.

    Token hash = first 8 hex chars of md5 → 32-bit int (reproducible
    in SQL engines). Bit test uses floor(h / 2^b) % 2, exact in
    doubles for h < 2^32. Output: (id, simhash BIGINT).
    """
    toks = F.array_distinct(tokens(text_col))
    # Three projection stages, each behind an EXPLICIT boundary that
    # Catalyst cannot collapse away (the boundary expression is
    # non-cheap and referenced more than once, which blocks
    # CollapseProject from inlining it):
    #
    #   1. _hs   — md5-hash every distinct token ONCE;
    #   2. _pk   — ceil(bits/3) packed folds over the MATERIALIZED
    #              _hs column, each accumulating three bit-counts in
    #              20-bit lanes of one long (no per-token allocation);
    #   3. sig   — cheap bit extraction of the majority votes.
    #
    # The boundary is the whole point: higher-order functions run
    # INTERPRETED (no whole-stage codegen), so common-subexpression
    # elimination does NOT share a repeated hs subtree across folds —
    # the r12 per-bit shape silently re-evaluated the md5 transform in
    # every one of its 32 folds. Materializing _hs and folding over
    # the column reference measured 10× faster at sf10 (33 s → 3.3 s)
    # and 2.5× at sf1, bit-identical output (ENGINEERING_NOTES.md r13).
    # Lane counts are bounded by the per-doc distinct-token count —
    # safe below 2^20 ≈ 1M distinct tokens per document, far past any
    # real document this text path handles; a document at/over the
    # bound raises loudly (the `_n` guard below) instead of silently
    # corrupting the adjacent lane's count.
    # shiftright+bitwiseAND on a long is exact for h < 2^32.
    zero = F.lit(0).cast("long")
    hashed = docs.select(
        F.col(id_col).alias("id"),
        F.transform(
            toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
        ).alias("_hs"),
    )
    n_expr, pk_expr, isnull_expr, sig = _simhash_exprs(bits)
    packed = hashed.select(
        "id",
        n_expr.alias("_n"),
        pk_expr.alias("_pk"),
        # NULL text must propagate NULL: without the guard every
        # per-bit when(NULL).otherwise(0) yields 0, silently making
        # all null-text docs mutual hamming-0 near-duplicates
        isnull_expr.alias("_isnull"),
    )
    return packed.select("id", sig.alias("simhash"))


# Hoisted simhash expression trees keyed by the BITS parameter only
# (pure code over the fixed internal columns id/_hs/_n/_pk/_isnull,
# never data): constructing the ~11 packed 3-lane folds plus the
# 32-bit majority extraction costs ~0.9 s of py4j round-trips per
# call — most of the query's Python-side build phase.
@functools.cache
def _simhash_exprs(bits: int):
    zero = F.lit(0).cast("long")
    _LANE = 20  # bits per packed count lane (3 lanes < 63 bits)
    hcol = F.col("_hs")

    def packcount(group: list[int]):
        # factory closure, NOT default args: pyspark derives the HOF
        # arity from the Python signature, so extra parameters would
        # bind Columns to them
        def step(acc, h):
            e = acc
            for lane, b in enumerate(group):
                e = e + F.shiftleft(
                    F.shiftright(h, b).bitwiseAND(F.lit(1)), lane * _LANE
                )
            return e

        return F.aggregate(hcol, zero, step)

    groups = [list(range(p, min(p + 3, bits))) for p in range(0, bits, 3)]
    n_expr = F.when(
        F.size(hcol) >= F.lit(1 << _LANE),
        F.raise_error(
            F.concat(
                F.lit("simhash: document "),
                F.col("id").cast("string"),
                F.lit(" has >= 2^20 distinct tokens — packed-lane "
                      "counts would overflow"),
            )
        ).cast("int"),
    ).otherwise(F.size(hcol))
    pk_expr = F.array(*[packcount(g) for g in groups])
    sig = zero
    for gi, group in enumerate(groups):
        pk = F.col("_pk")[gi]
        for lane, b in enumerate(group):
            cnt = F.shiftright(pk, lane * _LANE).bitwiseAND(F.lit((1 << _LANE) - 1))
            # majority vote per bit: 2*set_count > n_tokens → bit set
            sig = sig + F.when(
                cnt * 2 > F.col("_n"), F.lit(1 << b).cast("long")
            ).otherwise(zero)
    sig = F.when(F.col("_isnull"), F.lit(None).cast("long")).otherwise(sig)
    return n_expr, pk_expr, hcol.isNull(), sig


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Resolve duplicate candidate/verified PAIRS into CLUSTERS —
    the step a real dedup pipeline needs after LSH + verification:
    connected components over the pair graph, cluster id = the
    minimum doc id reachable (so the canonical keeper of a cluster
    is ``cluster_id`` itself).

    STAR CONTRACTION, not plain label propagation: each phase every
    node folds into min(self, neighbors) (one symmetric groupBy), the
    running assignment composes through that fold (one join), and —
    the part that matters at scale — the EDGE SET is rewritten onto
    the supernodes ((u,v) → (l(u), l(v)), loops dropped, distinct),
    so a dense duplicate group collapses to its minimum in ONE phase
    and its edges vanish from every later phase. Plain propagation
    (the previous implementation) re-shuffled the FULL edge list
    every round — O(edges × rounds) — which sf10 measured at 232.6s
    on 101.6M pairs of genuinely-dense duplicate groups; contraction
    makes later phases O(contracted edges), i.e. the giant-clique
    pathology costs O(edges) once. (Naively dropping same-label
    edges WITHOUT rewriting+composition is unsound — a bridge
    between two lagging regions can drop while a smaller label is
    still in flight — hence the supernode rewrite, under which the
    remaining edge carries future merges and the final labels resolve
    through the phase composition.)

    Long chains still contract ~one node per phase, so a component
    whose collapse needs more than ``max_iter`` phases indicates a
    chaining-threshold problem and is surfaced as an error rather
    than silently iterated — the same contract as before. Each phase
    is localCheckpoint-ed: the driver loop would otherwise stack
    lineage into an exponentially re-analyzed plan.

    Output: (doc_id, cluster_id) for every node that appears in at
    least one pair; cluster_id = minimum reachable doc id (the
    canonical keeper). Singleton documents are their own cluster by
    definition and are omitted (join back against the corpus for the
    full assignment).
    """
    # canonical undirected edge list, materialized ONCE: `pairs` is
    # typically the tail of an expensive candidate pipeline
    # (LSH + verify) that must not re-execute per phase
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .transform(cacheutil.local_checkpoint)
    )
    # node set over the checkpointed edges — lazily persisted: it is
    # the base of the (lazy) assignment chain, never loop control
    initial_edges = edges
    assign = cacheutil.track(
        edges.select(F.col("u").alias("doc_id"))
        .unionByName(edges.select(F.col("v").alias("doc_id")))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .persist()
    )
    for _ in range(max_iter):
        if edges.isEmpty():
            break
        prev_edges = edges
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # star fold: every current node to min(self, neighbors).
        # Lazily persisted, not checkpointed: the edge rewrite below
        # (the phase's one eager job) materializes the cache, and the
        # assignment composition reads the same cache later — one
        # scheduled job per phase instead of three (guide §1.2).
        lbl = cacheutil.track(
            sym.groupBy("u")
            .agg(F.min("v").alias("m"))
            .select(
                F.col("u").alias("node"), F.least("u", "m").alias("lbl")
            )
            .persist()
        )
        # compose the assignment through this phase's fold (current
        # cluster ids ARE current-graph node ids, so a left join
        # suffices; unmatched = already-collapsed supernodes). The
        # composition stays LAZY — it never feeds loop control, and
        # each phase joins against that phase's persisted lbl, so the
        # final plan is a bounded chain of node-scale joins over
        # InMemoryRelations, executed once by the caller's action.
        assign = (
            assign.join(
                lbl.select(
                    F.col("node").alias("cluster_id"), F.col("lbl").alias("_new")
                ),
                "cluster_id",
                "left",
            )
            .select(
                "doc_id",
                F.coalesce("_new", "cluster_id").alias("cluster_id"),
            )
        )
        # contract: rewrite endpoints onto supernodes, drop loops
        edges = (
            edges.join(
                lbl.select(F.col("node").alias("u"), F.col("lbl").alias("_lu")), "u"
            )
            .join(
                lbl.select(F.col("node").alias("v"), F.col("lbl").alias("_lv")), "v"
            )
            .select(
                F.least("_lu", "_lv").alias("u"),
                F.greatest("_lu", "_lv").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .transform(cacheutil.local_checkpoint)
        )
        # a superseded INTERMEDIATE phase's edge checkpoint is dead
        # the moment the rewrite above materializes: this phase's lbl
        # cache is fully filled by that same job (both rewrite joins
        # consume all of lbl), and nothing else reads the old edges.
        # Releasing it inline bounds peak cached state to TWO phases'
        # edge frames instead of every phase's (VERDICT r14 #4). The
        # INITIAL checkpoint must survive: the lazily-persisted
        # assign base reads it at the caller's final action. The lbl
        # frames the lazy assignment chain reads are node-scale and
        # stay tracked for release_all().
        if prev_edges is not initial_edges:
            cacheutil.release_frame(prev_edges)
    else:
        if not edges.isEmpty():
            raise RuntimeError(
                f"duplicate_clusters did not converge in {max_iter} rounds — "
                "component diameter exceeds the expected dedup-cluster shape"
            )
    return assign


def ngram_decontaminate(
    docs: DataFrame,
    probe: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_id_col: str = "doc_id",
    probe_text_col: str = "text",
) -> DataFrame:
    """Training-data decontamination: flag corpus documents sharing
    any word n-gram with a benchmark/eval ("probe") document — the
    standard n-gram-overlap test applied before training.

    Both sides explode their DISTINCT n-grams and join on the md5
    digest of the gram (the shuffle carries 32-hex digests, not
    arbitrary-length gram strings). The probe side — benchmarks are
    small — is marked broadcast-able, so at 100 TB the corpus side
    never shuffles: each scan task hash-probes the broadcast gram
    set and only matches leave the stage.

    Output: (doc_id, probe_id, n_shared) — number of distinct shared
    n-grams per contaminated (corpus doc, probe doc) pair.
    """
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(text_col, n)).alias("g"),
    ).select("doc_id", F.md5("g").alias("gh"))
    p = probe.select(
        F.col(probe_id_col).alias("probe_id"),
        F.explode(shingles(probe_text_col, n)).alias("g"),
    ).select("probe_id", F.md5("g").alias("gh"))
    return (
        d.join(F.broadcast(p), "gh")
        .groupBy("doc_id", "probe_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def _bloom_pos(gh: F.Column, j: int, m_bits: int) -> F.Column:
    """Bloom hash j of a gram DIGEST: hex chars [1+10j, 10+10j] of the
    gram's single md5 as an integer, mod the filter width. 10 hex
    chars = 40 bits — fits a BIGINT exactly in Spark and DuckDB, so
    both engines compute the identical position (the 7-hex cohort
    trick, widened). All k positions slice ONE digest (k ≤ 3 with 32
    hex chars): the probe previously paid k md5 evaluations per corpus
    gram — 3× the exact twin's hashing cost, which made the prefilter
    SLOWER than the exact join it gates at bench scale."""
    return (
        F.conv(F.substring(gh, 1 + 10 * j, 10), 16, 10).cast("bigint")
        % m_bits
    )


#: Distinct-probe-gram count below which the bloom bitset cannot win:
#: the exact digest broadcast is itself small (32 hex chars/gram —
#: 1 M grams ≈ 32 MB, well under Spark's broadcast comfort zone) and
#: the bitset costs two extra jobs (position fold + collect) before
#: the corpus scan can even start.  Measured locally (see
#: tools/bloom_crossover.py, BLOOM_CROSSOVER.json): the bloom path
#: only pulls ahead once the digest broadcast reaches hundreds of MB.
BLOOM_FALLBACK_GRAMS = 1 << 20


def bloom_decontaminate(
    docs: DataFrame,
    probe: DataFrame,
    n: int = 8,
    m_bits: int = 1 << 17,
    k_hashes: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_text_col: str = "text",
    fallback_grams: int = BLOOM_FALLBACK_GRAMS,
) -> DataFrame:
    """Bloom-filter decontamination prefilter: ngram_decontaminate's
    broadcast side, compressed to a bitset.

    ngram_decontaminate broadcasts the probe set's gram DIGESTS — at
    32 hex chars per distinct benchmark gram, a 10M-gram benchmark
    suite costs ~320 MB per executor. This variant broadcasts a
    Bloom BITSET instead (m_bits/8 bytes — 16 KB at the default
    2^17, independent of gram count): each probe gram sets k
    deterministic md5-derived bits; a corpus gram is a CANDIDATE iff
    all k of its bits are set. Candidates then confirm against the
    exact digest join — but at 100 TB the bloom gate runs INSIDE the
    corpus scan stage (a pure JVM expression against an array
    literal, no join, no shuffle), so the exact join's input is the
    (tiny) candidate slice, not the corpus. False positives only
    cost a wasted exact probe; false negatives are impossible — every
    probe gram's bits are set, so bloom_hits ⊇ exact_hits per doc
    (pinned in tests).

    The bitset build is itself distributed: probe gram digests explode
    to k bit positions and fold to ≤ m_bits/64 words via bit_or in ONE
    exchange (OR is idempotent, so no distinct pass) — metadata-scale
    rows collected once, shipped as ONE array<bigint> literal.

    Cost parity with the exact twin: the whole pipeline — bitset
    positions, membership gate, and confirm join — slices a SINGLE
    md5 per gram, so the corpus scan hashes exactly as much as
    ngram_decontaminate's; the bloom gate adds only integer
    conv/shift expressions.

    Crossover gate (measured — tools/bloom_crossover.py,
    BLOOM_CROSSOVER.json): below ``fallback_grams`` distinct probe
    grams the digest broadcast is itself small and the exact join
    alone is cheaper (the bitset build costs two extra jobs before the
    corpus scan can start), so the prefilter FALLS THROUGH to the
    exact digest gate — the gate becomes the confirm join itself and
    ``n_bloom == n_exact`` by construction (zero false positives; docs
    whose only candidates were bloom false positives don't surface).
    The distinct-gram count reuses the persisted probe-digest set the
    bitset fold needs anyway.  Pass ``fallback_grams=0`` to force the
    bloom path (tests pin its superset/FP semantics that way).  The
    bitset's reason to exist is the 100 TB regime where probe digests
    would broadcast hundreds of MB but the bitset stays m_bits/8 bytes
    regardless of probe size.

    Output: (doc_id, n_bloom, n_exact) per corpus doc with ≥1
    candidate gram — n_bloom counts distinct grams passing the
    prefilter gate, n_exact the exactly-contaminated subset."""
    if k_hashes > 3:
        raise ValueError(
            "bloom_decontaminate: k_hashes <= 3 (positions are 10-hex "
            "slices of one 32-hex md5 digest)"
        )
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(text_col, n)).alias("g"),
    ).select("doc_id", F.md5("g").alias("gh"))
    # consumed twice (bitset fold + exact-confirm broadcast): persist
    # so the probe corpus is shingled/hashed once (caller releases —
    # cacheutil module docstring)
    pgrams = cacheutil.track(
        probe.select(F.explode(shingles(probe_text_col, n)).alias("g"))
        .select(F.md5("g").alias("gh"))
        .distinct()
        .persist()
    )

    exact = pgrams.select("gh", F.lit(1).alias("_pm"))
    if fallback_grams and pgrams.count() < fallback_grams:
        # Below the measured crossover the exact digest broadcast IS
        # the cheapest gate: skip the bitset build entirely and let
        # the confirm join double as the prefilter (n_bloom == n_exact,
        # no false positives by construction).
        return (
            grams.join(F.broadcast(pgrams), "gh")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_bloom"),
                F.count(F.lit(1)).alias("n_exact"),
            )
        )

    # --- build: k positions per probe digest -> 64-bit words (bit_or
    # is idempotent: duplicate positions need no distinct exchange)
    word_rows = (
        pgrams.select(
            F.explode(
                F.array(
                    *[_bloom_pos(F.col("gh"), j, m_bits) for j in range(k_hashes)]
                )
            ).alias("pos")
        )
        .select(
            (F.col("pos") / 64).cast("int").alias("w"),
            (F.col("pos") % 64).cast("int").alias("b"),
        )
        .groupBy("w")
        .agg(
            # SQL shiftleft takes a column shift amount; the PySpark
            # wrapper's numBits is a Python int, hence call_function
            F.bit_or(
                F.call_function("shiftleft", F.lit(1).cast("bigint"), F.col("b"))
            ).alias("bits")
        )
        .collect()
    )  # bounded at m_bits/64 rows (2048 at the default) — metadata-scale
    words = [0] * (m_bits // 64)
    for r in word_rows:
        words[r["w"]] = r["bits"]
    bitset = F.lit(words)

    # --- probe: pure-expression membership gate inside the scan stage
    hit = F.lit(True)
    for j in range(k_hashes):
        pj = _bloom_pos(F.col("gh"), j, m_bits)
        word = F.element_at(bitset, (pj / 64).cast("int") + 1)
        hit = hit & (
            F.call_function("shiftrightunsigned", word, (pj % 64).cast("int"))
            % 2
            == 1
        )
    return (
        grams.filter(hit)
        .join(F.broadcast(exact), "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bloom"),
            F.sum(
                F.when(F.col("_pm").isNotNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_exact"),
        )
    )


def _positional_gram_hashes(
    docs: DataFrame, k: int, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, pos, gh): md5 of each word k-gram with its 1-based
    start-token position. Grams are built once per row via the
    zip_with-of-slices shape (see shingles()); the transform lambda
    only touches its own element, so nothing upstream re-evaluates
    per element."""
    grams = shingles(text_col, k, distinct=False)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(grams).alias("pos0", "g"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.md5("g").alias("gh"),
    )


def duplicated_spans(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicated-substring detection, the suffix-array dedup of
    Lee et al. 2021 ("Deduplicating Training Data Makes Language
    Models Better", arXiv:2107.06499 §4.1) re-expressed for Spark:
    instead of one global suffix array — inherently sequential and
    memory-resident — every word k-gram becomes a positional md5
    anchor, grams occurring >= min_count times anywhere in the corpus
    mark their start positions, and overlapping/adjacent marked
    positions fuse into maximal spans per document (gaps-and-islands).
    Any duplicated substring of >= k tokens is covered by a chain of
    duplicated k-grams, so the merged spans are exactly the maximal
    duplicated regions at k-token resolution.

    Scale shape (100 TB): gram counting is ONE shuffle with map-side
    combine on uniformly-distributed md5 keys; the join back is a
    1:1 equi-join on gh (each occurrence matches at most one
    surviving digest row — no fan-out; AQE splits any hot boilerplate
    gram); the islands pass shuffles once on doc_id with bounded
    per-doc state. Everything is built-in expressions — no UDFs, no
    driver materialization, nothing quadratic.

    Output: (doc_id, span_start, span_end, span_tokens, n_grams) with
    1-based inclusive token positions. Exact DuckDB oracle (md5 and
    the window algebra are engine-identical).
    """
    occ = _positional_gram_hashes(docs, k, id_col, text_col)
    dup = (
        occ.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("gh")
    )
    hits = occ.join(dup, "gh").select("doc_id", "pos")
    return spans_from_hits(hits, k)


def duplicated_spans_sorted(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact duplicated-substring detection by DISTRIBUTED SUFFIX
    ORDERING — the Lee et al. 2021 §4.1 suffix-array algorithm in its
    partitioned form, vs duplicated_spans()'s hash-aggregate form.

    A suffix array finds repeats by sorting suffixes and scanning
    ADJACENT entries for shared prefixes; at a fixed match length k
    that classification is exactly "sort every positional k-gram and
    detect runs of equal neighbors" (the DSA/DC3-style reduction:
    rank suffixes by their length-k prefix — ranking beyond k is
    irrelevant once matches shorter than k don't count). So: one
    RANGE exchange on the gram digest (equal digests land in one
    partition, in sorted order — a distributed suffix-array block),
    run lengths read off a count window WITHOUT a second exchange
    (range partitioning satisfies the window's clustering), rows in
    runs >= min_count are duplicated-suffix positions, and the same
    gaps-and-islands pass fuses them into maximal per-doc spans.

    Same exact span set as duplicated_spans() — both compute the
    union of duplicated k-gram coverage, which IS the union of all
    duplicated substrings of >= k tokens (any such substring is a
    chain of duplicated k-grams; any duplicated k-gram is itself
    one). The plans differ where scale hurts: this path has NO join
    (the hash path shuffles the occurrence set twice — aggregate,
    then join back) and carries each occurrence through exactly one
    exchange. The suffix ordering also yields run length in-row for
    free: ``max_gram_occ`` per span (how hot the hottest repeated
    gram in the span is, corpus-wide) — the anchor path would need a
    second aggregate to answer that.

    Trade-off pinned in tests/test_plans.py: range exchange moves the
    FULL occurrence set (no map-side combine), so hot boilerplate
    grams skew their range partition; AQE's skew handling cannot
    split a window partition, so at 100 TB prefer the hash path when
    the corpus has pathological boilerplate, this path when combine
    buys little (mostly-unique grams — the common case at high k).

    Output: (doc_id, span_start, span_end, span_tokens, n_grams,
    max_gram_occ), 1-based inclusive token positions. Exact DuckDB
    oracle.
    """
    from pyspark.sql.window import Window

    spark = docs.sparkSession
    nparts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    occ = _positional_gram_hashes(docs, k, id_col, text_col)
    ordered = occ.repartitionByRange(nparts, "gh")
    runs = ordered.withColumn(
        "run", F.count(F.lit(1)).over(Window.partitionBy("gh"))
    )
    hits = runs.filter(F.col("run") >= min_count).select(
        "doc_id", "pos", "run"
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    lagged = hits.select(
        "doc_id",
        "pos",
        "run",
        F.when(F.col("pos") - F.lag("pos").over(w) > k, 1)
        .otherwise(0)
        .alias("_brk"),
    )
    isl = lagged.select(
        "doc_id", "pos", "run", F.sum("_brk").over(w).alias("island")
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
            (F.max("pos") + (k - 1) - F.min("pos") + 1).alias("span_tokens"),
            F.count(F.lit(1)).alias("n_grams"),
            F.max("run").alias("max_gram_occ"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            "span_tokens",
            "n_grams",
            "max_gram_occ",
        )
    )


def spans_from_hits(hits: DataFrame, k: int) -> DataFrame:
    """Fuse duplicated-gram start positions (doc_id, pos) into maximal
    spans: gaps-and-islands over pos per doc (break when the gap
    exceeds k — i.e. an uncovered token lies between), then a grouped
    min/max/count. One doc_id exchange feeds both window passes and
    the rollup. Shared by the one-shot and the incremental plans."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    lagged = hits.select(
        "doc_id",
        "pos",
        F.when(F.col("pos") - F.lag("pos").over(w) > k, 1).otherwise(0).alias("_brk"),
    )
    isl = lagged.select("doc_id", "pos", F.sum("_brk").over(w).alias("island"))
    return isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (k - 1)).alias("span_end"),
        (F.max("pos") + (k - 1) - F.min("pos") + 1).alias("span_tokens"),
        F.count(F.lit(1)).alias("n_grams"),
    ).select("doc_id", "span_start", "span_end", "span_tokens", "n_grams")


def substring_dedup(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove every duplicated span found by duplicated_spans() from
    the corpus text (the "dedup by removing repeated substrings"
    treatment of Lee et al. 2021 §4.1, which their paper shows beats
    whole-document dedup on memorization).

    The spans for each doc collapse to a small array (collect_list of
    (start,end) structs — per-doc span counts are bounded by doc
    length / k), broadcast back onto the corpus via a left join on
    doc_id, and each token is kept iff no span covers its 1-based
    position — an exists() probe over the tiny span array, fully
    inside codegen. Docs with no duplicated span pass through intact;
    docs that are entirely duplicated text come out with
    clean_text = '' (kept, so the caller decides the drop policy).

    Output: (doc_id, n_tokens, n_removed, clean_text).
    """
    spans = duplicated_spans(docs, k, min_count, id_col, text_col)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = tokens(text_col)
    base = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("_toks")
    ).join(per_doc, "doc_id", "left")
    covered = lambda t, i: F.exists(
        F.col("_spans"),
        lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
    )
    kept = F.when(
        F.col("_spans").isNull(), F.col("_toks")
    ).otherwise(F.filter("_toks", lambda t, i: ~covered(t, i)))
    return base.select(
        "doc_id",
        F.size("_toks").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).alias("n_removed"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


def text_segments(width: int = 8, toks_col: str = "_toks") -> F.Column:
    """Non-overlapping ``width``-token windows of a MATERIALIZED token
    array column, as "w1 ... w8" strings (the tail segment may be
    shorter). Takes a column NAME on purpose: referencing a bound
    column inside the transform lambda is a per-row attribute read,
    while referencing the tokens() expression would re-run the split
    per SEGMENT (the quadratic trap documented on shingles()). Callers
    materialize the token array in a prior select."""
    t = F.col(toks_col)
    n_segs = F.ceil(F.size(t) / F.lit(width)).cast("int")
    return F.when(F.size(t) == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_segs - 1),
            lambda i: F.array_join(F.slice(t, i * width + 1, width), " "),
        )
    )


def segment_rows(
    docs: DataFrame,
    width: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per (doc, segment): (doc_id, seg_idx, seg, seg_hash).
    posexplode_outer keeps zero-token docs (null seg row), so the
    downstream re-aggregation never loses a document. seg_hash (md5)
    is what shuffles in the frequency count — 32 bytes regardless of
    segment width."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_toks"))
        .select(
            "doc_id",
            F.posexplode_outer(text_segments(width)).alias("seg_idx", "seg"),
        )
        .withColumn("seg_hash", F.md5("seg"))
    )


def frequent_segments(
    docs: DataFrame,
    width: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-frequent segment discovery — the blocklist side of
    C4-style boilerplate removal (Raffel et al. 2020 §2.2 drop lines
    repeated in the corpus; CCNet, Wenzek et al. 2020, dedups on
    paragraph hashes). Frequency is DISTINCT-DOC frequency: a doc
    internally repeating its own segment doesn't make it boilerplate.

    One map-side-combinable distinct + groupBy on seg_hash — the only
    full-corpus shuffle in the family, and it moves (hash, doc_id)
    pairs, never text. Returns (seg_hash, n_docs) for segments in
    >= min_docs distinct docs."""
    return (
        segment_rows(docs, width, id_col, text_col)
        .select("seg_hash", "doc_id")
        .filter(F.col("seg_hash").isNotNull())
        .distinct()
        .groupBy("seg_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_boilerplate(
    docs: DataFrame,
    width: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    blocklist: DataFrame | None = None,
) -> DataFrame:
    """C4-style boilerplate removal: drop EVERY occurrence of any
    width-token segment that appears in >= min_docs distinct docs,
    and reassemble the surviving segments in document order.

    Differs from substring_dedup (Lee et al. 2021 spans) on axis, not
    degree: spans remove text duplicated ANYWHERE (including within
    one doc, counted by occurrence); this removes text duplicated
    ACROSS documents (headers, footers, license blurbs) — the classic
    web-corpus cleaning pass.

    Plan shape (pinned in PLANS.md): one explode, the blocklist
    aggregation, one equi-join of segments against the blocklist, and
    ONE groupBy(doc_id) exchange that computes totals, removed counts,
    and the reassembled text together (kept segments collect as
    (seg_idx, seg) structs; collect_list skips the nulls the blocked
    rows are mapped to). The blocklist join is deliberately NOT
    broadcast-hinted: at web scale the frequent-segment set can be
    arbitrarily large, so AQE decides — it converts to broadcast
    exactly when the blocklist is small.

    Output: (doc_id, n_segments, n_removed, clean_text); fully-
    boilerplate docs come out with clean_text = '' (caller drops).

    ``blocklist`` (a frame with a seg_hash column) substitutes an
    externally-maintained frequent-segment set — the streaming
    maintenance path (streaming/boilerplate_stream.py) folds
    day-partitioned counts into exactly this shape; min_docs is
    ignored when it is given (the blocklist already encodes the
    threshold).
    """
    segs = segment_rows(docs, width, id_col, text_col)
    if blocklist is not None:
        block = blocklist.select("seg_hash")
    else:
        # derive the blocklist from the SAME exploded frame and
        # persist it: without the cache Catalyst plans two full
        # corpus scans + explodes (no subtree sharing across join
        # branches — the lm_score_backoff lesson). MEMORY_AND_DISK
        # default: at 100 TB the exploded frame spills rather than
        # re-reading the corpus twice.
        segs = cacheutil.track(segs.persist())
        block = (
            segs.filter(F.col("seg_hash").isNotNull())
            .select("seg_hash", "doc_id")
            .distinct()
            .groupBy("seg_hash")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") >= min_docs)
        )
    flagged = segs.join(
        block.select("seg_hash", F.lit(True).alias("_blocked")),
        "seg_hash",
        "left",
    )
    kept_struct = F.when(
        F.col("_blocked").isNull() & F.col("seg").isNotNull(),
        F.struct("seg_idx", "seg"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("seg").alias("n_segments"),
            F.sum(
                F.when(F.col("_blocked"), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_removed"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["seg"],
                ),
            ).alias("clean_text"),
        )
        .select("doc_id", "n_segments", "n_removed", "clean_text")
    )


def neardup_editdist(
    docs: DataFrame,
    max_pct: int = 30,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Edit-distance verification of MinHash-LSH candidates: keep a
    candidate pair iff levenshtein(a, b) · 100 <= max_pct ·
    max(len(a), len(b)) — the character-level verify for near-dup
    pairs whose token-level Jaccard gate (jaccard_pairs) is too
    coarse (reorderings score high Jaccard but high edit distance).

    The O(|a|·|b|) dynamic program runs ONLY on LSH survivors —
    never all pairs — and entirely JVM-side. Cost is therefore
    PROPORTIONAL TO THE CANDIDATE-PAIR COUNT: on replica-scaled
    synthetic corpora where every doc has `factor` near-identical
    clones the pair set grows with factor² and this verify with it
    (bench.PAIR_VERIFY_DATA_BORNE — skipped at sf >= 1); on organic
    corpora near-dup group sizes stay bounded as the corpus grows
    and the DP cost tracks data size (built-in levenshtein on
    both engines, exact integer, so the gate is an exact-hash
    oracle). The integer cross-multiplied threshold avoids a float
    ratio. Text reaches the pair rows via two equi-joins of the
    (bounded) candidate list against an (id, text) projection; at
    100 TB AQE broadcasts the candidate side.

    Output: (id_a, id_b, edit_dist, len_a, len_b), passing pairs
    only, id_a < id_b inherited from the candidate convention.

    ``pairs``: a prebuilt candidate table ((id_a, id_b), id_a < id_b
    — e.g. graph.pairs_from_lake) skips the LSH rebuild; None builds
    fresh with the num_hashes/band_size/shingle_n knobs.
    """
    if pairs is None:
        pairs = minhash_lsh_candidates(
            docs, num_hashes=num_hashes, band_size=band_size,
            shingle_n=shingle_n, id_col=id_col, text_col=text_col,
        )
    texts = docs.select(F.col(id_col).alias("_tid"), F.col(text_col).alias("_txt"))
    joined = (
        pairs.join(texts, pairs["id_a"] == texts["_tid"])
        .select("id_a", "id_b", F.col("_txt").alias("_ta"))
        .join(texts, F.col("id_b") == texts["_tid"])
        .select("id_a", "id_b", "_ta", F.col("_txt").alias("_tb"))
    )
    return (
        joined.select(
            "id_a",
            "id_b",
            F.levenshtein("_ta", "_tb").alias("edit_dist"),
            F.length("_ta").alias("len_a"),
            F.length("_tb").alias("len_b"),
        )
        .filter(
            F.col("edit_dist") * 100
            <= F.lit(max_pct) * F.greatest("len_a", "len_b")
        )
    )


def source_overlap(
    docs: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Cross-source duplication matrix: for every (unordered) source
    pair, how many near-dup candidate pairs straddle it — the
    contamination overview a corpus curator reads before mixing
    sources (a heavy diagonal means internal churn; heavy
    off-diagonals mean the sources scraped the same content and
    mixture weights double-count).

    Near-dup pairs come from the shared LSH candidate generation;
    the source lookup is the same two-equi-join shape as
    neardup_editdist (narrow (id, source) projection, candidate side
    AQE-broadcast); the matrix aggregation is at most n_sources²
    rows. Output: (source_a, source_b, n_pairs) with source_a <=
    source_b (least/greatest normalization).

    ``pairs``: prebuilt candidate table (see neardup_editdist).
    """
    if pairs is None:
        pairs = minhash_lsh_candidates(
            docs, num_hashes=num_hashes, band_size=band_size,
            shingle_n=shingle_n, id_col=id_col, text_col=text_col,
        )
    srcs = docs.select(F.col(id_col).alias("_sid"), F.col(source_col).alias("_src"))
    joined = (
        pairs.join(srcs, pairs["id_a"] == srcs["_sid"])
        .select("id_a", "id_b", F.col("_src").alias("_sa"))
        .join(srcs, F.col("id_b") == srcs["_sid"])
        .select("_sa", F.col("_src").alias("_sb"))
    )
    return (
        joined.select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def cluster_keepers(
    pairs: DataFrame,
    docs: DataFrame,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Quality-aware keeper selection per duplicate cluster — the
    step after duplicate_clusters in a real curation pipeline: a
    cluster's canonical document should be its BEST member (longest /
    highest-quality), not its smallest id. min-id keeping silently
    biases a training corpus toward whichever shard was ingested
    first.

    keeper = argmax(weight, tie → smallest id) within each connected
    component of the verified pair graph. Composes the star-
    contraction components (duplicate_clusters) with one node-scale
    join against the (id, weight) projection and one per-cluster
    window — the window partitions on cluster_id, whose cardinality
    and skew are the CLUSTER structure, already bounded by the
    contraction (a giant cluster is one partition of member rows,
    node-scale, not pair-scale).

    Output: (cluster_id, keeper_id, n_members, keeper_weight), one
    row per cluster (singletons are not clusters — same convention
    as duplicate_clusters).
    """
    clusters = duplicate_clusters(pairs, max_iter=max_iter)
    weights = docs.select(
        F.col(id_col).alias("_wid"),
        F.col(weight_col).cast("long").alias("_w"),
    )
    # LEFT join: a cluster member absent from docs (caller passed a
    # filtered corpus) must still COUNT toward n_members — an inner
    # join would silently drop it and could elect the wrong keeper.
    # Its null weight ranks last, so it never wins the election unless
    # the whole cluster is weightless (then min-id, the
    # duplicate_clusters convention).
    members = clusters.join(
        weights, clusters["doc_id"] == weights["_wid"], "left"
    ).select("doc_id", "cluster_id", "_w")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_w").desc_nulls_last(), F.col("doc_id").asc()
    )
    return (
        members.withColumn("_r", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .filter(F.col("_r") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keeper_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("_w").alias("keeper_weight"),
        )
    )
