"""Embedding similarity search (ANN) over array<float> columns.

Every top-k path is a candidate generator in front of one exact
rerank: prune with an index, then verify exactly. Candidates come
from, per path:

- ``brute_force_topk``: a broadcast join of every (query, corpus)
  pair; ``hard_negatives`` adds its label predicate to that join;
- ``brute_force_topk_gemm``: a per-partition numpy GEMM that keeps
  each partition's local top-k;
- ``lsh_topk``: a random-hyperplane bucket join with one-bit
  multiprobe;
- ``jl_topk``: a JL sign-bucket join with Hamming multiprobe;
- ``ivf_topk`` / ``ivf_query_index``: the IVF cell probe;
- ``pq_topk`` / ``pq_query_index`` and ``ivfpq_topk`` /
  ``ivfpq_query_index``: the PQ ADC shortlist, IVFPQ behind the cell
  probe.

The rerank is shared. ``_exact_topk`` scores candidates with the
sequential-fold cosine (JVM-side zip_with + aggregate, bit-reproducible
against the DuckDB oracle) rounded to 6dp, and ``_rank_topk`` keeps
each query's k best by (cosine desc, neighbor_id asc). Ranking on the
rounded value makes every path hash-comparable against the same
oracle, whatever order its scorer summed in. The GEMM path ranks its
own rounded scores through ``_rank_topk``; the PQ paths reach
``_exact_topk`` through ``_adc_rerank``.

Hyperplanes, centroids, codebooks and JL signs are deterministic md5
derivations, so runs are reproducible across sessions and engines
with no stored model.
"""

from __future__ import annotations

import functools
import hashlib
import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fxa_activity_metrics_spark import cacheutil
from fxa_activity_metrics_spark.operators._lakeindex import commit, read_manifest, stage


def _as_double(col: F.Column) -> F.Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: F.Column, b: F.Column) -> F.Column:
    """Sequential-fold dot product: ((0+x1y1)+x2y2)+... — the exact
    evaluation order matters for cross-engine float reproducibility."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: F.Column) -> F.Column:
    # coalesce forces NON-NULLABLE (the fold never yields null for a
    # non-null array): without it, a downstream null-intolerant filter
    # (e.g. cos >= θ) infers isnotnull(nrm) and pushes it to the scan
    # with the whole sqrt-fold substituted — computing every norm
    # twice per row (the pushdown-duplication trap).
    return F.coalesce(F.sqrt(dot(a, a)), F.lit(0.0))


def _py_norm(v: list[float]) -> float:
    """Driver-side norm with the SAME sequential fold order as
    norm(): ((0+x0²)+x1²)+…, then sqrt. Python floats are IEEE
    binary64 like Spark doubles, so the result is bitwise-equal to
    evaluating norm() on the same literal in the JVM."""
    acc = 0.0
    for x in v:
        acc = acc + x * x
    return math.sqrt(acc)


def cosine(a: F.Column, b: F.Column) -> F.Column:
    return dot(a, b) / (norm(a) * norm(b))


def _rank_topk(scored: DataFrame, k: int, extra: tuple[str, ...] = ()) -> DataFrame:
    """Keep each query's k best rows of ``scored`` (query_id,
    neighbor_id, *extra, cos): rank 1..k by cos desc, neighbor_id asc.
    ``cos`` must already be rounded to 6dp."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", *extra, "rank", F.col("cos").alias("cosine"))
    )


def _exact_topk(cand: DataFrame, k: int, extra: tuple[str, ...] = ()) -> DataFrame:
    """Exact rerank of a candidate join carrying query_id, neighbor_id,
    q_vec/q_nrm and c_vec/c_nrm. Norms are projected once per ROW on
    each side, below the join, so the per-PAIR expression is one dot
    fold and a divide (cosine() inline would re-fold both norms per
    pair)."""
    return _rank_topk(
        cand.select(
            "query_id",
            "neighbor_id",
            *extra,
            F.round(
                dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_nrm") * F.col("c_nrm")), 6
            ).alias("cos"),
        ),
        k,
        extra,
    )


def _query_batch(queries: DataFrame, id_col: str, vec_col: str):
    """ONE Arrow pull of the bounded query batch (the ANN entries'
    standing assumption): (ids, float64 matrix). Probe cells, the PQ
    LUT and the rerank side are all computed from it, so a query path
    pays one driver round-trip instead of a Spark job per consumer."""
    return _pull_matrix(
        queries.select(F.col(id_col), _as_double(F.col(vec_col)).alias(vec_col)),
        id_col,
        vec_col,
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Output: (query_id, neighbor_id, rank, cosine) — rank 1..k by
    cosine ROUNDED TO 6DP desc, ties broken by neighbor_id asc;
    self-matches excluded. The broadcast hint keeps the corpus
    un-shuffled.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("c_vec")
    ).withColumn("c_nrm", norm(F.col("c_vec")))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("q_vec")
    ).withColumn("q_nrm", norm(F.col("q_vec")))
    return _exact_topk(
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")), k
    )


def brute_force_topk_gemm(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k via per-partition numpy GEMM — the
    vectorized scale path for the same semantics as brute_force_topk.

    Each corpus partition ships ONE Arrow batch to Python, scores it
    against the (small, broadcast-as-closure) query matrix with a
    float64 matrix multiply, and emits only its LOCAL top-k per query
    — so the exchange after mapInPandas carries ≤ partitions × nq × k
    candidate rows, never the full score matrix. A final window pass
    reduces local winners to the global top-k. BLAS throughput vs
    interpreted fold eval: the per-pair cost drops ~2 orders of
    magnitude at wide dims.

    The query batch is collected to the driver by contract (an ANN
    probe set is small — same contract as ivf_centroids); the corpus
    never leaves the executors. Summation order inside GEMM differs
    from the sequential fold in the last ulps, so scores are rounded
    to 6dp BEFORE the local ranking too, and the global pass is
    ``_rank_topk`` — hash-comparable against the same SQL oracle.
    """
    import numpy as np  # baked into the runtime alongside pyarrow
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qmat = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    qnrm = np.sqrt((qmat * qmat).sum(axis=1))
    out_schema = "query_id long, neighbor_id long, cos double"

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            nrm = np.sqrt((mat * mat).sum(axis=1))
            sims = (mat @ qmat.T) / (nrm[:, None] * qnrm[None, :])
            n = len(ids)
            kk = min(k, n)
            parts = []
            for j in range(len(qids)):
                # self-match out, then round BEFORE local selection so
                # a 6dp tie at the local kth boundary keeps the smaller
                # id — the same candidate the global rounded rank wants
                col = np.round(np.where(ids == qids[j], -np.inf, sims[:, j]), 6)
                order = np.lexsort((ids, -col))  # col desc, id asc
                top = order[np.isfinite(col[order])][:kk]
                parts.append(
                    pd.DataFrame(
                        {
                            "query_id": qids[j],
                            "neighbor_id": ids[top],
                            "cos": col[top],
                        }
                    )
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return _rank_topk(corpus.select(id_col, vec_col).mapInPandas(score, out_schema), k)


def hyperplanes(dim: int, n_planes: int, seed: str = "fxa-lsh") -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5(seed:plane:i) parity.
    Driver-side, tiny (n_planes × dim), embedded as literals."""
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            digest = hashlib.md5(f"{seed}:{p}:{i}".encode()).hexdigest()
            row.append(1.0 if int(digest[:2], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def bucket_ids(
    df: DataFrame, vec_col: str, planes: list[list[float]], out_col: str = "bucket"
) -> DataFrame:
    """n-bit LSH bucket: bit p = (dot(vec, plane_p) > 0).

    Planes go in as one nested-array literal and the bit-sum is a
    single fold — not a chain of per-plane expressions, each carrying
    its own literal array; the whole expression tree is memoized per
    (vec_col, planes) so its py4j construction cost is paid once per
    process, not per call.

    ``vec_col`` must already be array<double> (every caller projects
    the cast once per row): a cast HERE would sit inside the plane
    lambda and re-materialize the array once per plane per row."""
    return df.withColumn(out_col, _bucket_expr(vec_col, tuple(tuple(p) for p in planes)))


# Hoisted LSH bucket expression trees — the same CODE-memoization as
# the JL/simhash hoists: F.lit of a nested plane list expands to one
# py4j literal call PER FLOAT (~64·n_planes round-trips), so
# constructing the fold cost ~1-2 s of every embedding_neardup_lsh /
# ann_lsh / ann_filtered call (measured with cProfile: 5.7-7.7k socket
# round-trips per build, 0.8-1.2k of them lit()). Planes are
# deterministic functions of (dim, n_planes, seed) — pure parameters,
# never data — and Column objects are immutable unresolved trees over
# the fixed ``vec_col`` name, so one construction serves every later
# DataFrame.
#
# Bounded (ADVICE r14): the key embeds the full plane matrix (exact —
# a digest key could alias two distinct matrices onto one expression
# tree), so the memo is a small LRU rather than an unbounded cache.
# The working set is a handful of fixed parameterizations per process;
# 16 slots keeps every hot entry resident while capping retention.
# lru_cache keeps lookup and eviction consistent across foreachBatch
# threads.
@functools.lru_cache(maxsize=16)
def _bucket_expr(vec_col: str, planes: tuple[tuple[float, ...], ...]) -> F.Column:
    planes_lit = F.lit([list(p) for p in planes])
    v = F.col(vec_col)
    zero = F.lit(0).cast("long")
    bucket = F.aggregate(
        F.transform(
            planes_lit,
            lambda p, i: F.when(
                dot(v, p) > 0,
                F.pow(F.lit(2.0), i.cast("double")).cast("long"),
            ).otherwise(zero),
        ),
        zero,
        lambda acc, b: acc + b,
    )
    # coalesce forces the column NON-NULLABLE (the fold never yields
    # null, but aggregate() reports nullable) so a downstream join's
    # inferred isnotnull(bucket) folds away instead of being pushed to
    # the scan with the whole plane-fold substituted — which would
    # compute every bucket twice (the pushdown-duplication trap).
    return F.coalesce(bucket, zero)


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: every (id_a <
    id_b) with cosine ≥ threshold.

    Norms are computed once per vector before the join (N norm
    computations, not N²). The all-pairs product is a broadcast
    nested-loop by design here — this is the *correctness baseline*;
    the 100 TB path is `embedding_neardup_lsh`, which prunes the pair
    space with hyperplane buckets before scoring.

    Output: (id_a, id_b, cosine) rounded to 6dp.
    """
    base = corpus.select(
        F.col(id_col).alias("id"),
        _as_double(F.col(vec_col)).alias("vec"),
    ).withColumn("nrm", norm(F.col("vec")))
    a = base.select(
        F.col("id").alias("id_a"), F.col("vec").alias("va"), F.col("nrm").alias("na")
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("vec").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("cos", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cosine"))
    )


def _pull_matrix(df: DataFrame, id_col: str, vec_col: str):
    """Driver pull of (ids int64, matrix float64 N×dim) via Arrow —
    ``DataFrame.toArrow()`` lands columnar buffers directly, and the
    matrix is built by reshaping the list column's flattened values
    buffer. No ``tolist()``: the old pandas path transiently
    materialized every vector as a Python float list (several × the
    nominal matrix size in peak driver memory, defeating the byte
    guard); this path's peak is ~2× the matrix (Arrow buffer +
    float64 copy), which is what the callers' estimates charge."""
    import numpy as np

    tbl = df.select(id_col, vec_col).toArrow()
    ids = np.asarray(tbl.column(id_col).to_numpy(zero_copy_only=False), dtype=np.int64)
    lists = tbl.column(vec_col).combine_chunks()
    flat = np.asarray(lists.flatten().to_numpy(zero_copy_only=False), dtype=np.float64)
    return ids, flat.reshape(len(ids), -1) if len(ids) else flat.reshape(0, 0)


def embedding_neardup_pairs_gemm(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_driver_bytes: int = 2 << 30,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs via per-partition
    numpy GEMM — the vectorized form of ``embedding_neardup_pairs``
    (same rows, same oracle), following the ``brute_force_topk_gemm``
    precedent.

    The corpus matrix ships to executors ONCE as a Spark broadcast
    (the same full-corpus-per-executor memory shape the broadcast
    nested-loop already had); each partition scores its rows against
    it with one float64 matrix multiply and emits only the pairs over
    threshold with id_a < id_b. Still O(N²) work by definition — an
    exact all-pairs op — but at BLAS throughput instead of
    interpreted fold eval; the sub-quadratic 100 TB path remains
    ``embedding_neardup_lsh``.

    DRIVER-MEMORY BOUND: a Spark broadcast is driver-created, so the
    corpus matrix (N × dim float64 + N int64 ids) must fit on the
    driver — the irreducible cost of the broadcast formulation. The
    pull is one ``toArrow()`` reshaped straight into the float64
    matrix (``_pull_matrix`` — no per-vector Python lists, so peak
    driver memory is ~2× the matrix, not the several-× of a
    ``toPandas``+``tolist`` conversion, and never the per-Row py4j
    stream of the round-4 ``toLocalIterator`` regression), EXPLICITLY
    guarded: a count×dim estimate of that 2× peak refuses corpora
    that would exceed ``max_driver_bytes``, with an error naming the
    two formulations that do scale — ``embedding_neardup_pairs``
    (corpus stays on executors) and ``embedding_neardup_lsh``
    (sub-quadratic).

    Cosines are emitted RAW by the numpy kernel and rounded to 6dp
    JVM-side (``F.round``, HALF_UP) — the same single rounding rule
    as the fold path, so an exact 6dp-tie cosine cannot round
    differently between the two paths or vs the DuckDB oracle.
    """
    import numpy as np

    sel = corpus.select(id_col, vec_col)
    head = sel.select(vec_col).first()
    if head is None:
        return corpus.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    n_rows = sel.count()
    # 2× the matrix (Arrow buffers + float64 copy) + ids: the
    # realistic peak of the _pull_matrix path, not just the final size
    est = n_rows * (len(head[0]) * 8 * 2 + 8)
    if est > max_driver_bytes:
        raise ValueError(
            f"corpus matrix pull peak ~{est >> 20} MiB exceeds the GEMM "
            f"broadcast budget ({max_driver_bytes >> 20} MiB); use "
            "embedding_neardup_pairs or embedding_neardup_lsh at this scale"
        )
    ids, mat = _pull_matrix(sel, id_col, vec_col)
    nrm = np.sqrt((mat * mat).sum(axis=1))
    bc = corpus.sparkSession.sparkContext.broadcast((ids, mat, nrm))

    def kernel(batches):
        import pandas as pd

        bids, bmat, bnrm = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            aids = pdf[id_col].to_numpy(dtype=np.int64)
            amat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            anrm = np.sqrt((amat * amat).sum(axis=1))
            sims = (amat @ bmat.T) / (anrm[:, None] * bnrm[None, :])
            hit = (sims >= threshold) & (aids[:, None] < bids[None, :])
            ai, bj = np.nonzero(hit)
            if len(ai):
                yield pd.DataFrame(
                    {
                        "id_a": aids[ai],
                        "id_b": bids[bj],
                        "cosine": sims[ai, bj],
                    }
                )

    return (
        corpus.select(id_col, vec_col)
        .mapInPandas(kernel, "id_a long, id_b long, cosine double")
        .withColumn("cosine", F.round("cosine", 6))
    )


def embedding_neardup_pairs_blocked(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs via DISTRIBUTED
    block GEMM — shares ``embedding_neardup_pairs``'s oracle, with
    neither of the other exact paths' memory walls.  (Same ulp caveat
    as the GEMM path: the threshold is applied to raw BLAS cosines,
    whose float summation order differs from the fold path's
    sequential zip_with/aggregate — a pair sitting exactly on the
    threshold or a 6dp rounding boundary could in principle flip
    between paths by ulps; equality is empirically hash-checked, not
    structurally guaranteed.)  The memory walls:

    - the fold baseline broadcasts the corpus (executor-memory bound),
    - ``embedding_neardup_pairs_gemm`` pulls the corpus matrix to the
      driver to create that broadcast (driver-memory bound);
    - THIS path never materializes the corpus anywhere. Each vector is
      hash-assigned to one of ``n_blocks`` blocks; the B(B+1)/2
      block-pair grid is a tiny literal broadcast; every vector is
      replicated to exactly B groups (its row meets each other block
      once), and one groupBy-applyInPandas scores each block pair with
      a float64 GEMM over ~2N/B-row matrices.

    Cost accounting at scale: shuffle volume is N×B rows (tunable),
    per-task memory is ~(2N/B)×dim×8 bytes (choose B so a block pair
    fits an executor core's budget), and compute remains O(N²·dim)
    FLOPs — irreducible for an EXACT all-pairs op. What this buys is
    scale-OUT: the quadratic work is spread over B(B+1)/2 independent
    BLAS tasks with no single-machine corpus copy, so the ceiling is
    cluster FLOPs, not driver or executor RAM. The sub-quadratic
    100 TB path remains ``embedding_neardup_lsh``.

    Correctness notes: a pair (i, j) lands in exactly one grid group —
    (blk_i, blk_j) ordered — so no dedup pass is needed; diagonal
    groups (a == a) receive one copy of the block and take the strict
    upper triangle by id; off-diagonal groups emit (min, max) so the
    output contract (id_a < id_b) holds regardless of hash order.
    Cosines are emitted raw by the kernel and rounded once JVM-side
    (``F.round`` 6dp, HALF_UP), identical to the fold/GEMM paths.
    """
    import numpy as np

    base = corpus.select(
        F.col(id_col).cast("long").alias("id"),
        _as_double(F.col(vec_col)).alias("vec"),
    ).withColumn("blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int"))
    spark = corpus.sparkSession
    grid = spark.createDataFrame(
        [(a, b) for a in range(n_blocks) for b in range(a, n_blocks)],
        "ga int, gb int",
    )
    left = base.join(F.broadcast(grid), base["blk"] == grid["ga"]).select(
        "ga", "gb", "id", "vec", F.lit("L").alias("side")
    )
    right = base.join(
        F.broadcast(grid.filter(F.col("ga") < F.col("gb"))),
        base["blk"] == grid["gb"],
    ).select("ga", "gb", "id", "vec", F.lit("R").alias("side"))

    def kernel(pdf):
        import pandas as pd

        lmask = pdf["side"].to_numpy() == "L"
        lids = pdf["id"].to_numpy(dtype=np.int64)[lmask]
        lmat = np.array(pdf["vec"][lmask].tolist(), dtype=np.float64)
        if not len(lids):
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        lnrm = np.sqrt((lmat * lmat).sum(axis=1))
        if pdf["ga"].iat[0] == pdf["gb"].iat[0]:
            sims = (lmat @ lmat.T) / (lnrm[:, None] * lnrm[None, :])
            hit = (sims >= threshold) & (lids[:, None] < lids[None, :])
            ai, bj = np.nonzero(hit)
            return pd.DataFrame(
                {"id_a": lids[ai], "id_b": lids[bj], "cosine": sims[ai, bj]}
            )
        rids = pdf["id"].to_numpy(dtype=np.int64)[~lmask]
        if not len(rids):
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        rmat = np.array(pdf["vec"][~lmask].tolist(), dtype=np.float64)
        rnrm = np.sqrt((rmat * rmat).sum(axis=1))
        sims = (lmat @ rmat.T) / (lnrm[:, None] * rnrm[None, :])
        ai, bj = np.nonzero(sims >= threshold)
        ia, ib = lids[ai], rids[bj]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "cosine": sims[ai, bj],
            }
        )

    return (
        left.unionByName(right)
        .groupBy("ga", "gb")
        .applyInPandas(kernel, "id_a long, id_b long, cosine double")
        .withColumn("cosine", F.round("cosine", 6))
    )


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 16,
    seed: str = "fxa-pq",
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al. 2011): the vector
    space splits into ``m`` equal subspaces; subspace ``s``'s
    ``n_codes`` codewords are the SUB-vectors of the corpus rows with
    the md5-smallest ``seed:s:id`` salts — the IVF determinism recipe
    (``ivf_centroids``) applied per subspace, so every engine (and the
    DuckDB oracle) re-derives the identical codebooks with no stored
    model.

    Build cost: ONE job — ids explode onto the m salts (N×m NARROW
    rows, no vectors shipped), a per-subspace rank window picks the
    n_codes winners, and one broadcast join-back fetches the m×n_codes
    winning vectors (the m-sequential-collect draft cost ~4.4s of the
    registry query's 19s at sf0.1 in per-job overhead alone).
    Returns codebooks[s][j] = codeword j of subspace s."""
    ranked = (
        corpus.select(F.col(id_col).alias("cid"))
        .select(
            "cid",
            F.explode(F.array(*[F.lit(s) for s in range(m)])).alias("s"),
        )
        .withColumn(
            "h",
            F.md5(
                F.concat(
                    F.lit(seed + ":"),
                    F.col("s").cast("string"),
                    F.lit(":"),
                    F.col("cid").cast("string"),
                )
            ),
        )
        .withColumn(
            "r",
            F.row_number().over(Window.partitionBy("s").orderBy("h", "cid")),
        )
        .filter(F.col("r") <= n_codes)
        .select("s", "r", "cid")
    )
    rows = (
        corpus.select(
            F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cv")
        )
        .join(F.broadcast(ranked), "cid")
        .select("s", "r", "cv")
        .collect()
    )
    # Loud guards: an empty corpus would IndexError at rows[0], and a
    # corpus smaller than n_codes would leave None codewords that only
    # fail later inside np.array() with an unrelated-looking error.
    if not rows:
        raise ValueError("pq_codebooks: corpus is empty")
    if len(rows) < m * n_codes:
        raise ValueError(
            f"pq_codebooks: corpus has {len(rows) // m} rows, "
            f"need >= n_codes ({n_codes}) per subspace"
        )
    sub_len = len(rows[0]["cv"]) // m
    books: list[list[list[float]]] = [
        [None] * n_codes for _ in range(m)  # type: ignore[list-item]
    ]
    for r in rows:
        books[r["s"]][r["r"] - 1] = list(
            r["cv"][r["s"] * sub_len : (r["s"] + 1) * sub_len]
        )
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """PQ encoding: per subspace, the index of the L2-nearest codeword
    (ties → smallest index) — m small integers per vector instead of
    d floats, the 64×-compression lever of a 100 TB ADC scan.

    This is an Arrow mapInPandas kernel, not a JVM expression tree:
    PQ encoding is dense linear algebra (the repo rule that put the
    GEMM near-dup kernels in numpy), and the expression formulations
    measured FAR worse — the unrolled m×n_codes fold tree spent its
    time in Catalyst analysis (~19s/query at sf0.1), the transform-HOF
    variant in interpreted nested-lambda eval (~24s); the kernel runs
    the same arithmetic vectorized in ~2s. Bit-compat is preserved by
    construction: per-term LEFT-TO-RIGHT accumulation
    (((t₀)+t₁)+t₂)+t₃ matches the JVM fold with 0.0 init and DuckDB's
    list_sum term order, and np.argmin's first-minimum rule IS the
    ties→smallest-index contract. Partition-preserving, zero shuffle.
    Output: (id, *keep, codes array<int>) — ``keep`` columns of
    ``corpus`` ride through the kernel unchanged."""
    import numpy as np

    m = len(codebooks)
    sub_len = len(codebooks[0][0])
    books = np.array(codebooks, dtype=np.float64)
    sel = corpus.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("_v"), *keep
    )
    out_schema = ", ".join(
        ["id long", *(f"{c} {sel.schema[c].dataType.simpleString()}" for c in keep),
         "codes array<int>"]
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            x = np.array(pdf["_v"].tolist(), dtype=np.float64)
            codes = np.empty((x.shape[0], m), dtype=np.int32)
            for s in range(m):
                xs = x[:, s * sub_len : (s + 1) * sub_len]
                c = books[s]
                t = xs[:, None, 0] - c[None, :, 0]
                d = t * t
                for i in range(1, sub_len):
                    t = xs[:, None, i] - c[None, :, i]
                    d = d + t * t
                codes[:, s] = np.argmin(d, axis=1)
            yield pd.DataFrame(
                {"id": pdf["id"].to_numpy(np.int64),
                 **{c: pdf[c].to_numpy() for c in keep}, "codes": list(codes)}
            )

    return sel.mapInPandas(kernel, out_schema)


def _pq_lut_from(session, qids, qmat, codebooks) -> DataFrame:
    """(query_id, s, code, part_micro) ADC lookup table over an
    already-pulled (ids, matrix) pair. The query side is a bounded
    serving batch (the ANN entries' standing assumption), so the LUT
    is computed driver-side — same left-to-right term accumulation as
    the encode kernel, and HALF_UP micro rounding via
    floor(x·1e6 + 0.5) (np.round is banker's — it would disagree with
    F.round/DuckDB on exact .5 ties; distances are ≥ 0 so
    floor(+0.5) is exactly HALF_UP). Taking the pulled pair (not the
    DataFrame) lets each query path pay ONE driver pull for probes,
    LUT and rerank side instead of a Spark job per consumer
    (guide §5: repeated small driver round-trips are per-query
    constants)."""
    import numpy as np

    m = len(codebooks)
    sub_len = len(codebooks[0][0])
    books = np.array(codebooks, dtype=np.float64)
    rows = []
    for qi, qv in zip(qids, qmat):
        for s in range(m):
            qs = qv[s * sub_len : (s + 1) * sub_len]
            c = books[s]
            t = qs[0] - c[:, 0]
            d = t * t
            for i in range(1, sub_len):
                t = qs[i] - c[:, i]
                d = d + t * t
            micro = np.floor(d * 1e6 + 0.5).astype(np.int64)
            rows.extend(
                (int(qi), s, j, int(micro[j])) for j in range(len(c))
            )
    return session.createDataFrame(
        rows, "query_id long, s int, code int, part_micro long"
    )


def _adc_rerank(
    codes: DataFrame,
    base: DataFrame,
    codebooks: list[list[list[float]]],
    qids,
    qmat,
    k: int,
    shortlist_factor: int,
) -> DataFrame:
    """The PQ back half shared by the in-session and persisted PQ and
    IVFPQ paths: each query's asymmetric distance is m LUT lookups
    summed in INTEGER micro-units (order-free, engine-exact — a float
    sum of the parts would diverge by ulps between engines and flip
    near-tie shortlist cuts), the ``shortlist_factor × k`` nearest
    survive, and ``_exact_topk`` reranks them against ``base`` (id,
    vec, nrm) with the pulled query batch (qids, qmat) as its query
    side.

    ``codes`` is the (id, s, code) stream, or a cell-probed IVFPQ
    stream that already carries query_id, which then keys the LUT
    join too. Both the LUT and the query side are broadcast, so the
    code stream never shuffles until the (query, id) aggregate."""
    session = codes.sparkSession
    lut = _pq_lut_from(session, qids, qmat, codebooks)
    on = [c for c in ("query_id", "s", "code") if c in codes.columns]
    adist = (
        codes.join(F.broadcast(lut), on)
        .filter(F.col("id") != F.col("query_id"))
        .groupBy("query_id", "id")
        .agg(F.sum("part_micro").alias("adist_micro"))
    )
    wl = Window.partitionBy("query_id").orderBy(
        F.col("adist_micro").asc(), F.col("id").asc()
    )
    short = (
        adist.withColumn("_r", F.row_number().over(wl))
        .filter(F.col("_r") <= shortlist_factor * k)
        .select("query_id", "id")
    )
    qbase = session.createDataFrame(
        [(int(qi), [float(x) for x in qv]) for qi, qv in zip(qids, qmat)],
        "query_id long, q_vec array<double>",
    ).withColumn("q_nrm", norm(F.col("q_vec")))
    cand = (
        short.join(base, "id")
        .join(F.broadcast(qbase), "query_id")
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.col("vec").alias("c_vec"),
            F.col("nrm").alias("c_nrm"),
            "q_vec",
            "q_nrm",
        )
    )
    return _exact_topk(cand, k)


def _manifest_codebooks(rows) -> list[list[list[float]]]:
    """Decode codebooks[s][j] from the (s, j, codeword) rows of a PQ
    manifest."""
    m = 1 + max(r["s"] for r in rows)
    n_codes = 1 + max(r["j"] for r in rows)
    books: list[list[list[float]]] = [
        [None] * n_codes for _ in range(m)  # type: ignore[list-item]
    ]
    for r in rows:
        books[r["s"]][r["j"]] = list(r["codeword"])
    return books


def _pq_base(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, vec, nrm): the exact-rerank side of a PQ index, norms
    computed once per row."""
    return corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("nrm", norm(F.col("vec")))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 16,
    shortlist_factor: int = 4,
    seed: str = "fxa-pq",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ ADC top-k with exact rerank — the memory-compression
    counterpart of the other ANN paths (same output schema as
    ``ivf_topk``): the corpus is scanned as m-byte codes, each query's
    asymmetric distance is m table lookups summed in integer
    micro-units, and the ``shortlist_factor × k`` ADC survivors are
    reranked by EXACT cosine in the original space (``_adc_rerank`` —
    output cosines are exact, approximation only affects WHICH
    candidates are considered).

    Plan shape: codes posexplode (N×m narrow rows) ⟗ broadcast LUT
    (Q×m×n_codes rows) — shuffle-free — then ONE exchange on
    (query, id) for the partial-agg distance sum and the per-query
    windows. At scale the ADC scan reads m bytes/vector instead of
    d floats (the PQ point); composing with IVF cell probes
    (``ivf_topk``'s assignment) gates the scan to probed cells — the
    full IVFPQ stack. Queries are assumed a bounded serving batch
    (broadcast both ways), like the other top-k entries.
    """
    if codebooks is None:
        codebooks = pq_codebooks(corpus, id_col, vec_col, m, n_codes, seed)
    codes = pq_encode(corpus, codebooks, id_col, vec_col).select(
        "id", F.posexplode("codes").alias("s", "code")
    )
    qids, qmat = _query_batch(queries, id_col, vec_col)
    return _adc_rerank(
        codes, _pq_base(corpus, id_col, vec_col), codebooks, qids, qmat, k,
        shortlist_factor,
    )


def pq_train_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 16,
    n_iter: int = 2,
    seed: str = "fxa-pq",
) -> list[list[list[float]]]:
    """DETERMINISTIC per-subspace L2 Lloyd's training for PQ — the
    quality upgrade over hash-sampled codebooks, with the
    ``kmeans_centroids`` reproducibility contract: assignment is the
    encoder's own argmin (ties to the smaller index), and the
    per-(subspace, code, dim) mean accumulates FIXED-POINT integer
    micro-units (round(x·1e6) as BIGINT summed), so trained codebooks
    are bit-identical under any partitioning or retry. PQ quantizes
    by L2, so training minimizes L2 too (cosine Lloyd's — the IVF
    trainer — would optimize the wrong metric here).

    ALL subspaces train in ONE aggregate job per iteration: encode
    (the Arrow ``pq_encode`` kernel assigns codes), posexplode
    (s, code), dim
    explode of the subspace slice, groupBy(s, code, dim) — driver
    traffic is m × n_codes × sub_len aggregate rows per iteration.
    Empty codes keep their previous codeword (deterministic, no
    respawn). n_iter=0 degrades to ``pq_codebooks``."""
    books = pq_codebooks(corpus, id_col, vec_col, m, n_codes, seed)
    sub_len = len(books[0][0])
    base = corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("e")
    )
    for _ in range(n_iter):
        enc = pq_encode(corpus, books, id_col, vec_col)
        rows = (
            base.join(enc, "id")
            .select("e", F.posexplode("codes").alias("s", "code"))
            .select(
                "s",
                "code",
                F.posexplode(
                    F.slice(F.col("e"), F.col("s") * sub_len + 1, sub_len)
                ).alias("dim", "x"),
            )
        )
        agg = (
            rows.groupBy("s", "code", "dim")
            .agg(
                F.sum(F.round(F.col("x") * 1e6).cast("long")).alias("sm"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new_books = [[list(cw) for cw in book] for book in books]
        for r in agg:
            new_books[r["s"]][r["code"]][r["dim"]] = (r["sm"] / 1e6) / r["n"]
        books = new_books
    return books


def _code_rows(encoded: DataFrame) -> DataFrame:
    """(id, cell, s, code): the IVFPQ code stream of a cell-tagged
    ``pq_encode`` output."""
    return encoded.select("id", "cell", F.posexplode("codes").alias("s", "code"))


def _ivfpq_tables(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    """(codes, vectors): the two cell-partitioned tables of a persisted
    IVFPQ index over ``corpus``, as built or upserted. The vectors
    table (id, vec, nrm, cell) is the cell assignment's own projection
    and the codes table encodes that same assigned frame, its cell
    riding through the kernel — each one corpus scan, no join."""
    assigned = _assign_cells(corpus, centroids, id_col, vec_col)
    vectors = assigned.select(
        F.col("neighbor_id").alias("id"),
        F.col("c_vec").alias("vec"),
        F.col("c_nrm").alias("nrm"),
        "cell",
    )
    codes = pq_encode(assigned, codebooks, "neighbor_id", "c_vec", keep=("cell",))
    return _code_rows(codes), vectors


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 4,
    n_codes: int = 16,
    shortlist_factor: int = 4,
    seed: str = "fxa-ivf",
    pq_seed: str = "fxa-pq",
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """The full IVFPQ serving stack (Jégou et al. 2011 §IV): the IVF
    cell probe bounds WHICH vectors are scanned, PQ codes bound WHAT
    is read per vector, and the exact-cosine rerank bounds what the
    approximation can cost — composition of ``ivf_topk``'s
    deterministic cell assignment with ``pq_topk``'s integer-micro
    ADC, same output schema as both.

    Plan shape: corpus→cell assignment and PQ encoding are one scan
    of JVM expressions; the probe gate (query_id × probed cell) and
    the LUT are BOTH broadcast joins, so the code stream never
    shuffles until the single (query, id) distance aggregation. At
    100 TB with the persisted-index layout (``ivf_build_index``'s
    cell partitioning) the probe gate becomes partition PRUNING and
    the ADC scan reads m bytes per candidate — the standard
    billion-vector serving shape. Recall composes multiplicatively:
    cell recall (n_probe/n_cells curve, IVF_RECALL.json) × ADC
    shortlist recall (pq_topk's sweep) — pinned as a floor in
    tests/test_similarity_recall.py.
    """
    # centroids/codebooks are index-build artifacts: at scale they are
    # computed once and reused across query batches, so callers may
    # pass them (e.g. derived from an unshuffled scan of the same
    # table — the ivf_topk `centroid_source` rationale)
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, id_col, vec_col, n_cells, seed)
    )
    if codebooks is None:
        codebooks = pq_codebooks(corpus, id_col, vec_col, m, n_codes, pq_seed)
    cells = _assign_cells(corpus, cents, id_col, vec_col).select(
        F.col("neighbor_id").alias("id"), "cell"
    )
    codes = _code_rows(pq_encode(corpus, codebooks, id_col, vec_col).join(cells, "id"))
    # probe cells from the pulled batch via the bit-exact _cell_exprs
    # replica
    qids, qmat = _query_batch(queries, id_col, vec_col)
    probes = queries.sparkSession.createDataFrame(
        [(qi, int(c)) for qi, _, cells in _nearest_cells_rows(qids, qmat, cents, n_probe)
         for c in cells],
        "query_id long, cell int",
    )
    return _adc_rerank(
        codes.join(F.broadcast(probes), "cell"),
        _pq_base(corpus, id_col, vec_col),
        codebooks, qids, qmat, k, shortlist_factor,
    )


def _auto_planes(
    n_rows: int, n_planes: int, target_bucket_rows: int, max_planes: int = 16
) -> int:
    """Smallest plane count ≥ ``n_planes`` keeping the expected
    multiprobe bucket load (n_rows × (planes+1) probes / 2^planes
    buckets) under ``target_bucket_rows``. With FIXED planes the
    candidate count grows as N²/2^p — quadratic at scale; growing p
    logarithmically with N keeps it ~linear (measured: sf1's 20k
    corpus went 135s → ~2s). Capped: beyond max_planes the bucket key
    no longer discriminates for 64-dim vectors."""
    p = n_planes
    while p < max_planes and n_rows * (p + 1) > target_bucket_rows * (1 << p):
        p += 1
    return p


def embedding_neardup_lsh(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int = 2,
    dim: int | None = None,
    target_bucket_rows: int | None = 256,
) -> DataFrame:
    """Scale-path near-dup: hyperplane-LSH bucket join, then exact
    cosine filter. A θ-close pair shares a table's n-bit bucket with
    probability (1 - θ/π)^n; recall is raised two ways — one-bit-flip
    multiprobe on the left side, and n_tables independent hash tables
    (miss probability decays exponentially in tables). Shuffles on
    the (table, bucket) key instead of materializing N² pairs.
    Approximate (recall < 1); same output schema as
    embedding_neardup_pairs.

    ``dim`` (vector dimensionality) is probed from the corpus when
    not given — pass it when ``corpus`` carries a shuffle (e.g. a
    repartition) so the probe doesn't execute that shuffle.

    Parameter trade-off, measured at sf0.1 (2000×64, θ=0.4):
    (planes=4, tables=3) recall 0.92 @ ~3.0s; (5,3) 0.80 @ 2.3s;
    (5,4) 0.88 @ 2.7s; (6,4) 0.76 @ 2.7s. The default keeps the
    highest-recall point — for a training-data dedup, a missed
    near-dup is contamination, worth ~25% more candidate scoring.

    An EXPLICIT ``n_planes`` is PINNED — used exactly as given, never
    auto-grown — so a caller (and its oracle) can rely on a fixed
    bucket-key width at any corpus size. When ``n_planes`` is left
    ``None``, the plane count starts at 4 and auto-scales with corpus
    size (``target_bucket_rows``, one count() job) so the expected
    bucket load stays bounded — without it candidates grow as N²/2^p
    and the "scale path" is quadratic in disguise (135s at a
    20k-vector sf1, slower than the labeled GEMM baseline). Recall
    stays high under auto-growth in the operator's near-dup regime:
    at θ=0.95 each extra plane flips with probability arccos(θ)/π ≈
    0.10, so even p=10 keeps ≥0.98 recall over 3 tables (identical
    duplicates are always found — zero flip probability). For BROAD
    similarity thresholds (θ≲0.5) plane growth DOES cost recall
    (boundary-pair recall at θ=0.4 drops ~0.9 → ~0.2 by p=10) —
    there, pin ``n_planes`` explicitly (accepting the larger
    candidate set) or use IVF. ``target_bucket_rows=None`` also
    disables auto-scaling, keeping the default 4 planes.
    """
    if n_planes is None:
        n_planes = 4
        if target_bucket_rows is not None:
            n_planes = _auto_planes(corpus.count(), n_planes, target_bucket_rows)
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    base = corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("nrm", norm(F.col("vec")))
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, seed=f"fxa-lsh:{t}")
        base = bucket_ids(base, "vec", planes, out_col=f"_b{t}")
    # left side probes its own bucket + every one-bit flip, per table
    a_keys = F.flatten(
        F.array(
            *[
                F.array(
                    F.struct(F.lit(t).alias("t"), F.col(f"_b{t}").alias("bk")),
                    *[
                        F.struct(
                            F.lit(t).alias("t"),
                            F.col(f"_b{t}")
                            .bitwiseXOR(F.lit(1 << p))
                            .cast("long")
                            .alias("bk"),
                        )
                        for p in range(n_planes)
                    ],
                )
                for t in range(n_tables)
            ]
        )
    )
    b_keys = F.array(
        *[
            F.struct(F.lit(t).alias("t"), F.col(f"_b{t}").alias("bk"))
            for t in range(n_tables)
        ]
    )
    # Join carries the vectors and computes the cosine per bucket
    # match, deduping at the end: measured AGAINST the
    # dedup-pairs-then-reattach-vectors formulation (ids-only join →
    # distinct → two vector joins), which was ~1.6× slower here —
    # the cross-table duplication factor (≤ n_tables) is too low to
    # pay for two extra shuffles/joins. Revisit if n_tables grows.
    a = base.select(
        F.col("id").alias("id_a"),
        F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
        F.explode(a_keys).alias("k"),
    )
    b = base.select(
        F.col("id").alias("id_b"),
        F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
        F.explode(b_keys).alias("k"),
    )
    return (
        a.join(b, "k")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cosine"))
        .dropDuplicates(["id_a", "id_b"])
    )


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: str = "fxa-ivf",
) -> list[list[float]]:
    """IVF index build: deterministic hash-sampled centroids (the
    md5-smallest n_cells ids) — no training loop, reproducible across
    runs, collected to the driver (n_cells × dim floats). Run once
    and pass to ivf_topk(centroids=...) across query batches."""
    rows = (
        corpus.select(F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cv"))
        .withColumn("h", F.md5(F.concat(F.lit(seed + ":"), F.col("cid").cast("string"))))
        .orderBy("h", "cid")
        .limit(n_cells)
        .collect()
    )
    return [list(r["cv"]) for r in rows]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    seed: str = "fxa-ivf",
    centroid_source: DataFrame | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus into cells around
    centroid vectors; queries score only the n_probe nearest cells.

    Centroids are a deterministic hash-sample of the corpus itself
    (the md5-smallest n_cells ids) — no training loop, reproducible
    across runs, collected to the driver (n_cells × dim floats) and
    broadcast as literals. Cell assignment and probing are one
    broadcast-join map each; the candidate join is equi-keyed on
    cell — the corpus shuffles once, candidates shrink ~n_cells /
    n_probe fold. Output schema matches brute_force_topk; recall < 1.

    ``centroid_source`` (default: ``corpus``) feeds the centroid
    sample only — pass an unshuffled scan of the same table when
    ``corpus`` carries a repartition, so the 16-row driver sample
    doesn't execute that shuffle. ``centroids`` (n_cells × dim
    floats) skips the sampling job entirely — IVF's index-build
    (centroid selection) and query phases are separate at scale;
    compute once with ivf_centroids() and reuse across queries.
    """
    if centroids is None:
        centroids = ivf_centroids(
            centroid_source if centroid_source is not None else corpus,
            id_col=id_col,
            vec_col=vec_col,
            n_cells=n_cells,
            seed=seed,
        )
    nearest_cells = _cell_exprs(centroids)
    c = _assign_cells(corpus, centroids, id_col, vec_col)
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("q_vec")
        )
        .withColumn("q_nrm", norm(F.col("q_vec")))
        .withColumn("cell", F.explode(nearest_cells(F.col("q_vec"), F.col("q_nrm"), n_probe)))
    )
    # (query, neighbor) pairs are already unique: each neighbor lives
    # in exactly ONE cell and a query's probe cells are distinct — no
    # dedup shuffle needed
    return _exact_topk(
        c.join(q, "cell").filter(F.col("query_id") != F.col("neighbor_id")), k
    )


def _nearest_cells_rows(qids, qmat, centroids, n):
    """Driver-side replica of ``_cell_exprs`` over an already-pulled
    query batch: the same sequential-fold dot (``dot()``), the same
    ``_py_norm`` norms, and the same array_sort/reverse tie order
    (cos desc then cell desc; NaN sorts first, matching Spark's
    NaN-largest double ordering). Python floats are IEEE binary64
    like Spark doubles, so probe sets are bit-identical — without
    compiling the centroid-literal expression tree into a separate
    per-call collect job (guide §1.2: per-query constants).

    Returns [(query_id, q_nrm, [cell, ...])] per query."""
    import math as _math

    cn = [_py_norm(list(c)) for c in centroids]
    out = []
    for qi, qv in zip(qids, qmat):
        qvf = [float(x) for x in qv]
        qn = _py_norm(qvf)
        scored = []
        for i, cv in enumerate(centroids):
            acc = 0.0
            for x, y in zip(qvf, cv):
                acc = acc + x * y
            c = acc / (qn * cn[i])
            nan = _math.isnan(c)
            scored.append((nan, 0.0 if nan else c, i))
        scored.sort()
        scored.reverse()
        out.append((int(qi), qn, [t[2] for t in scored[:n]]))
    return out


def _cell_exprs(centroids: list[list[float]]):
    """Build the shared cell-assignment closure over a centroid
    literal; returns ``nearest_cells(vec, nrm, n) -> Column`` (array
    of the n cell ids with highest cosine to vec). The row norm is
    bound OUTSIDE the per-centroid lambda (cosine() inline would
    re-fold norm(vec) once per centroid)."""
    cents_lit, cnorms_lit = _centroid_lits(tuple(tuple(c) for c in centroids))

    def nearest_cells(vec: F.Column, nrm: F.Column, n: int) -> F.Column:
        scored = F.transform(
            cents_lit,
            lambda cv, i: F.struct(
                (dot(vec, cv) / (nrm * F.element_at(cnorms_lit, i + 1))).alias("cos"),
                i.alias("cell"),
            ),
        )
        top = F.slice(F.reverse(F.array_sort(scored)), 1, n)
        return F.transform(top, lambda s: s["cell"])

    return nearest_cells


@functools.lru_cache(maxsize=16)
def _centroid_lits(centroids: tuple[tuple[float, ...], ...]):
    """The centroid matrix and norm literals, memoized like
    ``_bucket_expr``: F.lit of a nested list is one py4j call per
    float (~0.2 s for 16×64 centroids), and ivf_topk assigns its
    corpus and probes its queries against the same centroids.
    Centroid norms are plan-time Python floats — IEEE binary64 with
    the same sequential fold order as norm(), bitwise-equal to JVM
    evaluation."""
    return (
        F.lit([list(c) for c in centroids]),
        F.lit([_py_norm(list(c)) for c in centroids]),
    )


def _assign_cells(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid's cell — the shared
    kernel of the IVF and IVFPQ builds, upserts and in-session top-k.
    One scan, no shuffle; norms are projected once per row. coalesce
    makes ``cell`` NON-NULLABLE (the [0] getItem alone is nullable), so
    a join's inferred isnotnull(cell) folds to true instead of being
    pushed to the scan with the whole cell expression substituted —
    which would evaluate the assignment TWICE per row (the
    pushdown-duplication trap)."""
    nearest_cells = _cell_exprs(centroids)
    return (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("c_vec"),
        )
        .withColumn("c_nrm", norm(F.col("c_vec")))
        .withColumn(
            "cell",
            F.coalesce(nearest_cells(F.col("c_vec"), F.col("c_nrm"), 1)[0], F.lit(0)),
        )
    )


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_iter: int = 5,
    seed: str = "fxa-ivf",
) -> list[list[float]]:
    """DETERMINISTIC distributed Lloyd's k-means for IVF training —
    the quality upgrade over hash-sampled centroids, with the same
    reproducibility contract.

    Per iteration: assign every vector to its nearest current
    centroid (one scan, the shared `_cell_exprs` closure — no
    shuffle), then recompute per-cell means via posexplode +
    groupBy(cell, dim). The accumulation is FIXED-POINT: each
    component is snapped to integer micro-units
    (round(x·1e6) as BIGINT) and summed as integers — associative and
    order-free, so the trained centroids are bit-identical under any
    partitioning or retry (the engine's micro-quantization precedent:
    BM25 idf, lm_score micro-nats). Float-sum training would drift by
    ulps per run and make every downstream IVF result
    irreproducible. Overflow headroom: |x|≲1e3 → 1e9-scaled ≲1e9 per
    row, 9.2e18 BIGINT ceiling allows ~1e9 rows per cell per dim.

    Per-iteration driver traffic is n_cells × dim aggregate rows
    (tiny); the corpus is scanned n_iter+0 times and never shuffled
    on a wide key — the classic Lloyd's plan. Empty cells keep their
    previous centroid (no respawn — deterministic). Init =
    ``ivf_centroids`` (md5-smallest ids), so n_iter=0 degrades to the
    existing hash-sampled build.
    """
    base = (
        corpus.select(_as_double(F.col(vec_col)).alias("v"))
        .withColumn("nrm", norm(F.col("v")))
        .filter(F.col("nrm") > 0)
    )
    cents = ivf_centroids(corpus, id_col, vec_col, n_cells, seed)
    for _ in range(n_iter):
        nearest = _cell_exprs(cents)
        assigned = base.withColumn(
            "cell", F.coalesce(nearest(F.col("v"), F.col("nrm"), 1)[0], F.lit(0))
        )
        agg = (
            assigned.select(
                "cell", F.posexplode(F.col("v")).alias("pos", "x")
            )
            .groupBy("cell", "pos")
            .agg(
                F.sum(F.round(F.col("x") * 1e6).cast("bigint")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_cell: dict[int, dict[int, tuple[int, int]]] = {}
        for r in agg:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = (r["s"], r["n"])
        new_cents = []
        for ci, old in enumerate(cents):
            dims = by_cell.get(ci)
            if not dims:
                new_cents.append(list(old))  # empty cell: keep centroid
                continue
            new_cents.append(
                [dims[p][0] / 1e6 / dims[p][1] for p in range(len(old))]
            )
        cents = new_cents
    return cents


def ivf_build_index(
    lake,
    corpus: DataFrame,
    name: str = "ivf",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: str = "fxa-ivf",
    centroid_source: DataFrame | None = None,
    train_iters: int = 0,
) -> None:
    """Persist the IVF index to the lake — the build-once/query-many
    index story at storage level:

    - ``{name}_cells_v{N}``: the assigned corpus (neighbor_id, c_vec,
      c_nrm, cell), PARTITIONED BY cell, staged under a fresh version;
    - ``{name}_centroids``: (cell, centroid, cells_table, n_vectors)
      — n_cells rows, the index MANIFEST. Its ``cells_table`` column
      names the live cells version, and it is committed through
      ``_lakeindex.commit`` (written last, then the replaced versions
      are dropped), so no path ever mixes one build's centroids with
      another's cells.

    Because assignments are cell-partition directories, a query's
    n_probe probed cells become partition-PRUNED scans: at 100 TB the
    index read touches ~n_probe/n_cells of the corpus bytes instead
    of filtering a full scan (pinned via PartitionFilters in tests).
    Norms are precomputed at build time, so queries never re-fold
    corpus vectors. Rebuilding re-trains centroids; for corpus deltas
    against FIXED centroids use ``ivf_upsert_index``.

    ``train_iters > 0`` refines the hash-sampled init with that many
    deterministic Lloyd's iterations (``kmeans_centroids``) — better
    cell balance and recall at the cost of train_iters corpus scans,
    run once offline at build time.
    """
    trainer = centroid_source if centroid_source is not None else corpus
    if train_iters > 0:
        centroids = kmeans_centroids(
            trainer, id_col=id_col, vec_col=vec_col,
            n_cells=n_cells, n_iter=train_iters, seed=seed,
        )
    else:
        centroids = ivf_centroids(
            trainer, id_col=id_col, vec_col=vec_col,
            n_cells=n_cells, seed=seed,
        )
    tbl, stale = stage(lake, name, ("cells",))
    lake.write_parts(tbl["cells"], _assign_cells(corpus, centroids, id_col, vec_col), "cell")
    _commit_centroids(
        lake, name, centroids, lake.read(tbl["cells"]).count(), stale,
        cells_table=tbl["cells"],
    )


def _read_centroids(lake, name: str, fn_name: str):
    """(centroids in cell order, manifest head row) of an IVF/IVFPQ
    ``{name}_centroids`` manifest — the one reader of it."""
    rows = sorted(read_manifest(lake, f"{name}_centroids", fn_name), key=lambda r: r["cell"])
    return [list(r["centroid"]) for r in rows], rows[0]


def _commit_centroids(
    lake, name: str, centroids, n_vectors: int, stale=(), **tables: str
) -> None:
    """Commit the ``{name}_centroids`` manifest — the one writer of it:
    one row per cell carrying its centroid, the ``tables`` of the live
    build (``cells_table`` for IVF; ``codes_table``, ``vectors_table``
    and ``codebooks_table`` for IVFPQ) and the corpus size
    ``n_vectors``. The size lives in the manifest so filtered queries
    compute selectivity from this bounded driver-side read instead of
    a count job per call (VERDICT r12 item 3); builds count the
    footers of the table they just wrote, upserts add the merge's row
    delta."""
    df = lake.spark.createDataFrame(
        [(i, list(cv), *tables.values(), n_vectors) for i, cv in enumerate(centroids)],
        "cell int, centroid array<double>, "
        + "".join(f"{t} string, " for t in tables)
        + "n_vectors long",
    )
    commit(lake, f"{name}_centroids", df, stale)


def ivf_cells_table(lake, name: str = "ivf") -> str:
    """Resolve the live cells table from the centroids manifest."""
    return _read_centroids(lake, name, "ivf_cells_table")[1]["cells_table"]


def ivf_upsert_index(
    lake,
    new_vectors: DataFrame,
    name: str = "ivf",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: assign ``new_vectors`` to the
    EXISTING centroids and merge them into the live cells table,
    rewriting ONLY the touched cell partitions (the lake's
    incremental contract applied to the index). A re-upserted id
    replaces its prior row — including across cells if its embedding
    changed (Lake.merge_replace's moved-key handling). Centroids are
    not re-trained; run ``ivf_build_index`` for that.
    """
    centroids, head = _read_centroids(lake, name, "ivf_upsert_index")
    cells_tbl = head["cells_table"]
    n_prior = _manifest_n_vectors(lake, head, "cells_table")
    delta = lake.merge_replace(
        cells_tbl, _assign_cells(new_vectors, centroids, id_col, vec_col),
        "cell", "neighbor_id",
    )
    _commit_centroids(lake, name, centroids, n_prior + delta, cells_table=cells_tbl)


def _one_col(candidate_ids: DataFrame) -> str:
    """Validate the filtered-search id frame is single-column and
    return that column's name (ADVICE r11: silently using the first
    column of a wide frame could filter on the wrong column)."""
    if len(candidate_ids.columns) != 1:
        raise ValueError(
            f"candidate_ids must be a single-column id frame; got "
            f"{candidate_ids.columns} — .select() the id column "
            f"(silently filtering on the first column would ignore "
            f"the rest)"
        )
    return candidate_ids.columns[0]


def _escalate_probes(
    n_probe: int, n_cells: int, n_allowed: int, n_corpus: int
) -> int:
    """Candidate-aware probe escalation for FILTERED search
    (VERDICT r11 item 6): a selective filter starves a fixed-n_probe
    shortlist — the allowed ids may concentrate outside the probed
    cells, so recall@k collapses as selectivity drops. Unfiltered,
    ``n_probe`` cells yield ~n_probe·(N/C) candidates per query;
    with an allowed fraction s = n_allowed/N, recovering the same
    EXPECTED number of allowed candidates needs ~n_probe/s cells.
    Escalate to that, clamped to [n_probe, n_cells] — at full
    selectivity this is a no-op, and the worst case (tiny filter) is
    a full-probe scan of the filtered stream, which the semi-join
    has already cut to n_allowed rows, so the extra probes do NOT
    re-inflate the scored stream. Pure driver arithmetic from two
    counts (the allowed set is broadcast-scale; the corpus count is
    parquet-metadata cheap)."""
    if n_allowed <= 0:
        return n_cells
    s = n_allowed / max(n_corpus, 1)
    return max(n_probe, min(n_cells, math.ceil(n_probe / max(s, 1e-12))))


def _manifest_n_vectors(lake, head, table_key: str) -> int:
    """Corpus size from the centroid manifest's head row when the
    build recorded it (every build/upsert since r13 does); counting
    the ``table_key`` table is the legacy-manifest fallback only.
    Upserts add their merge's partition-pruned row delta to it — a
    crash before their commit only skews auto_probe until the next
    upsert or build."""
    if "n_vectors" in head.__fields__ and head["n_vectors"] is not None:
        return head["n_vectors"]
    return lake.read(head[table_key]).count()


def _validate_candidate_subset(
    lake, candidate_ids: DataFrame, table: str, id_name: str, fn_name: str
) -> None:
    """Opt-in enforcement of the candidate_ids subset contract
    (VERDICT r13): anti-join the filter frame against the index's id
    column and raise on any foreign id.  This pays a column-pruned
    scan of the index table — exactly the corpus-scale cost the hot
    path avoids by making the contract the caller's responsibility —
    so it is OFF by default and meant for tests/debugging, where a
    violated contract should be loud instead of silently
    under-escalating auto_probe."""
    fcol = _one_col(candidate_ids)
    cand = candidate_ids.select(F.col(fcol).alias(id_name)).distinct()
    indexed = lake.read(table).select(id_name)
    sample = [
        r[id_name] for r in cand.join(indexed, id_name, "left_anti").limit(5).collect()
    ]
    if sample:
        raise ValueError(
            f"{fn_name}: candidate_ids contains ids absent from the index "
            f"(e.g. {sample}) — stale/foreign ids overstate selectivity and "
            f"under-escalate probes; intersect the filter frame with the "
            f"indexed corpus before querying"
        )


def _semi_filter(
    df: DataFrame,
    candidate_ids: DataFrame | None,
    id_name: str,
    broadcast_filter: bool,
) -> DataFrame:
    """Filtered vector search: restrict an index candidate stream to
    an allowed-id set (the metadata predicate's result, computed by
    the caller over its own doc/attribute tables). LEFT SEMI so the
    stream never duplicates; broadcast by default because filter sets
    that matter (a language, a source, a split) are tiny next to the
    corpus — pass broadcast_filter=False for corpus-scale filters and
    let AQE pick the join."""
    if candidate_ids is None:
        return df
    fcol = _one_col(candidate_ids)
    allowed = candidate_ids.select(F.col(fcol).alias(id_name)).distinct()
    if broadcast_filter:
        allowed = F.broadcast(allowed)
    return df.join(allowed, id_name, "left_semi")


def ivf_query_index(
    lake,
    queries: DataFrame,
    name: str = "ivf",
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidate_ids: DataFrame | None = None,
    broadcast_filter: bool = True,
    auto_probe: bool = True,
    validate_candidates: bool = False,
) -> DataFrame:
    """Query the persisted IVF index: probe cells are chosen against
    the stored centroids (driver-side, n_cells rows) and ONLY those
    cell partitions of the manifest's live cells table are read (isin
    over the partition column → partition pruning). Identical
    semantics/ranking to ``ivf_topk`` with the same centroids.

    ``candidate_ids`` (one id column, any name) makes this a FILTERED
    search: only those ids are scored, i.e. top-k *within* a metadata
    predicate (language, source, split, ...). The filter lands on the
    partition-pruned cells scan itself — before any scoring or
    shuffle — so a selective predicate cuts the candidate stream
    proportionally. Pre-filtering semantics: k survivors are
    guaranteed per query; recall against the filtered brute-force
    twin is pinned in tests/test_ivf_index.py. With ``auto_probe``
    (default), a selective filter escalates the probe count by
    1/selectivity (``_escalate_probes``) so the shortlist is built
    from roughly as many ALLOWED candidates as an unfiltered query
    sees — without it, recall at low n_probe collapses once the
    allowed ids concentrate outside the probed cells (measured in
    FILTERED_RECALL.json; floor pinned in tests). No effect on
    unfiltered queries or full-probe calls.
    """
    def score(head, cells, qids, qmat, qrows):
        # the query frame is a local relation carrying the replica's
        # driver-side norms
        q = queries.sparkSession.createDataFrame(
            [
                (qi, [float(x) for x in qv], qn, int(c))
                for (qi, qn, probed), qv in zip(qrows, qmat)
                for c in probed
            ],
            "query_id long, q_vec array<double>, q_nrm double, cell int",
        )
        return _exact_topk(
            cells.join(q, "cell").filter(F.col("query_id") != F.col("neighbor_id")), k
        )

    return _probe_index(
        lake, queries, name, "ivf_query_index", n_probe, id_col, vec_col,
        candidate_ids, broadcast_filter, auto_probe, validate_candidates,
        scan_key="cells_table", vectors_key="cells_table", id_name="neighbor_id",
        score=score,
    )


def _probe_index(
    lake, queries: DataFrame, name: str, fn_name: str, n_probe: int,
    id_col: str, vec_col: str, candidate_ids: DataFrame | None,
    broadcast_filter: bool, auto_probe: bool, validate_candidates: bool,
    *, scan_key: str, vectors_key: str, id_name: str, score,
) -> DataFrame:
    """The probe step shared by ``ivf_query_index`` and
    ``ivfpq_query_index``: read the centroid manifest, (opt-in)
    validate ``candidate_ids``, escalate the probe count for a
    selective filter, pull the query batch and pick each query's
    probe cells driver-side with the bit-exact ``_cell_exprs`` replica,
    then read ONLY the probed cell partitions of the manifest's
    ``scan_key`` table (isin over the partition column → partition
    pruning), semi-filtered to the allowed ids on ``id_name``.

    ``vectors_key`` names the one-row-per-vector table that foreign
    ids are checked against and that legacy manifests count. The
    caller's ``score(head, scan, qids, qmat, qrows)`` builds its result
    from the manifest head row, the pruned scan, the pulled query
    batch and the replica's [(query_id, q_nrm, [cell, ...])]; an empty
    batch returns the empty top-k frame without calling it."""
    centroids, head = _read_centroids(lake, name, fn_name)
    if candidate_ids is not None and validate_candidates:
        _validate_candidate_subset(lake, candidate_ids, head[vectors_key], id_name, fn_name)
    if candidate_ids is not None and auto_probe and n_probe < len(centroids):
        # candidate_ids must be a SUBSET of indexed ids: stale/foreign
        # ids inflate n_allowed, overstate selectivity, and
        # under-escalate (ADVICE r12) — the caller owns that contract
        # because intersecting here would cost the very corpus-scale
        # scan auto_probe exists to avoid (validate_candidates=True
        # opts into that scan to make violations loud in tests)
        n_probe = _escalate_probes(
            n_probe,
            len(centroids),
            candidate_ids.select(_one_col(candidate_ids)).distinct().count(),
            _manifest_n_vectors(lake, head, vectors_key),
        )
    qids, qmat = _query_batch(queries, id_col, vec_col)
    qrows = _nearest_cells_rows(qids, qmat, centroids, n_probe)
    probed = sorted({int(c) for _, _, cells in qrows for c in cells})
    if not probed:
        # empty query batch: isin() with zero args would raise
        return queries.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, cosine double"
        )
    scan = lake.read(head[scan_key]).filter(F.col("cell").isin(*[F.lit(p) for p in probed]))
    scan = _semi_filter(scan, candidate_ids, id_name, broadcast_filter)
    return score(head, scan, qids, qmat, qrows)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    multiprobe: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via hyperplane-LSH bucketing.

    Queries probe their own bucket plus (multiprobe) every
    one-bit-flip neighbor bucket. Join is equi-keyed on bucket — the
    corpus shuffles once on bucket, candidates shrink ~2^n_planes /
    (1 + n_planes) fold. Output schema matches brute_force_topk.
    ``dim`` as in embedding_neardup_lsh.
    """
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    planes = hyperplanes(dim, n_planes)
    # cast + norm once per row, below the bucket join (cosine() at
    # score time would cast and re-fold both norms per candidate pair)
    c = bucket_ids(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("c_vec")
        ).withColumn("c_nrm", norm(F.col("c_vec"))),
        "c_vec",
        planes,
    )
    q = bucket_ids(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("q_vec")
        ).withColumn("q_nrm", norm(F.col("q_vec"))),
        "q_vec",
        planes,
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p)).cast("long")
                for p in range(n_planes)
            ],
        )
        q = q.select(
            "query_id", "q_vec", "q_nrm", F.explode(probes).alias("bucket")
        )
    # pairs are unique without dedup: the corpus row sits in ONE
    # bucket and the multiprobe list (bucket + distinct 1-bit flips)
    # has no repeats
    return _exact_topk(
        c.join(q, "bucket").filter(F.col("query_id") != F.col("neighbor_id")), k
    )


def embedding_decontam(
    corpus: DataFrame,
    probes: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "vec_id",
    probe_vec_col: str = "embedding",
    gemm_min_probes: int = 64,
    max_probe_bytes: int = 1 << 30,
) -> DataFrame:
    """Semantic decontamination: flag corpus vectors whose cosine to
    ANY benchmark/eval ("probe") vector reaches ``threshold`` — the
    embedding analogue of ngram_decontaminate, catching paraphrased
    benchmark leakage the n-gram test misses.

    Same scale asymmetry as the n-gram path: benchmarks are small, so
    the probe side BROADCASTS (vectors + precomputed norms) and the
    corpus side is one scan — the corpus never shuffles and no
    candidate-generation index is needed because |probes| is
    benchmark-sized.

    TWO physical paths, same results (the neardup fold/GEMM
    precedent): small probe sets use the JVM fold per (row, probe) —
    zero Python, the parity shape; once the probe count reaches
    ``gemm_min_probes`` (one count() job), the fold's O(C·P·d)
    interpreted cost dominates and the probe matrix instead
    broadcasts into an Arrow ``mapInPandas`` kernel doing one BLAS
    multiply per corpus batch — measured 170s → ~3s at sf10's 4k
    probes × 196k corpus. The GEMM kernel emits RAW cosines and the
    6dp rounding happens JVM-side (``F.round``, HALF_UP) on BOTH
    paths — one rounding rule, so an exact 6dp-tie cosine cannot
    split the fold path, the GEMM path, and the DuckDB oracle.
    ``max_probe_bytes`` guards the driver pull on the GEMM path
    (charged at 2× the matrix — the realistic Arrow-pull peak).

    Output: (corpus_id, probe_id, cosine) — one row per contaminated
    (corpus, probe) pair; anti-join the distinct corpus_ids to clean.

    Zero-norm vectors are dropped on BOTH sides before the join: a
    zero vector has no defined cosine (and cannot be contaminated),
    and under ANSI mode a single degenerate row anywhere in 100 TB
    would otherwise fail the whole job with DIVIDE_BY_ZERO. The
    DuckDB oracle mirrors the same ``nrm > 0`` predicate.
    """
    import numpy as np

    c = (
        corpus.select(
            F.col(id_col).alias("corpus_id"),
            _as_double(F.col(vec_col)).alias("cv"),
        )
        .withColumn("c_nrm", norm(F.col("cv")))
        .filter(F.col("c_nrm") > 0)
    )
    p = (
        probes.select(
            F.col(probe_id_col).alias("probe_id"),
            _as_double(F.col(probe_vec_col)).alias("pv"),
        )
        .withColumn("p_nrm", norm(F.col("pv")))
        .filter(F.col("p_nrm") > 0)
    )
    n_probes = p.count()
    if n_probes < gemm_min_probes:
        pairs = c.crossJoin(F.broadcast(p)).withColumn(
            "cos", dot(F.col("cv"), F.col("pv")) / (F.col("c_nrm") * F.col("p_nrm"))
        )
        return (
            pairs.filter(F.col("cos") >= threshold)
            .select("corpus_id", "probe_id", F.round("cos", 6).alias("cosine"))
        )

    head = p.select("pv").first()
    est = n_probes * (len(head[0]) * 8 * 2 + 8)
    if est > max_probe_bytes:
        raise ValueError(
            f"probe matrix pull peak ~{est >> 20} MiB exceeds the broadcast "
            f"budget ({max_probe_bytes >> 20} MiB); decontam probes are "
            "benchmark-sized by contract — shard the probe set across calls"
        )
    pids, pmat = _pull_matrix(p, "probe_id", "pv")
    pnrm = np.sqrt((pmat * pmat).sum(axis=1))
    bc = corpus.sparkSession.sparkContext.broadcast((pids, pmat, pnrm))

    def kernel(batches):
        import pandas as pd

        bpids, bpmat, bpnrm = bc.value
        for cdf in batches:
            if cdf.empty:
                continue
            cids = cdf["corpus_id"].to_numpy(dtype=np.int64)
            cmat = np.array(cdf["cv"].tolist(), dtype=np.float64)
            cnrm = cdf["c_nrm"].to_numpy(dtype=np.float64)
            # filter on the raw cosine (the fold path's convention);
            # emission stays raw too — the 6dp round is applied
            # JVM-side below so both paths share one rounding rule
            sims = (cmat @ bpmat.T) / (cnrm[:, None] * bpnrm[None, :])
            ci, pj = np.nonzero(sims >= threshold)
            if len(ci):
                yield pd.DataFrame(
                    {
                        "corpus_id": cids[ci],
                        "probe_id": bpids[pj],
                        "cosine": sims[ci, pj],
                    }
                )

    return c.mapInPandas(
        kernel, "corpus_id long, probe_id long, cosine double"
    ).withColumn("cosine", F.round("cosine", 6))


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    centroids: list[list[float]] | None = None,
    seed: str = "fxa-ivf",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space, then deduplicate
    WITHIN each cluster only — the O(N²) pairwise cosine collapses to
    O(Σ|cell|²), and the cell self-join is an equi-join Catalyst can
    shuffle-hash on the cell key instead of a cross join.

    Spark-first shape:
      1. assign every vector to its nearest centroid's cell — one
         scan, zero shuffle (`_assign_cells`, the shared IVF kernel;
         centroids are the deterministic md5-sampled corpus rows, or
         pass `kmeans_centroids(...)` output for trained cells);
      2. self-join on `cell` with id_a < id_b — ONE shuffle, keyed on
         cell; per-pair cosine is the JVM-side sequential fold (no
         Python in the hot path);
      3. a vector is dropped iff it has cosine ≥ θ with a SMALLER id
         in its cell (the paper keeps one exemplar per ε-ball; the
         min-id rule makes the survivor choice deterministic and
         SQL-replayable — an EXISTS probe, not connected components).

    At 100 TB the failure mode is a mega-cell (skewed cluster): the
    pairwise term is quadratic in the largest cell. Mitigations, in
    order: raise n_cells (cells shrink ~linearly), train centroids
    (kmeans balances mass) — all plan-preserving. The all-corpus exact
    twin for small data is embedding_neardup_pairs.

    r14 (guide §1.2 step 2, §4.2): the whole gate is now ONE corpus
    pass — assignment (JVM expressions, evaluated once), ONE
    cell-keyed exchange, and a per-cell Arrow kernel that emits the
    (vec_id, cell, keep) rows directly. The former shape evaluated
    the assignment THREE times (both pair-join sides + the join-back
    branch), shuffled `assigned` on cell twice, and ran the
    within-cell pairwise cosine as an interpreted zip_with/aggregate
    fold per PAIR — the measured dominant cost, O(Σ|cell|²·dim) HOF
    evaluations (sf1 scale config: 107 executor-seconds before, 11
    after). The kernel keeps the drop set BIT-IDENTICAL to the fold
    formulation: a blocked float64 GEMM PREFILTERS pairs at
    (θ − 1e-9), then the survivors (near/above-threshold pairs only)
    are re-scored with the EXACT sequential left-to-right fold
    (np.add.accumulate — the same (((0+t₁)+t₂)+…) order and IEEE
    binary64 ops as the JVM aggregate fold). The margin is sound by
    the standard summation-error bound: for dim-d vectors, ANY
    summation order of the dot differs from any other by
    ≤ 2·d·eps·Σ|vaᵢ·vbᵢ| ≤ 2·d·eps·(na·nb) (Cauchy–Schwarz), i.e.
    ≤ 2.9e-14 in cosine at d = 64 — five orders below the 1e-9
    margin, so no true pair can be pruned. Spark's non-IEEE
    comparison semantics are replicated exactly: NaN ≥ θ is TRUE in
    Spark SQL (NaN sorts largest), NULL vectors/ids never pair (the
    fold yields NULL → filter false), and unequal-length pairs never
    pass (zip_with pads with NULL), so the kernel pairs only within
    equal-length groups and ORs isnan into both gates. Emitting keep
    in-kernel is exact because the drop rule is purely within-cell
    (id_col is the table key — one row per id, as the output contract
    below already required; the oracle replays the same rule).

    Output: one row per input vector — (vec_id, cell, keep) — so the
    result is a gate, composable with clean-corpus filters.
    """
    import numpy as np
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        StructField,
        StructType,
    )

    if centroids is not None:
        # ADVICE r7: an explicitly-passed empty list must fail loudly,
        # not silently recompute; n_cells is ignored when provided.
        assert len(centroids) > 0, "centroids must be non-empty when provided"
    else:
        centroids = ivf_centroids(
            corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells, seed=seed
        )
    assigned = _assign_cells(corpus, centroids, id_col=id_col, vec_col=vec_col)
    id_type = assigned.schema["neighbor_id"].dataType
    out_schema = StructType(
        [
            StructField("vec_id", id_type),
            StructField("cell", IntegerType()),
            StructField("keep", BooleanType()),
        ]
    )
    thr = float(threshold)

    # a-side row block / b-side column block: bounds the in-kernel
    # score matrix to BLK_A×BLK_B float64 (≤64 MB) regardless of cell
    # size — the group INPUT is still whole-cell (applyInPandas), the
    # documented mega-cell hazard with the documented mitigations.
    BLK_A, BLK_B = 2048, 4096

    def kernel(pdf):
        import pandas as pd

        cell = int(pdf["cell"].iat[0])
        all_ids = pdf["neighbor_id"]
        ok = all_ids.notna() & pdf["c_vec"].notna()
        dropped: set = set()
        # pairs exist only within equal-length groups (zip_with on
        # unequal lengths yields NULL terms → the fold filter is false)
        sub = pdf[ok]
        for _, grp in sub.groupby(sub["c_vec"].map(len)) if len(sub) > 1 else []:
            if len(grp) < 2:
                continue
            order = grp["neighbor_id"].to_numpy().argsort(kind="stable")
            ids = grp["neighbor_id"].to_numpy()[order]
            X = np.array(grp["c_vec"].tolist(), dtype=np.float64)[order]
            nrm = grp["c_nrm"].to_numpy(dtype=np.float64)[order]
            n = len(ids)
            with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
                for a0 in range(0, n - 1, BLK_A):
                    a1 = min(a0 + BLK_A, n)
                    Xa, na, ia = X[a0:a1], nrm[a0:a1], ids[a0:a1]
                    # only columns b > a0 can satisfy id_a < id_b
                    for b0 in range(a0, n, BLK_B):
                        b1 = min(b0 + BLK_B, n)
                        Xb, nb, ib = X[b0:b1], nrm[b0:b1], ids[b0:b1]
                        G = Xa @ Xb.T
                        C = G / (na[:, None] * nb[None, :])
                        cand = (np.isnan(C) | (C >= thr - 1e-9)) & (
                            ia[:, None] < ib[None, :]
                        )
                        if not cand.any():
                            continue
                        aix, bix = np.nonzero(cand)
                        # EXACT re-score, JVM fold order: per-element
                        # product (one IEEE mult each, same as zip_with)
                        # then strict left-to-right accumulation
                        prods = Xa[aix] * Xb[bix]
                        if prods.shape[1] == 0:
                            # dim-0 vectors: the JVM fold over an empty
                            # zip is its 0.0 init
                            dots = np.zeros(len(aix))
                        else:
                            dots = np.add.accumulate(prods, axis=1)[:, -1]
                        cos = dots / (na[aix] * nb[bix])
                        hit = np.isnan(cos) | (cos >= thr)
                        dropped.update(ib[bix[hit]].tolist())
        return pd.DataFrame(
            {
                "vec_id": all_ids,
                "cell": cell,
                "keep": [
                    (v is not None and v in dropped) is False for v in all_ids
                ],
            }
        )

    return (
        assigned.select("cell", "neighbor_id", "c_vec", "c_nrm")
        .groupBy("cell")
        .applyInPandas(kernel, out_schema)
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (deterministic, integer-exact)
# ---------------------------------------------------------------------------


def jl_signs(d_in: int, d_out: int) -> list[list[int]]:
    """The ±1 projection matrix, derived from md5 so every engine
    (and every run) regenerates the identical matrix: sign(j, i) is
    +1 iff the first hex digit of md5("jl:{j}:{i}") is < '8'.
    Achlioptas 2001: ±1 entries satisfy the JL lemma with the same
    constants as Gaussians — and make integer arithmetic possible."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[0] < "8"
            else -1
            for i in range(d_in)
        ]
        for j in range(d_out)
    ]


# Hoisted JL expression trees, keyed by pure PARAMETERS (never data):
# building the zip_with/aggregate fold per output dim costs hundreds
# of py4j round-trips (~1 s of every ann_jl/jl_projection call went
# to plan CONSTRUCTION, measured with cProfile — 6.9k socket round
# trips per call). Column objects are immutable unresolved expression
# trees over fixed internal column names ("_m"), so one construction
# serves every later DataFrame. This memoizes CODE, not results.
@functools.cache
def _jl_comps(d_in: int, d_out: int):
    """(j, proj_micro) struct array over the micro-ints column "_m"."""
    signs = jl_signs(d_in, d_out)
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                _jl_fold(signs[j]).alias("proj_micro"),
            )
            for j in range(d_out)
        ]
    )


def _jl_fold(sign_row: list[int]):
    return F.aggregate(
        F.zip_with(
            F.col("_m"), F.lit(sign_row), lambda x, s: x * s.cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


@functools.cache
def _jl_bucket(d_in: int, d_out: int):
    """Sign-pattern bucket (bit j set iff proj_j >= 0) over "_m"."""
    signs = jl_signs(d_in, d_out)
    projs = [_jl_fold(signs[j]) for j in range(d_out)]
    bucket = projs[0] * F.lit(0)  # typed zero
    for j in range(d_out):
        bucket = bucket + F.when(projs[j] >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket.cast("long")


def jl_project(
    vectors: DataFrame,
    d_in: int,
    d_out: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project embeddings to d_out dimensions with a deterministic ±1
    JL matrix — the cheap front-end that lets downstream ANN/near-dup
    work in 8 dims instead of 64+ (project once, bucket/search in the
    small space, verify survivors in the original space).

    Integer-exact by construction: components quantize to micro-units
    (round(x·1e6), the engine's Lloyd-training idiom), signs are ±1,
    so each output is an associative INTEGER sum — bit-identical
    under any partitioning, and the DuckDB oracle replays the whole
    projection from the same md5-derived matrix. All JVM-side: one
    zip_with/aggregate fold per output dim over a sign-array literal,
    zero shuffles, zero UDFs.

    Output: (id, j, proj_micro) — one row per output dimension.
    """
    micro = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * 1000000.0, 0).cast("long"),
    )
    vecs = vectors.select(F.col(id_col).alias("id"), micro.alias("_m"))
    comps = _jl_comps(d_in, d_out)
    return vecs.select("id", F.explode(comps).alias("c")).select(
        "id", F.col("c.j").alias("j"), F.col("c.proj_micro").alias("proj_micro")
    )


def _ham_masks(n_bits: int, max_ham: int) -> list[int]:
    """All XOR masks over n_bits with popcount <= max_ham, ascending
    — the multiprobe neighborhood (includes mask 0, the home
    bucket). Deterministic enumeration shared with the oracle."""
    return [
        m for m in range(1 << n_bits) if bin(m).count("1") <= max_ham
    ]


def jl_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d_in: int | None = None,
    d_out: int = 6,
    probe_ham: int = 2,
) -> DataFrame:
    """Approximate cosine top-k via JL sign buckets — the
    bucket-then-verify pipeline jl_project() fronts: project to
    d_out integer components, bucket on the SIGN PATTERN (bit j set
    iff proj_j >= 0), equi-join candidates on bucket, then verify
    with the exact cosine in the ORIGINAL space.

    vs lsh_topk (float hyperplanes): the bucket here is a pure
    INTEGER function of the vector (micro-quantized components x ±1
    signs), so the candidate set is bit-reproducible across engines
    with no float sign-boundary risk, and the projection doubles as
    a reusable low-dim representation (persist jl_project output
    once, bucket many times). Queries probe every bucket within
    Hamming distance probe_ham of their own (Σ C(d_out, i) probes)
    — the verify set shrinks by the complementary bucket mass and
    the corpus never shuffles (the bounded probe side broadcasts
    onto the bucketed corpus scan).

    Defaults (6 bits, radius 2 → 22/64 of bucket space) are tuned on
    the synthetic embeddings, whose pairwise cosines concentrate
    (64-dim near-random — the jl_projection test's finding): true
    neighbors land 1-3 sign bits away, so a 1-bit probe ring starves
    recall. On real clustered embeddings the same radius prunes far
    harder for the same recall; widen d_out as cluster tightness
    allows.

    Output schema and ranking match brute_force_topk.
    """
    if d_in is None:
        d_in = len(corpus.select(vec_col).first()[0])

    def prep(df: DataFrame, role: str) -> DataFrame:
        base = df.select(
            F.col(id_col).alias(f"{role}_id"),
            _as_double(F.col(vec_col)).alias(f"{role}_vec"),
        ).withColumn(f"{role}_nrm", norm(F.col(f"{role}_vec")))
        base = base.withColumn(
            "_m",
            F.transform(
                F.col(f"{role}_vec"),
                lambda x: F.round(x * 1000000.0, 0).cast("long"),
            ),
        )
        # hoisted sign-pattern bucket over "_m" (see _jl_bucket)
        return base.withColumn(
            "bucket", _jl_bucket(d_in, d_out)
        ).drop("_m")

    c = prep(corpus, "c").withColumnRenamed("c_id", "neighbor_id")
    q = prep(queries, "q").withColumnRenamed("q_id", "query_id")
    masks = _ham_masks(d_out, probe_ham)
    if len(masks) > 1:
        probes = F.array(
            *[F.col("bucket").bitwiseXOR(F.lit(m)).cast("long") for m in masks]
        )
        q = q.select(
            "query_id", "q_vec", "q_nrm", F.explode(probes).alias("bucket")
        )
    # The probe side is queries × Σ C(d_out, i) rows — bounded by the
    # serving batch, never corpus-scale — so broadcast it: the corpus
    # is bucketed in place inside its scan stage and never shuffles
    # (the jl_project docstring's "corpus shuffles once on bucket" was
    # the pre-broadcast plan; a bucket shuffle of the corpus is
    # exactly what a 100 TB serving path cannot afford per batch).
    return _exact_topk(
        c.join(F.broadcast(q), "bucket").filter(
            F.col("query_id") != F.col("neighbor_id")
        ),
        k,
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR /
    SimCSE data-prep step): per query vector, the k most-cosine-
    similar corpus vectors whose LABEL DIFFERS from the query's —
    the near-misses a contrastive loss learns the most from (random
    negatives are trivially separable; in-class neighbors are
    positives, not negatives).

    Same exact rerank (``_exact_topk``) as brute_force_topk, with the
    label-exclusion predicate pushed into the broadcast join condition — rows never materialize for
    same-label pairs. At scale, swap the brute-force scorer for any
    bucketed front-end (IVF/LSH/PQ) and keep the label filter in the
    candidate join; the mining semantics are the filter + top-k, not
    the scorer.

    Output: (query_id, neighbor_id, neg_label, rank, cosine).
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neg_label"),
        _as_double(F.col(vec_col)).alias("c_vec"),
    ).withColumn("c_nrm", norm(F.col("c_vec")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("q_label"),
        _as_double(F.col(vec_col)).alias("q_vec"),
    ).withColumn("q_nrm", norm(F.col("q_vec")))
    cand = c.join(
        F.broadcast(q),
        (F.col("query_id") != F.col("neighbor_id"))
        & (F.col("q_label") != F.col("neg_label")),
    )
    return _exact_topk(cand, k, ("neg_label",))


def pq_build_index(
    lake,
    corpus: DataFrame,
    name: str = "pq",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 16,
    seed: str = "fxa-pq",
    codebooks: list[list[list[float]]] | None = None,
) -> None:
    """Persist the PQ index to the lake — the IVF manifest-swap
    pattern (``ivf_build_index``) applied to product quantization:

    - ``{name}_codes_v{N}``: the exploded code stream (id, s, code) —
      the m-bytes-per-vector scan surface, staged under a fresh
      version;
    - ``{name}_vectors_v{N}``: (id, vec, nrm) — the exact-rerank side
      with norms precomputed at build time;
    - ``{name}_codebooks``: (s, j, codeword, codes_table,
      vectors_table) — m × n_codes rows, the index MANIFEST,
      committed through ``_lakeindex.commit`` (written last, then the
      replaced versions are dropped).

    Build cost: the codebook job + ONE encode scan of the corpus,
    paid once offline — queries then never re-derive codebooks or
    re-encode (the dominant cost of the in-session ``pq_topk`` at
    serving time). Pass ``codebooks`` (e.g. from
    ``pq_train_codebooks``) to persist a trained index.
    """
    if codebooks is None:
        codebooks = pq_codebooks(corpus, id_col, vec_col, m, n_codes, seed)
    tbl, stale = stage(lake, name, ("codes", "vectors"))
    lake.overwrite(
        tbl["codes"],
        pq_encode(corpus, codebooks, id_col, vec_col).select(
            "id", F.posexplode("codes").alias("s", "code")
        ),
    )
    lake.overwrite(tbl["vectors"], _pq_base(corpus, id_col, vec_col))
    commit(
        lake,
        f"{name}_codebooks",
        _codebook_frame(
            lake, codebooks, codes_table=tbl["codes"], vectors_table=tbl["vectors"]
        ),
        stale,
    )


def _codebook_frame(lake, codebooks, **tables: str) -> DataFrame:
    """(s, j, codeword, *tables): one row per codeword — the rows
    ``_manifest_codebooks`` decodes."""
    return lake.spark.createDataFrame(
        [
            (s, j, list(cw), *tables.values())
            for s, book in enumerate(codebooks)
            for j, cw in enumerate(book)
        ],
        "s int, j int, codeword array<double>"
        + "".join(f", {t} string" for t in tables),
    )


def pq_query_index(
    lake,
    queries: DataFrame,
    name: str = "pq",
    k: int = 5,
    shortlist_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query the persisted PQ index: codebooks come back from the
    manifest (m × n_codes rows, driver-side), the ADC LUT is built
    from them exactly as ``pq_topk`` builds it, and the stored code
    stream is scanned — never re-encoded. Identical ranking to
    ``pq_topk`` with the same codebooks (codes are a deterministic
    function of codebooks + corpus, so the persisted stream IS the
    in-session stream; pinned in tests/test_ivf_index.py's PQ twin).
    """
    mrows = read_manifest(lake, f"{name}_codebooks", "pq_query_index")
    qids, qmat = _query_batch(queries, id_col, vec_col)
    return _adc_rerank(
        lake.read(mrows[0]["codes_table"]),
        lake.read(mrows[0]["vectors_table"]),
        _manifest_codebooks(mrows), qids, qmat, k, shortlist_factor,
    )


def ivfpq_build_index(
    lake,
    corpus: DataFrame,
    name: str = "ivfpq",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int = 4,
    n_codes: int = 16,
    seed: str = "fxa-ivf",
    pq_seed: str = "fxa-pq",
    codebooks: list[list[list[float]]] | None = None,
) -> None:
    """Persist the full IVFPQ index — the billion-vector serving
    layout (Jégou et al. 2011 §IV) at storage level:

    - ``{name}_codes_v{N}``: (id, cell, s, code), PARTITIONED BY
      cell — a query's n_probe probed cells become partition-PRUNED
      scans of m-byte codes: the index read touches
      ~n_probe/n_cells of the code bytes, never the vectors;
    - ``{name}_vectors_v{N}``: (id, vec, nrm) — the exact-rerank
      side, touched only for the shortlist;
    - ``{name}_codebooks_v{N}``: the PQ manifest half;
    - ``{name}_centroids``: (cell, centroid, codes_table,
      vectors_table, codebooks_table, n_vectors) — the manifest naming
      every other table of its build, committed like
      ``ivf_build_index``'s.

    Cell assignment and PQ encoding are paid at build time; queries
    re-derive nothing.
    """
    cents = ivf_centroids(corpus, id_col, vec_col, n_cells, seed)
    if codebooks is None:
        codebooks = pq_codebooks(corpus, id_col, vec_col, m, n_codes, pq_seed)
    tbl, stale = stage(lake, name, ("codes", "vectors", "codebooks"))
    codes, vectors = _ivfpq_tables(corpus, cents, codebooks, id_col, vec_col)
    lake.write_parts(tbl["codes"], codes, "cell")
    lake.write_parts(tbl["vectors"], vectors, "cell")
    lake.overwrite(tbl["codebooks"], _codebook_frame(lake, codebooks))
    _commit_centroids(
        lake, name, cents, lake.read(tbl["vectors"]).count(), stale,
        codes_table=tbl["codes"], vectors_table=tbl["vectors"],
        codebooks_table=tbl["codebooks"],
    )


def ivfpq_query_index(
    lake,
    queries: DataFrame,
    name: str = "ivfpq",
    k: int = 5,
    n_probe: int = 4,
    shortlist_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidate_ids: DataFrame | None = None,
    broadcast_filter: bool = True,
    auto_probe: bool = True,
    validate_candidates: bool = False,
) -> DataFrame:
    """Query the persisted IVFPQ index: probe cells come from the
    stored centroids, ONLY those cell partitions of the code table
    are read (isin over the partition column → partition pruning,
    like ivf_query_index), the ADC LUT is rebuilt from the manifest
    codebooks, and the shortlist reranks against the stored vectors.
    Identical ranking to ``ivfpq_topk`` with the same centroids and
    codebooks (both are deterministic md5 derivations, so persisted
    == in-session — pinned in tests/test_ivf_index.py).

    ``candidate_ids`` (one id column, any name) makes this a FILTERED
    search: the allowed-id semi-join lands on the partition-pruned
    code scan BEFORE the ADC aggregate, so the shortlist is built
    from allowed ids only (pre-filtering — k survivors guaranteed,
    never a starved post-filtered shortlist) and the exact rerank
    stays bounded by shortlist_factor·k. ``auto_probe`` (default)
    escalates the probe count by 1/selectivity for selective filters
    (``_escalate_probes``) — same rationale and recall evidence as
    ivf_query_index (FILTERED_RECALL.json).
    """
    def score(head, codes, qids, qmat, qrows):
        probes = queries.sparkSession.createDataFrame(
            [(qi, int(c)) for qi, _, cells in qrows for c in cells],
            "query_id long, cell int",
        )
        codebooks = _manifest_codebooks(
            read_manifest(lake, head["codebooks_table"], "ivfpq_query_index")
        )
        return _adc_rerank(
            codes.join(F.broadcast(probes), "cell"),
            lake.read(head["vectors_table"]),
            codebooks, qids, qmat, k, shortlist_factor,
        )

    return _probe_index(
        lake, queries, name, "ivfpq_query_index", n_probe, id_col, vec_col,
        candidate_ids, broadcast_filter, auto_probe, validate_candidates,
        scan_key="codes_table", vectors_key="vectors_table", id_name="id",
        score=score,
    )


def ivfpq_upsert_index(
    lake,
    new_vectors: DataFrame,
    name: str = "ivfpq",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental IVFPQ maintenance: encode ``new_vectors`` against
    the STORED codebooks and assign them against the STORED centroids,
    then merge both index tables by key, rewriting ONLY the touched
    cell partitions (the lake's incremental contract — ivf_upsert's
    pattern, applied to codes + vectors). A re-upserted id replaces
    its prior rows, including across cells when its embedding moved
    (Lake.merge_replace's moved-key handling). Codebooks and
    centroids are never re-trained here; run ``ivfpq_build_index``
    for that (quantization error against stale codebooks is the
    standard IVFPQ drift trade — rebuild cadence is the operator's
    knob, not this function's).
    """
    cents, head = _read_centroids(lake, name, "ivfpq_upsert_index")
    tables = {t: head[t] for t in ("codes_table", "vectors_table", "codebooks_table")}
    codebooks = _manifest_codebooks(
        read_manifest(lake, tables["codebooks_table"], "ivfpq_upsert_index")
    )
    n_prior = _manifest_n_vectors(lake, head, "vectors_table")
    codes, vectors = _ivfpq_tables(new_vectors, cents, codebooks, id_col, vec_col)
    lake.merge_replace(tables["codes_table"], codes, "cell", "id")
    delta = lake.merge_replace(tables["vectors_table"], vectors, "cell", "id")
    _commit_centroids(lake, name, cents, n_prior + delta, **tables)
