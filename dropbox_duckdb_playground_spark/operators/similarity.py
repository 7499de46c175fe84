"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline; the LSH
(random-hyperplane) bucketed variant is the scale path: at 100 TB the
cross join is infeasible, but hyperplane-bucketed candidates cut the
candidate space by ~2^planes while the final exact re-rank keeps
precision. All per-vector arithmetic stays in Column expressions
(codegen) — no Python UDF.

The quantizers (IVF, SemDeDup's clustering, PQ) train k-means on the
driver over a bounded md5-ordered sample, with arithmetic that a SQL
engine repeats bit for bit: dot products and squared distances are
left folds over dimensions in index order, centroid sums are exact
fixed-point integer sums. Assigning the corpus to the trained
centroids is a broadcast join plus ``max_by``/``min_by`` inside the
plan, so an oracle can retrain and reassign in SQL and check the whole
query.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Float64 dot product via the sequential HOF fold — the same
    accumulation order as DuckDB's ``list_aggregate('sum')``, so values
    are bit-identical across engines.

    Measured note (round 6): unrolling this into ``dim`` flat
    element_at terms looked like a codegen win but LOST in both
    regimes — whole-stage codegen pays ~1.6s of janino compilation per
    fresh plan for the giant generated function (the codegen cache
    misses on every rebuilt plan), while the fold's per-pair cost is
    modest once norms are hoisted out of the pair loop (see
    ``cosine_topk``). q91 at sf1: 77s with per-pair norms -> 15s
    unrolled -> 2.2s with the fold + hoisted norms."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def _sqdist(a: Column, b: Column) -> Column:
    """Float64 squared Euclidean distance, folded in index order like
    ``_dot``."""
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector makes the denominator exactly 0 —
    # DuckDB's x/0 is NULL, and a bare `/` THROWS under an ANSI-on
    # session (the driver's mode, even for doubles in Spark 4). NULL
    # cosine for a zero vector is also the right semantics.
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (brute force).

    Output: (query_id, cand_id, cosine) with deterministic ordering
    (rounded score desc, cand_id asc). Scale: broadcast the query set;
    the scan over candidates is embarrassingly parallel; per-query top-k
    is a single shuffle on query_id (rank-1..k window).

    Norms are computed ONCE PER ROW on each join side instead of once
    per pair: the |Q| x |C| nested-loop join multiplies every per-pair
    expression by the pair count, and the two per-pair norm folds were
    ~97% of q91's sf1 wall (77s -> 2.2s). Values are bit-identical
    (the per-pair division sees identical operands)."""
    from dropbox_duckdb_playground_spark.operators.relational import fan_out

    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"),
        _norm(F.col("embedding")).alias("__qn__"),
    )
    c = fan_out(embeddings).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_vec"),
        _norm(F.col("embedding")).alias("__cn__"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "cosine",
            F.round(
                # try_divide: zero-norm guard under ANSI (see cosine())
                F.try_divide(
                    _dot(F.col("q_vec"), F.col("c_vec")),
                    F.col("__qn__") * F.col("__cn__"),
                ),
                4,
            ),
        )
        .select("query_id", "cand_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
    )


def hyperplane_weights(dim: int, planes: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane weights: plane p, dim d gets the parity
    bit of md5(f"{p}:{d}") — no stored model, reproducible in any engine."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:15], 16) & 1 else -1.0
            for d in range(dim)
        ]
        for p in range(planes)
    ]


def hyperplane_signature(vec: Column, dim: int, planes: int = 8) -> Column:
    """Random-hyperplane LSH signature (int, ``planes`` bits).
    Bit p = 1 iff Σ_d w[p,d]·vec[d] > 0, with deterministic md5-parity
    weights (`hyperplane_weights`). Pure column arithmetic — codegen'd."""
    weights = hyperplane_weights(dim, planes)
    sig = F.lit(0).cast("long")
    for p in range(planes):
        warr = F.array(*[F.lit(w) for w in weights[p]])
        proj = F.aggregate(
            F.zip_with(vec, warr, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(proj > 0, F.lit(2**p).cast("long")).otherwise(0)
    return sig


#: hyperplanes lsh_ann_topk buckets by
ANN_PLANES = 8


def lsh_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane bucket;
    exact cosine re-rank within the bucket. ~2^ANN_PLANES candidate
    reduction.

    Output schema matches `cosine_topk` (query_id, cand_id, cosine)."""
    from dropbox_duckdb_playground_spark.operators.relational import fan_out

    sig = hyperplane_signature(F.col("embedding"), dim, ANN_PLANES)
    embeddings = fan_out(embeddings)
    c = embeddings.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_vec"), sig.alias("bucket"),
        _norm(F.col("embedding")).alias("__cn__"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"), sig.alias("bucket"),
        _norm(F.col("embedding")).alias("__qn__"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "cosine",
            F.round(
                # try_divide: zero-norm guard under ANSI (see cosine())
                F.try_divide(
                    _dot(F.col("q_vec"), F.col("c_vec")),
                    F.col("__qn__") * F.col("__cn__"),
                ),
                4,
            ),
        )
        .select("query_id", "cand_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
    )


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family): distinct
    (a_id, b_id, cosine) with a_id < b_id and cosine ≥ threshold,
    candidates restricted to same LSH hyperplane bucket.

    Near-identical vectors agree on every hyperplane with probability
    ~(1 - θ/π)^planes, so a high threshold keeps recall high while the
    bucket equi-join replaces the O(n²) cross join — the same
    bucket-join shape as MinHash-LSH text dedup (SURVEY-beyond: LLM
    training-data dedup). Deterministic hyperplanes (md5 parity), so an
    external oracle can replicate the exact candidate set."""
    from dropbox_duckdb_playground_spark.operators.relational import fan_out

    sig = hyperplane_signature(F.col("embedding"), dim, planes)
    # The signature+norm table is MATERIALIZED before the self-join:
    # the former "identical sides share one exchange (ReusedExchange)"
    # rationale is false at runtime (r8: final adaptive plans showed 0
    # reuse and 4 embedding scans — join-pushed predicates specialize
    # each side, the failure mode measured on bm25/simhash/minhash).
    # The barrier also guarantees the per-row norm is computed once per
    # vector, not once per side. SMJ (not shuffle-hash) spills on skew.
    from dropbox_duckdb_playground_spark.materialize import materialize

    c = materialize(
        fan_out(embeddings).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec"),
            sig.alias("bucket"), _norm(F.col("embedding")).alias("nrm"),
        )
    )
    l, r = c.alias("l"), c.hint("merge").alias("r")
    return (
        l.join(r, (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.id").alias("a_id"),
            F.col("r.id").alias("b_id"),
            F.round(
                # try_divide: zero-norm guard under ANSI (see cosine())
                F.try_divide(
                    _dot(F.col("l.vec"), F.col("r.vec")),
                    F.col("l.nrm") * F.col("r.nrm"),
                ),
                4,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# Centroid sums are taken in fixed point: each member component becomes
# floor(x * 2^30) as an int64, so the per-cluster sum is exact in any
# order and any engine; dividing by 2^30 returns to float64.
_FIXED_POINT = float(2**30)
# k-means iterations; the catalog's SQL oracle unrolls the same count.
_ITERS = 10


def train_cap(k: int) -> int:
    """Training-sample size for a k-centroid quantizer: a few hundred
    points per centroid (the FAISS practice), never the corpus."""
    return max(k * 256, 2048)


def hash_sample(df: DataFrame, seed: int, cap: int) -> np.ndarray:
    """The first ``cap`` embeddings in ``md5('<seed>:' || vec_id)`` order,
    ties by vec_id, as a float64 (rows, dim) array in that order. The
    order is a function of the ids alone, so the sample does not depend
    on scan order or partitioning, and a SQL oracle selects the same
    rows."""
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col("vec_id").cast("string")))
    pdf = df.orderBy(key, "vec_id").limit(cap).select("embedding").toPandas()
    if pdf.empty:
        return np.empty((0, 0))
    return np.asarray(pdf["embedding"].tolist(), dtype=np.float64)


def _fold(X: np.ndarray, C: np.ndarray, squared: bool) -> np.ndarray:
    """(rows, k) dot products (or squared distances) of X's rows with C's
    rows, accumulated as ``acc = acc + a[i]*b[i]`` over dimensions in
    index order — the order of ``_dot`` and of DuckDB's
    ``list_aggregate(..., 'sum')``, so all three agree bit for bit."""
    acc = np.zeros((X.shape[0], C.shape[0]))
    for i in range(X.shape[1]):
        if squared:
            d = X[:, i, None] - C[None, :, i]
            acc = acc + d * d
        else:
            acc = acc + X[:, i, None] * C[None, :, i]
    return acc


def _row_norms(X: np.ndarray) -> np.ndarray:
    acc = np.zeros(X.shape[0])
    for i in range(X.shape[1]):
        acc = acc + X[:, i] * X[:, i]
    return np.sqrt(acc)


def nearest_centroid(X: np.ndarray, C: np.ndarray, spherical: bool) -> np.ndarray:
    """Index of each row's nearest centroid: the largest dot product
    (spherical) or the smallest squared distance; a tie goes to the
    lowest index."""
    if spherical:
        return _fold(X, C, squared=False).argmax(axis=1)
    return _fold(X, C, squared=True).argmin(axis=1)


def kmeans_train(X: np.ndarray, k: int, spherical: bool) -> np.ndarray:
    """``_ITERS``-iteration k-means over the sample rows ``X`` (in sample
    order); returns the (min(k, rows), dim) float64 centroids.

    Spherical (IVF) training drops zero-norm rows, scales the rest to
    unit norm and keeps every centroid at unit norm; Euclidean (PQ)
    training takes member means. The first k rows seed the centroids,
    and an empty cluster keeps its centroid. Every step is repeatable
    in SQL bit for bit (catalog ``_kmeans_oracle``): the folds of
    ``_fold``, and centroid sums in fixed point (``_FIXED_POINT``)."""
    X = np.asarray(X, dtype=np.float64)
    if spherical:
        nrm = _row_norms(X)
        X = X[nrm > 0] / nrm[nrm > 0, None]
    if len(X) and not np.abs(X).max() * _FIXED_POINT * len(X) < 2.0**63:
        raise ValueError(
            "kmeans_train: components too large (or NaN) for exact int64 "
            "fixed-point centroid sums"
        )
    C = X[:k].copy()
    if not len(C):
        return C  # no rows, no centroids: assigning against them yields no rows
    fixed = np.floor(X * _FIXED_POINT).astype(np.int64)
    for _ in range(_ITERS):
        assign = nearest_centroid(X, C, spherical)
        sums = np.zeros(C.shape, dtype=np.int64)
        np.add.at(sums, assign, fixed)
        sums = sums.astype(np.float64) / _FIXED_POINT
        count = np.bincount(assign, minlength=len(C))
        if spherical:
            scale = _row_norms(sums)
            live = (count > 0) & (scale > 0)
        else:
            scale, live = count, count > 0
        C[live] = sums[live] / scale[live, None]
    return C


def ivf_assign(
    embeddings: DataFrame,
    nlist: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Train a spherical k-means coarse quantizer and assign every vector
    to its nearest centroid. Returns ``(assigned, centroids)`` where
    ``assigned`` is (cand_id, c_vec, list_id) and ``centroids`` is
    (list_id, centroid).

    The quantizer trains on the driver (``kmeans_train``) over a
    ``train_cap(nlist)``-row ``hash_sample``: the k-means iterations are
    bounded by that cap, but drawing the sample costs one full scan
    (an md5 per row and an ordered take). Assignment is in the plan:
    the corpus crosses the broadcast nlist-row centroid table and
    keeps, per input row, the list with the largest
    ``_dot(vector, centroid)`` (lowest list_id on a tie). The centroids
    have unit norm, so that is the cosine argmax without normalizing
    the corpus. Rows are told apart by (id, vector): two rows with the
    same id and different vectors are assigned separately, and rows
    that repeat both collapse into one."""
    X = hash_sample(embeddings, seed, train_cap(nlist))
    C = kmeans_train(X, nlist, spherical=True)
    cent_df = embeddings.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(C)],
        "list_id int, centroid array<double>",
    )
    # Rows that share an id are told apart by a hash of their vector,
    # taken once per row: grouping on the array itself hashes it for
    # every (row, centroid) pair (assignment at sf0.1: 1.42 s vs 1.19 s).
    # The hash is only a grouping key, never an output value.
    assigned = (
        embeddings.select(
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").alias("c_vec"),
            F.xxhash64("embedding").alias("__vh"),
        )
        .crossJoin(F.broadcast(cent_df))
        .groupBy("cand_id", "__vh")
        .agg(
            F.first("c_vec").alias("c_vec"),
            F.max_by(
                "list_id",
                F.struct(_dot(F.col("c_vec"), F.col("centroid")), -F.col("list_id")),
            ).alias("list_id"),
        )
        .drop("__vh")
    )
    return assigned, cent_df


def ivf_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 2,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN: spherical k-means coarse quantizer
    (``ivf_assign``) -> per-centroid posting lists -> probe the
    ``nprobe`` nearest lists per query -> exact cosine re-rank inside
    the probed lists. The scale path when LSH recall is insufficient.
    Output schema matches `cosine_topk` (query_id, cand_id, cosine)."""
    assigned, cent_df = ivf_assign(embeddings, nlist=nlist, seed=seed)
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    # nearest nprobe centroids per query (centroid table is tiny: nlist rows)
    probed = (
        q.join(F.broadcast(cent_df))
        .withColumn("cdist", cosine(F.col("q_vec"), F.col("centroid")))
        .withColumn(
            "__rn__",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("cdist"), F.asc("list_id"))
            ),
        )
        .filter(F.col("__rn__") <= nprobe)
        .select("query_id", "q_vec", "list_id")
    )
    scored = (
        assigned.join(F.broadcast(probed), "list_id")
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn("cosine", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 4))
        .select("query_id", "cand_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.3,
    nlist: int = 16,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with a coarse k-means
    quantizer (``ivf_assign``), then WITHIN each cluster drop every
    vector that has a lower-id neighbor with cosine >= threshold — the
    deterministic min-id representative rule. The pairwise comparison
    never crosses cluster boundaries, so the cost is sum(|cluster|**2)/2
    instead of |corpus|**2/2; at 100 TB nlist scales with corpus size
    (FAISS practice ~sqrt(N)) keeping clusters bounded, and the
    intra-cluster scoring shuffles only on list_id.

    The per-cluster pairwise pass runs as ONE Arrow ``applyInPandas``
    stage (a blocked float64 matmul per cluster) instead of a self-join:
    a Catalyst self-join pays three interpreted higher-order-function
    array traversals per pair (dot + 2 norms), which profiled ~8x slower
    than the vectorized matmul on the same data; memory per task is
    bounded by ``block`` x |cluster| doubles.

    Cross-engine decision-bit parity: cosine is computed in the SAME
    algebraic form the SQL oracle uses — raw dot divided by the product
    of norms (NOT normalize-then-dot, whose per-element rounding
    differs) — and both engines compare against the SAME binary64 cut:
    the HALF_UP preimage ``t - 0.00005`` is computed once in Python
    IEEE arithmetic and its exact repr() is injected into the oracle
    SQL (a literal ``0.3 - 0.00005`` would evaluate in DuckDB's exact
    DECIMAL, a 1-ULP different value). The one remaining degree of freedom is
    float-sum ORDER (BLAS blocked/FMA vs DuckDB's sequential list
    fold), a ~1-ULP (<1e-14) drift on 64-term sums; a pair flips only
    if its true cosine lies within that distance of the threshold.
    Thresholds are chosen at coarse values (0.3) where the corpus has
    no cosine within 1e-6 of the cut, and both engines read the same
    float32 vectors and assign the same clusters (``ivf_assign`` is
    repeatable in SQL bit for bit), so the bit is stable in practice;
    if you run this against adversarial near-threshold data, widen the
    margin or accept count-level (not hash-level) comparison.

    Output: (vec_id, list_id, survived) with survived in {0,1}."""
    import pandas as pd

    assigned, _ = ivf_assign(embeddings, nlist=nlist, seed=seed)
    # round(cos, 4) >= t  <=>  cos >= t - 5e-5 under HALF_UP rounding
    cut = threshold - 0.00005

    def dedupe_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("cand_id", kind="mergesort").reset_index(drop=True)
        X = np.asarray(pdf["c_vec"].tolist(), dtype=np.float64)
        # dot / (|a| * |b|) — the SQL oracle's algebraic form; do NOT
        # pre-normalize (per-element rounding would diverge from it)
        norms = np.maximum(np.linalg.norm(X, axis=1), 1e-12)
        n = len(X)
        dead = np.zeros(n, dtype=bool)
        block = 1024  # bounds task memory: block x n doubles per matmul
        for s in range(1, n, block):
            e = min(s + block, n)
            S = (X[s:e] @ X.T) / (norms[s:e, None] * norms[None, :])
            lower = np.arange(n)[None, :] < np.arange(s, e)[:, None]
            dead[s:e] = ((S >= cut) & lower).any(axis=1)
        return pd.DataFrame(
            {
                "vec_id": pdf["cand_id"],
                "list_id": pdf["list_id"],
                "survived": (~dead).astype("int32"),
            }
        )

    return assigned.groupBy("list_id").applyInPandas(
        dedupe_cluster, schema=f"vec_id {assigned.schema['cand_id'].dataType.simpleString()}, list_id int, survived int"
    )


def _subvectors(df: DataFrame, id_alias: str, m: int, dsub: int) -> DataFrame:
    """(id_alias, sub, xs): each embedding's ``m`` slices of ``dsub`` dims."""
    return df.select(
        F.col("vec_id").alias(id_alias),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice("embedding", s * dsub + 1, dsub).alias("xs"),
                )
                for s in range(m)
            ])
        ).alias("e"),
    ).select(id_alias, "e.sub", "e.xs")


def pq_assign(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization encoder (Jégou et al. TPAMI 2011): split each
    vector into ``m`` subspaces of dim/m dims, k-means each subspace to
    ``ksub`` centroids, store per-vector code words. Returns
    ``(codes, codebook)`` with codes = (cand_id, sub, code) long-form and
    codebook = (sub, code, centroid array<double>).

    Like ``ivf_assign``: each subspace's codebook trains on the driver
    (Euclidean ``kmeans_train``) over one ``train_cap(ksub)``-row
    ``hash_sample``, and encoding is in the plan: every (vector,
    subspace) slice joins the broadcast codebook on ``sub`` and keeps
    the code with the smallest squared distance (lowest code on a tie).
    ``codes`` is keyed by ``vec_id`` alone, so the ids must be unique.
    At 100 TB the codes table is m bytes-ish per vector (vs 4*dim for
    floats) — the point of PQ is that THIS is what you keep hot for ANN
    scoring."""
    from dropbox_duckdb_playground_spark.operators.relational import fan_out

    assert dim % m == 0
    dsub = dim // m
    X = hash_sample(embeddings, seed, train_cap(ksub))
    # B.shape[1] = actual trained centroid count, which is < ksub when
    # the training sample had fewer rows than ksub — iterate the real
    # shape so a tiny corpus degrades gracefully instead of IndexError
    B = np.stack([
        kmeans_train(X[:, s * dsub : (s + 1) * dsub], ksub, spherical=False)
        for s in range(m)
    ])
    codebook = embeddings.sparkSession.createDataFrame(
        [
            (s, c, [float(x) for x in B[s, c]])
            for s in range(m)
            for c in range(B.shape[1])
        ],
        "sub int, code int, centroid array<double>",
    )
    # fan_out: the m x ksub distance folds per vector are the heavy
    # step, and a small corpus scan arrives in fewer tasks than cores
    codes = (
        _subvectors(fan_out(embeddings), "cand_id", m, dsub)
        .join(F.broadcast(codebook), "sub")
        .groupBy("cand_id", "sub")
        .agg(
            F.min_by(
                "code", F.struct(_sqdist(F.col("xs"), F.col("centroid")), F.col("code"))
            ).alias("code")
        )
    )
    return codes, codebook


def pq_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Asymmetric-distance PQ ANN (ADC, Jégou et al.): per query,
    precompute the (m x ksub) lookup table of squared distances from each
    query subvector to the codebook, then score every candidate by
    summing its m LUT entries — the candidate side never touches a float
    vector, only its codes. A candidate that shares the query's codes
    scores the minimum, so exact duplicates rank first.

    Engine-stable scoring: each LUT distance is rounded to integer
    MICRO-units (round(d2*1e6)) before the per-candidate sum, so the
    m-way addition is exact integer math — no float-sum order
    dependence between engines. Output (query_id, cand_id, score) with
    score = micro-sum/1e6, top-k per query by (score ASC, cand_id ASC).

    Scale: LUT is |queries| x m x ksub rows (tiny, broadcast); the
    codes table joins it on (sub, code) — corpus-sized but narrow — and
    the per-candidate sum is a map-side-combinable groupBy on
    (query_id, cand_id). One corpus pass, one shuffle."""
    codes, codebook = pq_assign(embeddings, m=m, ksub=ksub, dim=dim, seed=seed)
    # LUT: (query_id, sub, code, micro) — micro = round(1e6 * d2(q_sub, centroid))
    lut = (
        _subvectors(queries, "query_id", m, dim // m)
        .join(F.broadcast(codebook), "sub")
        .select(
            "query_id",
            "sub",
            "code",
            F.round(_sqdist(F.col("xs"), F.col("centroid")) * 1e6)
            .cast("long")
            .alias("micro"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("query_id", "cand_id")
        .agg((F.sum("micro") / F.lit(1e6)).alias("score"))
        .filter(F.col("query_id") != F.col("cand_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("score"), F.asc("cand_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "cand_id", "score")
    )
