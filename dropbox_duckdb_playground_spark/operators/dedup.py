"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB: every algorithm here is the shuffle-minimal formulation
used in public web-scale dedup pipelines:

- exact: one hash-groupBy on a 128-bit content digest (no full-text shuffle
  — only (digest, key) pairs move).
- MinHash+LSH: per-row signature (narrow) → band keys → groupBy band
  (shuffle of small keys) → pairs within buckets. Never all-pairs.
- n-gram Jaccard: inverted-index join on shingle digests; candidate space
  is bounded by shared-shingle pairs, not n².
- SimHash: per-row 60-bit signature, fully map-side (60 conditional sums
  inside whole-stage codegen; no explode, no shuffle).

Hash portability: digests use md5 (identical across engines) so every
operator has an exact DuckDB oracle; xxhash64 would be Spark-only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark.materialize import materialize
from dropbox_duckdb_playground_spark.operators.relational import fan_out
from dropbox_duckdb_playground_spark.operators.text import ratio4_expr, tokens_col

# 60-bit portable integer digest: first 15 hex chars of md5 -> bigint.
def _hex60(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


# MinHash permutations are universal hashes over the 60-bit shingle digest:
# perm_i(h) = (a_i*(h>>30) + b_i*(h&2^30-1) + c_i) mod P. Products stay
# under 2^60 so the arithmetic is exact int64 in both Spark and DuckDB —
# one md5 per shingle instead of NUM_PERM of them.
MINHASH_PRIME = 2147483647
_MASK30 = (1 << 30) - 1
#: MinHash permutations per signature, and the LSH bands they split into
NUM_PERM = 8
LSH_BANDS = 4


def minhash_perm_constants(num_perm: int) -> list[tuple[int, int, int]]:
    """Deterministic (a, b, c) constants per permutation; a, b < 2^30 and
    odd so each is a proper universal-hash multiplier."""
    consts = []
    for i in range(num_perm):
        a = ((i * 2654435761 + 1013904223) % (1 << 30)) | 1
        b = ((i * 805459861 + 105943) % (1 << 30)) | 1
        c = (i * 1140071481932319848 + 7) % MINHASH_PRIME
        consts.append((a, b, c))
    return consts


def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """Exact-duplicate groups by content digest: (fp, keeper, n_dups).
    The keeper is min(doc_id) — the canonical survivor."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        df.select(F.md5(norm).alias("fp"), F.col("doc_id"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_dups"))
    )


def shingles(
    df: DataFrame,
    n: int = 3,
    with_size: bool = False,
) -> DataFrame:
    """Distinct word n-gram shingles per document: (doc_id, shingle).

    Tokens via one codegen'd ``\\s+`` split, n-gram windows via the
    Spark ML ``NGram`` transformer — a JVM-side array op that walks the
    token array once (measured ~1.5× faster than a
    lookahead-regex ``regexp_extract_all`` formulation, which pays Java
    regex backtracking at every character position). Narrow op; only
    the explode produces rows.

    ``with_size=True`` additionally carries the per-doc distinct-shingle
    count ``sz`` on every exploded row — computed in-row BEFORE the
    explode, so consumers that need |A| (Jaccard) get it for free
    instead of re-aggregating the shingle table. Request it ONLY when
    the consumer actually uses ``sz`` (uncapped exact Jaccard): the
    size expression keeps the full ngram array alive through the
    Generate, and Catalyst does not prune it even if a downstream
    select drops ``sz`` — measured +2.4s at sf1 on the capped path,
    which recomputes sizes post-filter anyway."""
    from pyspark.ml.feature import NGram

    src = fan_out(df).select(
        F.col("doc_id"), F.split(F.trim(F.col("text")), r"\s+").alias("__toks__")
    )
    src = NGram(n=n, inputCol="__toks__", outputCol="__ngrams__").transform(src)
    ngrams = F.array_distinct(F.col("__ngrams__"))
    if with_size:
        return src.select(F.col("doc_id"), ngrams.alias("__arr__")).select(
            F.col("doc_id"),
            F.explode("__arr__").alias("shingle"),
            F.size("__arr__").cast("long").alias("sz"),
        )
    return src.select(F.col("doc_id"), F.explode(ngrams).alias("shingle"))


def minhash_signatures(shingle_df: DataFrame) -> DataFrame:
    """MinHash signature per document: (doc_id, mh0..mh{p-1}) bigints.

    One 60-bit md5 digest per shingle, then ``NUM_PERM`` integer
    universal-hash permutations of it (see ``minhash_perm_constants``);
    min per doc approximates the Jaccard-preserving permutation minimum.
    Map-side partial min keeps the shuffle at NUM_PERM longs per doc."""
    hashed = shingle_df.select(
        F.col("doc_id"),
        F.shiftright(_hex60(F.col("shingle")), 30).alias("h_hi"),
        _hex60(F.col("shingle")).bitwiseAND(F.lit(_MASK30)).alias("h_lo"),
    )
    aggs = [
        F.min(
            (F.lit(a) * F.col("h_hi") + F.lit(b) * F.col("h_lo") + F.lit(c))
            % F.lit(MINHASH_PRIME)
        ).alias(f"mh{i}")
        for i, (a, b, c) in enumerate(minhash_perm_constants(NUM_PERM))
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(sig: DataFrame, max_bucket_size: int | None = None) -> DataFrame:
    """LSH banding: split the signature into ``LSH_BANDS`` bands, hash each
    band, self-join per (band_id, band_key) bucket with a < b. Output:
    distinct (a_id, b_id) candidate pairs.

    Scale: the self-join runs per bucket; bucket sizes are the skew risk.
    ``max_bucket_size`` is the production guard — buckets larger than the
    cap are dropped entirely before pairing (the standard LSH treatment:
    a bucket that collides half the corpus carries no similarity signal,
    only boilerplate, and pairing it is quadratic). Default ``None``
    preserves exact semantics for oracle parity.
    The signature table is MATERIALIZED before banding: the prior
    "identical self-join sides share one exchange (ReusedExchange)"
    rationale is false at runtime (final adaptive plans show 0 reuse
    and the shingle+minhash pipeline scanning the corpus once PER
    SIDE — join-pushed predicates specialize each side's subtree, the
    failure mode established on bm25/simhash in r8). sig is
    ``NUM_PERM`` longs per document — the cheapest possible checkpoint.
    Measured wall-clock is a WASH locally (sf0.1 1.3->1.4s, sf1
    2.08->2.00s: the duplicate pipeline ran concurrently on idle
    cores), but the barrier halves the corpus CPU — the runtime plan
    goes from two full scans to zero (checkpoint reads) — which is the
    honest win at cluster utilization, bought for a doc-count-sized
    sync. The join stays SMJ (not shuffle-hash) so a skewed partition
    spills instead of OOMing the build at scale."""
    sig = materialize(sig)
    rows_per_band = NUM_PERM // LSH_BANDS
    band_cols = []
    for b in range(LSH_BANDS):
        parts = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_id"), F.md5(F.concat_ws("|", *parts)).alias("band_key"))
        )
    buckets = sig.select(
        F.col("doc_id"), F.explode(F.array(*band_cols)).alias("b")
    ).select("doc_id", "b.band_id", "b.band_key")
    if max_bucket_size is not None:
        bw = Window.partitionBy("band_id", "band_key")
        buckets = (
            buckets.withColumn("__bsz__", F.count("*").over(bw))
            .filter(F.col("__bsz__") <= max_bucket_size)
            .drop("__bsz__")
        )
        # No SECOND barrier on the window output (r7, measured: a
        # buckets-level materialize was a wash, sf1 1.73s -> 1.82s):
        # with sig pinned above, the window's per-side re-execution is
        # only a sort of the SMALL bucket-key table (docs x bands rows
        # read back from the checkpoint). ngram_jaccard_pairs cuts at
        # the window instead because its window re-sorts the full
        # SHINGLE table per consumer.
    left = buckets.alias("l")
    right = buckets.hint("merge").alias("r")
    return (
        left.join(
            right,
            (F.col(f"l.band_id") == F.col(f"r.band_id"))
            & (F.col(f"l.band_key") == F.col(f"r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("a_id"), F.col("r.doc_id").alias("b_id"))
        .distinct()
    )


def minhash_estimate_pairs(sig: DataFrame) -> DataFrame:
    """LSH candidates with their MinHash-estimated Jaccard: the
    signature-only sketch answer (est = matching permutations /
    NUM_PERM) that web-scale dedup ships when exact shingle
    intersection is too expensive. Output: (a_id, b_id, est_jaccard),
    est rounded to 4 (exact /2^k arithmetic — engine-portable).

    Scale: same banded self-join as `lsh_candidate_pairs` (materialized
    signature table — see that docstring for why the self-join sides do
    NOT share an exchange at runtime — then SMJ); signatures ride the
    bucket rows so the estimate costs ZERO extra joins — NUM_PERM
    integer equality checks per candidate."""
    sig = materialize(sig)
    rows_per_band = NUM_PERM // LSH_BANDS
    band_cols = []
    for b in range(LSH_BANDS):
        parts = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(F.concat_ws("|", *parts)).alias("band_key"),
            )
        )
    mh = [f"mh{i}" for i in range(NUM_PERM)]
    buckets = sig.select(
        F.col("doc_id"), *mh, F.explode(F.array(*band_cols)).alias("b")
    ).select("doc_id", *mh, "b.band_id", "b.band_key")
    l, r = buckets.alias("l"), buckets.hint("merge").alias("r")
    matches = sum(
        F.when(F.col(f"l.mh{i}") == F.col(f"r.mh{i}"), 1).otherwise(0)
        for i in range(NUM_PERM)
    )
    return (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("a_id"),
            F.col("r.doc_id").alias("b_id"),
            F.round(matches / F.lit(NUM_PERM), 4).alias("est_jaccard"),
        )
        .distinct()
    )


# Default document-frequency cap for exact-Jaccard pair mining: a
# shingle held by more than this many documents is dropped before the
# inverted-index self-join. See ngram_jaccard_pairs docstring.
DEFAULT_MAX_SHINGLE_FREQ = 8


def ngram_jaccard_pairs(
    shingle_df: DataFrame,
    threshold: float = 0.2,
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
    pre_hashed: bool = False,
    exact: bool = False,
    doc_freq_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via inverted-index join.

    |A∩B| from the shingle self-join, |A|,|B| carried in-row;
    J = common / (|A| + |B| - common). Returns (a_id, b_id, jaccard)
    for pairs above ``threshold``.

    Scale: joins on the shingle digest (never the raw shingle string).
    Per-doc sizes ride ON the exploded rows when ``shingle_df`` comes
    from ``shingles(..., with_size=True)`` (they are a constant per
    doc, so grouping by them is free) — no separate sizes aggregation
    and no post-join size lookups. On the capped default path the
    digest table is materialized before the self-join (see the inline
    comment); the uncapped ``exact=True`` path runs its shingle+digest
    pass once per join side — runtime plans show the sides do NOT
    share an exchange (r8 finding: join-pushed predicates specialize
    each side) — but a barrier there measured a wash (sf0.1
    1.7s vs 1.6-2.0s) because the duplicate sides run concurrently,
    and exact=True exists only as the annotated measurement baseline.

    ``max_shingle_freq`` is the production guard for corpora whose
    shingle space saturates (boilerplate, tiny vocab): shingles held by
    more than the cap's worth of documents are dropped BEFORE pairing
    — standard stop-shingle removal — and per-doc sizes are recomputed
    over the surviving shingles, i.e. Jaccard over the capped sets.
    A shingle shared by k docs contributes k^2/2 candidate pairs while
    carrying ~zero similarity signal once k is large; the cap bounds
    per-shingle work at cap^2/2 regardless of corpus size. The cap is
    ON BY DEFAULT (``DEFAULT_MAX_SHINGLE_FREQ``): uncapped exact
    mining is inherently superlinear on a saturating shingle space
    (any engine — SCALING.md measured DuckDB steeper than Spark on the
    same data), so it must be requested explicitly via ``exact=True``,
    which exists as the MEASUREMENT BASELINE (catalog q26). Both modes
    are oracle-checked (capped: q34/q43/q47/q64/q120; exact: q26).

    ``pre_hashed=True`` accepts a caller-built digest table (columns
    ``doc_id, sh[, sz]``) instead of raw shingles — for composed pipelines
    (q120) where sibling branches consume the SAME digest projection and
    Spark's ReusedExchange then runs the shingle+digest pass once for
    all of them. ``doc_freq_col`` names a caller-computed per-shingle
    document-frequency column on that table: the internal cap window is
    then skipped entirely, so a pipeline that needs document
    frequencies anyway (boilerplate ratios, IDF) pays for ONE window
    and shares it with the pairing cap."""
    if doc_freq_col is not None and not pre_hashed:
        raise ValueError(
            "doc_freq_col requires pre_hashed=True: the shortcut reads the "
            "caller-built digest column 'sh', which raw shingle tables lack"
        )
    if exact:
        if max_shingle_freq not in (None, DEFAULT_MAX_SHINGLE_FREQ):
            raise ValueError(
                "exact=True disables the frequency cap; passing an explicit "
                "max_shingle_freq alongside it is contradictory"
            )
        max_shingle_freq = None
    has_size = "sz" in shingle_df.columns and max_shingle_freq is None
    if pre_hashed:
        hashed = shingle_df.select(
            *([F.col("doc_id"), F.col("sh")] + ([F.col("sz")] if has_size else []))
        )
    else:
        cols = [F.col("doc_id"), _hex60(F.col("shingle")).alias("sh")]
        if has_size:
            cols.append(F.col("sz"))
        hashed = shingle_df.select(*cols)
    if max_shingle_freq is not None:
        if doc_freq_col is not None:
            # caller-computed frequency column: the CALLER owns the
            # window and its sharing strategy (q120 shares the same
            # window output with sibling branches through one
            # sh-exchange) — adding a barrier here would sever that
            # reuse and re-pay the window (measured +0.4s on q120).
            hashed = (
                shingle_df.filter(F.col(doc_freq_col) <= max_shingle_freq)
                .select(F.col("doc_id"), F.col("sh"))
            )
        else:
            fw = Window.partitionBy("sh")
            hashed = (
                hashed.select(F.col("doc_id"), F.col("sh"))
                .withColumn("__df__", F.count("*").over(fw))
                .filter(F.col("__df__") <= max_shingle_freq)
                .drop("__df__")
            )
            # MATERIALIZE the cap-filtered table before fanning out
            # (r7, measured): ReusedExchange dedups only the
            # sh-EXCHANGE below the cap window — the WindowExec itself
            # (which sorts its partition by sh) re-executes per
            # consumer, and the capped table has three (both join
            # sides + the sizes aggregate), so the un-barriered plan
            # paid the window sort 3x. Cutting here runs the
            # shingle+digest+window pass ONCE and the consumers read
            # stored blocks: q64 at sf1 4.4s -> 1.8s, at sf0.1
            # 1.9s -> 1.3s. At cluster scale the checkpoint write is
            # one table-sized IO — the same order as the exchange it
            # already pays — and strictly cheaper than re-sorting the
            # table twice more.
            hashed = materialize(hashed)
        # Capped sizes via a post-aggregation join, NOT a second
        # window over ``doc_id`` (which would re-shuffle the whole
        # table); the sizes table is doc-count-sized and joins onto
        # the (a_id, b_id) pair aggregate, which under the cap is far
        # smaller than the shingle table.
        sizes = hashed.groupBy("doc_id").agg(F.count("*").alias("sz"))
        has_size = False
    elif not has_size:
        hashed = materialize(hashed)
        sizes = hashed.groupBy("doc_id").agg(F.count("*").alias("sz"))
    # Force a shuffle join: the two sides are the same subplan, so their
    # sh-exchanges canonicalize equal and the shingle+digest pass runs
    # ONCE (ReusedExchange). Left to AQE, a broadcast join looks cheaper
    # (no shuffle) but silently recomputes the expensive shingling on
    # both sides — and at 100 TB the shingle table could never be
    # broadcast anyway. Join exec depends on the cap. CAPPED runs use
    # shuffle-hash, which skips the SMJ sort of both sides (measured at
    # sf1: 5.3s -> see q64 NOTES). Memory model, stated precisely: a
    # ShuffledHashJoin build side holds its whole PARTITION (every
    # digest hashed there, each bounded at ``max_shingle_freq`` rows),
    # not one key, and it cannot spill — what the cap buys is that no
    # single hot digest can skew a partition beyond its fair share, so
    # build memory is the ordinary partition-sizing contract every SHJ
    # deployment already owns (spark.sql.shuffle.partitions x executor
    # memory must cover table/partitions). UNCAPPED (exact=True) keeps
    # sort-merge: there a hot digest CAN blow past any partition
    # budget, and SMJ spills instead of OOMing the build.
    join_exec = "shuffle_hash" if max_shingle_freq is not None else "merge"
    l, r = hashed.alias("l"), hashed.hint(join_exec).alias("r")
    joined = l.join(
        r, (F.col("l.sh") == F.col("r.sh")) & (F.col("l.doc_id") < F.col("r.doc_id"))
    )
    if has_size:
        common = joined.groupBy(
            F.col("l.doc_id").alias("a_id"),
            F.col("r.doc_id").alias("b_id"),
            F.col("l.sz").alias("sz_a"),
            F.col("r.sz").alias("sz_b"),
        ).agg(F.count("*").alias("common"))
    else:
        common = (
            joined.groupBy(
                F.col("l.doc_id").alias("a_id"), F.col("r.doc_id").alias("b_id")
            )
            .agg(F.count("*").alias("common"))
            .join(sizes.select(F.col("doc_id").alias("a_id"), F.col("sz").alias("sz_a")), "a_id")
            .join(sizes.select(F.col("doc_id").alias("b_id"), F.col("sz").alias("sz_b")), "b_id")
        )
    # exact integer 4dp rounding (see text.ratio4_expr): |A∩B| and the
    # union size are integers, and double-rounding the ratio can flip
    # the last digit at .00005 boundaries differently per engine
    return (
        common.withColumn(
            "jaccard",
            ratio4_expr("common", "sz_a + sz_b - common"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


#: SimHash signature width: the 60-bit md5 digest prefix (``_hex60``)
SIMHASH_BITS = 60
#: hamming_neardup_pairs' radius and the signature chunks it joins on
#: (a pair within the radius agrees on at least one chunk: radius < chunks)
SIMHASH_RADIUS = 3
SIMHASH_BLOCKS = 4


def simhash(df: DataFrame) -> DataFrame:
    """SimHash signature (60-bit, md5-derived) per document: (doc_id, simhash).

    Each token contributes ±1 to each bit position of its 60-bit digest;
    the signature sets bit b iff the sum at b is positive. Implemented as
    explode → 60 conditional sums grouped by doc: every expression
    stays inside whole-stage codegen (array higher-order functions are
    CodegenFallback — interpreted per row — so the explode formulation is
    several times faster), and map-side partial aggregation collapses the
    exploded rows back to 60 longs per doc before the shuffle."""
    hashed = (
        fan_out(df)
        .select(F.col("doc_id"), F.explode(tokens_col("text")).alias("t"))
        .select(F.col("doc_id"), _hex60(F.col("t")).alias("h"))
    )
    # expressions are built as SQL strings (one F.expr py4j call each, and
    # ONE for the 60-term signature) — building them Column-op by
    # Column-op costs hundreds of py4j round trips ≈ 1.2s of pure
    # driver-side latency per query construction, measured at local[32]
    bit_sums = [
        F.expr(f"sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END)").alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    with_sums = hashed.groupBy("doc_id").agg(*bit_sums)
    sig = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({2 ** b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    )
    return with_sums.select(F.col("doc_id"), F.expr(sig).alias("simhash"))


def hamming_neardup_pairs(sig: DataFrame) -> DataFrame:
    """SimHash near-dup pairs within Hamming radius ``SIMHASH_RADIUS``,
    via the standard block-permutation trick: split the signature into
    ``SIMHASH_BLOCKS`` chunks; any pair within the radius must agree on ≥1 chunk
    → equi-join per chunk, then exact Hamming filter via bit_count(xor).
    The signature table is MATERIALIZED before the self-join: the
    "identical subplans canonicalize equal → ReusedExchange" assumption
    this code previously relied on is false in practice (runtime final
    plans showed 0 reuse — join-pushed predicates specialize each side,
    the same failure mode measured on bm25's tokenize branches), so
    without the barrier the whole tokenize + 60-bit-sum pipeline ran
    once PER SIDE. sig is one long per document — the cheapest possible
    checkpoint for the most expensive subplan (measured at sf0.1:
    2.52s -> 1.36s for the pair join). The join stays sort-merge so a
    hot chunk spills instead of OOMing the build at scale."""
    sig = materialize(sig)
    chunk = SIMHASH_BITS // SIMHASH_BLOCKS
    mask = (1 << chunk) - 1
    chunk_cols = [
        F.struct(
            F.lit(i).alias("blk"),
            F.shiftright(F.col("simhash"), i * chunk).bitwiseAND(F.lit(mask)).alias("ck"),
        )
        for i in range(SIMHASH_BLOCKS)
    ]
    keyed = sig.select(
        F.col("doc_id"), F.col("simhash"), F.explode(F.array(*chunk_cols)).alias("c")
    ).select("doc_id", "simhash", "c.blk", "c.ck")
    l, r = keyed.alias("l"), keyed.hint("merge").alias("r")
    return (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.ck") == F.col("r.ck"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("a_id"),
            F.col("r.doc_id").alias("b_id"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_RADIUS)
    )


def neardup_survivors(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Corpus after near-duplicate removal — the "remove" half of a
    fuzzy-dedup pass (reference keeps only pair mining + clustering;
    training pipelines need the surviving document set).

    ``pairs`` is any (a_id, b_id) near-dup edge set (LSH, Jaccard,
    Hamming). Edges go through connected components so transitive
    duplicates collapse into one cluster; the survivor is min(doc_id) per
    cluster and ``n_absorbed`` counts the documents it replaced.
    Untouched documents pass through as their own singleton cluster.

    Scale: CC runs on the matched-pair edge set only (tiny vs the
    corpus); the corpus itself is touched by one left join + one
    groupBy on the cluster label.
    """
    from dropbox_duckdb_playground_spark.operators.components import (
        connected_components,
    )

    labels = connected_components(
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    )
    labeled = docs.select("doc_id").join(
        labels, docs["doc_id"] == labels["node_id"], "left"
    ).select(
        F.col("doc_id"), F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
    )
    return labeled.groupBy("cluster_id").agg(
        F.min("doc_id").alias("doc_id"), (F.count("*") - F.lit(1)).alias("n_absorbed")
    )


def contamination_check(
    train_shingles: DataFrame, bench_shingles: DataFrame
) -> DataFrame:
    """Benchmark-contamination scan: for every training document, the
    fraction of its distinct n-gram shingles that also occur anywhere in
    a benchmark/eval set (the standard n-gram-overlap decontamination
    check run before LLM training).

    Inputs are two ``shingles()`` outputs. Output: (doc_id, n_shingles,
    n_contaminated, contamination) with the ratio rounded to 4 places.

    Scale: the benchmark side collapses to DISTINCT shingles and is
    broadcast — eval sets are tiny (MBs) against a 100 TB corpus, so
    the scan of the training side stays shuffle-free; the only exchange
    is the per-doc count aggregation.
    """
    from pyspark.sql.functions import broadcast

    bench = broadcast(bench_shingles.select("shingle").distinct())
    per_doc = train_shingles.join(
        bench.withColumn("__hit", F.lit(1)), on="shingle", how="left"
    ).groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.count("__hit").alias("n_contaminated"),
    )
    return per_doc.select(
        F.col("doc_id"),
        "n_shingles",
        "n_contaminated",
        ratio4_expr("n_contaminated", "n_shingles").alias("contamination"),
    )
