"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure `pyspark.sql.functions` compositions (JVM-side,
whole-stage-codegen) — no Python UDFs in the hot path. Token model:
whitespace tokenization of trimmed text (deterministic, oracle-portable).

Scale notes: every operator here is embarrassingly parallel per row
(narrow transformations, zero shuffles) except `lang_id_predict`, which
shuffles once on token and once on doc_id — both on bounded-cardinality
keys. At 100 TB the token→profile join broadcasts the profile.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark.materialize import materialize


DEFAULT_STOPWORDS = ("the", "a", "of", "and", "to", "in")


def tokens_col(text: str | Column = "text") -> Column:
    """Whitespace tokens of trimmed text (empty text -> empty array)."""
    c = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(c)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(text: str | Column) -> Column:
    return F.size(tokens_col(text))


def token_stats(df: DataFrame) -> DataFrame:
    """Per-document token statistics: n_chars, n_tokens, n_distinct_tokens,
    avg_token_len. One narrow pass + one small agg per doc."""
    toks = tokens_col("text")
    return df.select(
        F.col("doc_id"),
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.round(
            F.aggregate(toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t))
            / F.greatest(F.size(toks), F.lit(1)),
            4,
        ).alias("avg_token_len"),
    )


def ratio4_expr(p: str, q: str) -> Column:
    """``round(p/q, 4)`` for non-negative integer column expressions,
    in EXACT integer arithmetic (half-up): ``(20000p + q) div 2q`` over
    10^4. Double-rounding the same ratio can flip the last digit at
    .00005 boundaries depending on engine/association order — this form
    is bit-identical everywhere (DuckDB twin: ``(20000*p + q) //
    (2*q) / CAST(10000 AS DOUBLE)``)."""
    return F.expr(
        f"(((20000L * ({p})) + ({q})) div (2L * ({q})))"
        " / cast(10000 as double)"
    )


#: JVM regex matching one whole stopword token: a token is a maximal
#: non-\s run, so a stopword token is exactly a \Q-quoted alternative
#: bounded by ^/\s lookarounds. Shared by :func:`quality_score` and
#: catalog q100 through :func:`quality_feature_exprs`.
STOPWORD_PATTERN = (
    "(?<=^|\\s)(?:"
    + "|".join("\\Q" + s + "\\E" for s in DEFAULT_STOPWORDS)
    + ")(?=\\s|$)"
)


def quality_feature_exprs() -> list[Column]:
    """The five integer count columns the quality blend is built from
    (``__ntr__`` raw token count, ``__nt__`` max(count,1) denominator,
    ``__stop__`` stopword tokens, ``__dist__`` distinct tokens,
    ``__chars__`` non-whitespace chars) — single-pass JVM regex over the
    trimmed text, no higher-order-function lambdas (interpreted per
    element, not codegen'd). Values are identical to the lambda forms
    (verified row-wise on 50k sf1 docs); measured 1.02s -> 0.79s for the
    feature pass. Shared by :func:`quality_score` and catalog q100."""
    trimmed = F.trim(F.col("text"))
    toks = tokens_col("text")
    return [
        F.size(toks).cast("long").alias("__ntr__"),
        F.greatest(F.size(toks), F.lit(1)).cast("long").alias("__nt__"),
        F.regexp_count(trimmed, F.lit(STOPWORD_PATTERN)).cast("long").alias("__stop__"),
        F.size(F.array_distinct(toks)).cast("long").alias("__dist__"),
        F.length(F.regexp_replace(trimmed, r"\s+", ""))
        .cast("long")
        .alias("__chars__"),
    ]


# Quality-blend numerator over the common denominator 400*__nt__:
#   min(ntr,100)/100/4 + min(5*stop,nt)/nt/4 + dist/nt/4 + flag/4
# where flag is 1 when mean word length is in [3,10]. Kept as one SQL
# string so quality_score and catalog q100 compute the literally same
# integer blend (r11 ADVICE); pair with ratio4_expr(QUALITY_BLEND_NUM,
# "400L * __nt__").
QUALITY_BLEND_NUM = (
    "least(__ntr__, 100L) * __nt__"
    " + 100L * least(5L * __stop__, __nt__)"
    " + 100L * __dist__"
    " + if(__chars__ >= 3L * __nt__ and __chars__ <= 10L * __nt__,"
    "      100L * __nt__, 0L)"
)


def quality_score(df: DataFrame) -> DataFrame:
    """Heuristic document-quality features + combined score.

    Features follow the public Gopher/C4-style rules: length, mean word
    length, stopword ratio, repetition (distinct-token ratio). The score
    is a fixed deterministic linear blend for filtering; thresholds are
    caller policy.

    Every ratio is a ratio of COUNTS, so the 4-decimal rounding is done
    in exact integer arithmetic — ``round(p/q, 4)`` half-up for
    positive integers is ``(20000*p + q) div (2*q)`` over 10^4 — and
    the quality blend is put over the common denominator ``400*n_tok``
    first. Rounding the nearest DOUBLE instead diverges between engines
    exactly at the .00005 boundaries (a 1-ulp association difference
    flips the rounded digit — observed at sf1 on the quality blend), the
    same class of bug the money columns fixed with micro-units; the
    integer form is bit-identical on any engine."""
    base = df.select(F.col("doc_id"), *quality_feature_exprs())
    return base.select(
        F.col("doc_id"),
        F.col("__ntr__").alias("n_tokens"),
        ratio4_expr("__stop__", "__nt__").alias("stopword_ratio"),
        ratio4_expr("__dist__", "__nt__").alias("distinct_ratio"),
        ratio4_expr("__chars__", "__nt__").alias("mean_word_len"),
        ratio4_expr(QUALITY_BLEND_NUM, "400L * __nt__").alias("quality"),
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Stable content fingerprint: md5 of whitespace-normalized lowercase
    text. md5 (not xxhash64) so the fingerprint is portable across engines
    and storage systems."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return df.select(F.col("doc_id"), F.md5(norm).alias("fp"))


#: winnow_fingerprints' token n-gram length and window width
WINNOW_N = 3
WINNOW_W = 4


def winnow_fingerprints(df: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., MOSS): hash every
    token ``WINNOW_N``-gram with a rolling window of ``lead``s, then keep
    the min hash of each window of ``WINNOW_W`` consecutive grams; the
    distinct mins are the fingerprint set — robust to local edits,
    position-independent.

    Returns distinct (doc_id, fp bigint). Everything is JVM window execs over
    one partition-by-doc shuffle; at 100 TB docs are the natural partition
    unit so the shuffle is one pass and windows never cross executors.

    r13 measured dead end (git show eccd0ba:tools/decompose_q42.py): an
    array-HOF form (transform/slice/array_min computing hs + window-mins
    in-row, no posexplode, no Window — plan shape 1 Exchange vs this form's
    2) was built, oracle-verified at sf0.001-0.1, and measured SLOWER in
    every interleaved pair: medians 1.332s (this form) vs 1.624s at sf0.1
    (-22%); still -29% after ruling out scan-split starvation with
    openCostInBytes=65536 (10 splits). The md5 work is identical in both;
    the difference is HOF lambda evaluation (interpreted, per-element boxing
    + per-gram slice allocations) vs this form's codegen'd gram/hash
    projection streaming over one sorted exchange whose shuffle files sit in
    page cache. The HOF shape only pays off when the token exchange crosses
    a real network AND the scan itself carries the parallelism — revisit on
    a cluster profile, keep the window form here."""
    from pyspark.sql import Window

    from dropbox_duckdb_playground_spark.operators.dedup import _hex60

    toks = df.select(
        F.col("doc_id"), F.posexplode(tokens_col("text")).alias("pos", "tok")
    )
    ww = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.concat_ws(
        " ", *([F.col("tok")] + [F.lead("tok", i).over(ww) for i in range(1, WINNOW_N)])
    )
    complete = F.lead("tok", WINNOW_N - 1).over(ww).isNotNull()
    hashed = toks.select(
        F.col("doc_id"), F.col("pos"), F.when(complete, _hex60(gram)).alias("h")
    ).filter(F.col("h").isNotNull())
    wmin = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    full = F.lead("h", WINNOW_W - 1).over(Window.partitionBy("doc_id").orderBy("pos"))
    return (
        hashed.select(
            F.col("doc_id"), F.min("h").over(wmin).alias("fp"), full.alias("_full")
        )
        .filter(F.col("_full").isNotNull())
        .select("doc_id", "fp")
        .distinct()
    )


# GPT-2-style coarse tokenizer pattern: contraction suffixes, space-prefixed
# letter runs, digit runs, punctuation runs. Deliberately lookaround-free so
# Java regex (Spark) and RE2 (DuckDB/oracle) count identically.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_PATTERN = r"https?://[^ ]+"


def bpe_token_count(text: str | Column) -> Column:
    """Approximate LLM token count: matches of a BPE-ish regex (GPT-2
    pre-tokenizer shape). One codegen'd regex pass; complements the
    whitespace `token_count` with a count closer to what a subword
    tokenizer would produce."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)).cast("long")


def scrub_text(df: DataFrame) -> DataFrame:
    """PII/URL scrub for training corpora: emails → <EMAIL>, URLs → <URL>.
    Narrow per-row regexp_replace chain — embarrassingly parallel, and the
    patterns are RE2-compatible so the scrub is reproducible in any engine."""
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_PATTERN, "<EMAIL>"),
        URL_PATTERN,
        "<URL>",
    )
    return df.select(F.col("doc_id"), clean.alias("clean_text"))


def stratified_sample(
    df: DataFrame,
    strata: str,
    key: str,
    pct: int,
) -> DataFrame:
    """Deterministic per-stratum sample: keep a row iff the 60-bit md5 of
    ``strata:key`` lands under ``pct`` percent. Unlike `df.sample`, the
    decision is a pure function of the row — reproducible across engines,
    runs, and partitionings (the property training-data pipelines need to
    re-derive a sample without storing membership). Narrow op, no shuffle."""
    from dropbox_duckdb_playground_spark.operators.dedup import _hex60

    bucket = F.pmod(
        _hex60(F.concat_ws(":", F.col(strata), F.col(key))), F.lit(100)
    )
    return df.filter(bucket < pct)


#: tokens per language profile in ``lang_id_predict``
LANG_PROFILE_SIZE = 20


def lang_id_predict(docs: DataFrame) -> DataFrame:
    """Token-profile language ID (n-gram-frequency heuristic).

    Builds per-language profiles (top-``LANG_PROFILE_SIZE`` tokens by frequency
    from the labeled corpus), then classifies each document by the highest
    profile-overlap count. Deterministic tie-breaks: token then language
    code ascending.

    Scale (single lazy action, fully JVM-side):

    - profile branch: explode → groupBy(label, token) — ONE map-side
      combined shuffle whose bytes are bounded by distinct tokens per
      language, then a top-N window over that tiny table. The result
      (n_langs × LANG_PROFILE_SIZE rows) rides into the scoring join as a
      BROADCAST, so no driver collect and the operator stays lazy.
    - scoring branch: explode → broadcast-join profile → groupBy(doc_id,
      cand_lang) count (partial agg caps rows at n_docs × n_langs) →
      per-doc argmax as groupBy(doc_id).min(struct(-overlap, lang)) —
      a hash aggregate, NOT a window: no sort, no extra exchange for
      a window frame, and ties break exactly like (overlap DESC,
      lang ASC).
    - NO fan_out / repartition of the input: documents is fact-side,
      so at real scale the parquet scan already splits on row groups;
      a round-robin pre-shuffle would just move the whole text payload
      once more for nothing (measured +0.4s at sf0.1 for zero gain).
    """
    toks = docs.select(F.col("lang"), F.explode(tokens_col("text")).alias("token"))
    freq = toks.groupBy("lang", "token").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    profile = (
        freq.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= LANG_PROFILE_SIZE)
        .select(F.col("lang").alias("cand_lang"), "token")
    )
    scores = (
        docs.select(F.col("doc_id"), F.explode(tokens_col("text")).alias("token"))
        .join(F.broadcast(profile), "token")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count("*").alias("overlap"))
    )
    best = scores.groupBy("doc_id").agg(
        F.min(
            F.struct(
                (-F.col("overlap")).alias("__neg__"),
                F.col("cand_lang"),
                F.col("overlap"),
            )
        ).alias("__best__")
    )
    return best.select(
        "doc_id",
        F.col("__best__.cand_lang").alias("pred_lang"),
        F.col("__best__.overlap").alias("overlap"),
    )


def chunk_documents(
    df: DataFrame, chunk_tokens: int = 50, overlap: int = 10
) -> DataFrame:
    """Split documents into fixed-token training windows with overlap —
    the standard LLM context-window prep step. Output: (doc_id, chunk_id,
    n_tokens, chunk_text), chunk_id 0-based; the final chunk may be
    short; zero-token docs produce no chunks.

    Scale: narrow map — tokenize once in-row, explode over the stride
    starts (``sequence``), slice + rejoin per chunk. No shuffle at all;
    chunk fan-out is bounded by n_tokens/stride per doc."""
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("chunk_tokens must exceed overlap")
    toks = F.col("__toks__")
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)
    )
    out = (
        df.select(F.col("doc_id"), tokens_col("text").alias("__toks__"))
        .filter(n > 0)
        .select(
            F.col("doc_id"),
            F.col("__toks__"),
            F.posexplode(starts).alias("chunk_id", "start"),
        )
        .select(
            F.col("doc_id"),
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.slice(F.col("__toks__"), F.col("start") + 1, chunk_tokens).alias(
                "__chunk__"
            ),
        )
    )
    return out.select(
        "doc_id",
        "chunk_id",
        F.size("__chunk__").cast("long").alias("n_tokens"),
        F.concat_ws(" ", "__chunk__").alias("chunk_text"),
    )


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Unigram-LM surprisal score per document: avg -log2 p(token) under
    the corpus's own unigram distribution — the cheap end of the
    perplexity-filtering family used to drop gibberish/boilerplate from
    LLM training corpora (thresholding is caller policy).

    Output: (doc_id, n_tokens, avg_neg_log2p) rounded to 4 places.

    Scale: token frequencies via ONE map-side-combined shuffle (bytes
    bounded by vocab); the corpus total rides a broadcast scalar join;
    scoring joins each exploded token against the frequency table and
    collapses straight to the per-doc average (partial agg). The freq
    join is a plain shuffle join, so an arbitrarily large vocabulary
    never needs to fit anywhere whole."""
    toks = docs.select(F.col("doc_id"), F.explode(tokens_col("text")).alias("token"))
    freq = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("__total__"))
    p = freq.crossJoin(F.broadcast(total)).select(
        "token", (F.col("cnt") / F.col("__total__")).alias("p")
    )
    return (
        toks.join(p, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg(-F.log2("p")), 4).alias("avg_neg_log2p"),
        )
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document:

    - ``top_unigram_frac`` — fraction of token positions held by the
      single most frequent token,
    - ``top_bigram_frac`` — fraction of bigram positions held by the
      most frequent bigram,
    - ``dup_bigram_frac`` — fraction of bigram positions whose bigram
      occurs more than once.

    These are the public repetition-filter rules used to drop
    boilerplate/spam from LLM training corpora (thresholding is caller
    policy). Only counts are emitted — never the winning n-gram — so
    ties cannot make the output nondeterministic.

    Scale: two explode→partial-agg pipelines whose shuffles carry
    (doc_id, gram, count) — map-side combine collapses repeats, so bytes
    shuffled are bounded by distinct grams per doc, not corpus size.
    """
    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    uni = (
        df.select(F.col("doc_id"), F.explode(F.split(norm, " ")).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.max("c").alias("top_uni"),
        )
    )
    bigram_pat = r"(?<![^ ])(?=(\S+ \S+))"
    bi = (
        df.select(
            F.col("doc_id"),
            F.explode(
                F.regexp_extract_all(norm, F.lit(bigram_pat), 1)
            ).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.max("c").alias("top_bi"),
            F.sum(F.when(F.col("c") > 1, F.col("c"))).alias("dup_bi"),
        )
    )
    return uni.join(bi, on="doc_id", how="left").select(
        F.col("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.col("top_uni") / F.col("n_tokens"), 4).alias(
            "top_unigram_frac"
        ),
        F.round(
            F.coalesce(F.col("top_bi") / F.col("n_bigrams"), F.lit(0.0)), 4
        ).alias("top_bigram_frac"),
        F.round(
            F.coalesce(F.col("dup_bi") / F.col("n_bigrams"), F.lit(0.0)), 4
        ).alias("dup_bigram_frac"),
    )


#: Okapi BM25 term-saturation and length-normalization constants
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(docs: DataFrame, n_query_terms: int = 8, k: int = 10) -> DataFrame:
    """BM25 retrieval: top-``k`` documents for each of the corpus's
    ``n_query_terms`` most frequent non-stopword terms (Robertson &
    Zaragoza 2009, the Okapi formula with the standard +1 idf floor).

    Output: (term, doc_id, tf, bm25) ordered per term by
    (round(bm25,4) DESC, doc_id ASC) — rounded-score tie-breaks keep the
    ranking engine-stable; the idf ln() differs across libm
    implementations only below the 4-decimal rounding.

    Scale: the corpus is tokenized EXACTLY ONCE, and the token-level
    rows are NEVER shuffled. ``repartition(doc_id)`` before the explode
    hash-partitions the documents, which satisfies the clustering
    requirement of ``groupBy(doc_id, dl, term)`` (a hash partitioning on a
    subset of the grouping keys), so the tf aggregate runs exchange-free
    on whole-document partitions — the one corpus-sized shuffle moves
    raw document text, the same bytes the alternative token-partial
    exchange would move, and it additionally leaves the materialized tf
    table doc-partitioned. The explode carries the per-document length
    alongside each token, so tf (doc_id, dl, term, tf) already holds
    everything per-posting scoring needs — there is no corpus-sized dl
    join. Every other input derives from that pinned table through ONE
    vocabulary aggregate (materialized, one row per term): the top-N
    query terms carry their own df (a single N-row broadcast) and
    tot_dl is sum(cnt) over the same vocab table — so tf itself is
    read exactly twice (vocab build + scoring), never three times.
    Only n_docs touches the docs scan again — a column-pruned count
    that must see zero-token documents, which the explode drops.
    Scoring touches only the tf rows of the few query terms
    (broadcast-join prune BEFORE the window), and the final top-k
    window shuffles just those rows, pre-trimmed by WindowGroupLimit.

    Barrier choice re-adjudicated r9
    (git show eccd0ba:tools/decompose_q106.py, interleaved at sf1): eager
    checkpoint 2.18s, lazy pin/persist 1.77s, no barrier 1.84s. pin ~= none
    is the tell — the lazy cache races its concurrent consumer stages (each
    computes uncached partitions), so it buys NO single-execution guarantee;
    the checkpoint's ~0.4s wall premium is the price of tokenizing the
    corpus exactly once, kept for cluster CPU honesty. Stage account at sf1:
    tf build 0.83s lazy (+0.16s checkpoint tax), downstream consumers 1.19s
    — a multi-stage launch floor (vocab agg, qterms sort-limit, n_docs
    count, broadcast scoring, top-k window) of the q93 class, flat in data
    size.

    The materialize barrier is load-bearing: tf feeds its consumers
    (the vocab aggregate and scoring; tot_dl rode tf directly until
    r9) whose branch-specific pushed filters
    (e.g. isnotnull(term) from the scoring join) make the subtrees
    canonicalize differently, so ReusedExchange cannot unify them and
    each branch would re-tokenize the corpus. Measured at sf1
    (same-session A/B, local[32]): this shape won every paired run
    against the branch-per-consumer plan (0.89s vs 2.6s in a quiet
    host window; 2.2s vs 2.55s under load), and the partial variants
    lose outright (fan_out-only 4.3s, materialize-only 3.4s, two-pass
    re-tokenize 2.9s) because only the repartition(doc_id)+materialize
    pair removes BOTH the re-execution and the token-level exchange.
    Also measured and rejected: checkpointing only the vocabulary
    aggregate and re-tokenizing a query-term-pruned second pass
    (2.7s vs 2.1s same-session — the second tokenize costs more than
    the token-table checkpoint it saves)."""
    # Explicit partition count: a bare repartition(col) lets AQE
    # coalesce the (small-bytes, compute-heavy) text shuffle down to 1-2
    # partitions, serializing the tokenize — measured 2.4s vs 0.9s at
    # sf1. defaultParallelism = cluster cores, the compute-bound choice.
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    toks = (
        docs.select(F.col("doc_id"), F.col("text"))
        .repartition(n_part, F.col("doc_id"))
        .select(F.col("doc_id"), tokens_col("text").alias("__toks"))
        .select(
            F.col("doc_id"),
            F.size("__toks").cast("long").alias("dl"),
            F.explode("__toks").alias("term"),
        )
    )
    tf = materialize(
        toks.groupBy("doc_id", "dl", "term").agg(F.count("*").alias("tf"))
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    # ONE vocabulary pass over tf serves BOTH tot_dl and the query
    # terms: sum(cnt) over the vocab aggregate == sum(tf) == total
    # token mass, so the former full-tf tot_dl pass is gone (r9,
    # git show eccd0ba:tools/decompose_q106.py: wall wash at sf1 — median
    # delta +0.03s, rows identical — but one fewer corpus-sized pass over
    # the pinned tf table; at 100 TB that pass is a full re-read of the
    # checkpoint, while the vocab table it replaces it with is
    # vocabulary-sized). The vocab materialize is a tiny barrier (one row
    # per distinct term) pinning its two consumers.
    vocab = materialize(
        tf.groupBy("term").agg(F.count("*").alias("df"), F.sum("tf").alias("cnt"))
    )
    tot_dl = vocab.agg(F.sum("cnt").alias("tot_dl"))
    n_and_avg = n_docs.crossJoin(tot_dl)
    stop_arr = F.array(*[F.lit(s) for s in DEFAULT_STOPWORDS])
    qterms = (
        vocab.filter(~F.array_contains(stop_arr, F.col("term")))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(n_query_terms)
        .select("term", "df")
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(n_and_avg))
    )
    avgdl = F.col("tot_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    bm25 = idf * (
        F.col("tf") * (BM25_K1 + 1)
        / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / avgdl))
    )
    w = Window.partitionBy("term").orderBy(
        F.desc(F.round(bm25, 4)), F.asc("doc_id")
    )
    return (
        scored.withColumn("bm25", F.round(bm25, 4))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("term", "doc_id", "tf", "bm25")
    )
