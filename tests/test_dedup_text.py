"""Dedup + text operator semantics on controlled inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark.operators import dedup as D
from dropbox_duckdb_playground_spark.operators import text as TX


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups(spark):
    df = _docs(
        spark,
        [(1, "hello world"), (2, "Hello   WORLD"), (3, "other text")],
    )
    out = {(r.keeper, r.n_dups) for r in D.exact_dedup_groups(df).collect()}
    # normalization: case + whitespace collapse -> docs 1,2 identical
    assert out == {(1, 2), (3, 1)}


def test_shingles(spark):
    df = _docs(spark, [(1, "a b c d")])
    got = {r.shingle for r in D.shingles(df, n=3).collect()}
    assert got == {"a b c", "b c d"}


def test_shingles_short_doc_empty(spark):
    df = _docs(spark, [(1, "a b")])
    assert D.shingles(df, n=3).count() == 0


def test_minhash_identical_docs_pair(spark):
    df = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quick brown fox jumps over the lazy dog again"),
            (3, "completely different words appear in this one here now"),
        ],
    )
    sig = D.minhash_signatures(D.shingles(df))
    pairs = {(r.a_id, r.b_id) for r in D.lsh_candidate_pairs(sig).collect()}
    assert (1, 2) in pairs
    assert all(p[0] < p[1] for p in pairs)


def test_jaccard_exact_value(spark):
    # doc1: shingles {a b c, b c d}; doc2: {a b c}; J = 1/2
    df = _docs(spark, [(1, "a b c d"), (2, "a b c")])
    out = D.ngram_jaccard_pairs(D.shingles(df), threshold=0.0).collect()
    assert len(out) == 1
    assert out[0].a_id == 1 and out[0].b_id == 2
    assert abs(out[0].jaccard - 0.5) < 1e-9


def test_lsh_max_bucket_size_drops_mega_buckets(spark):
    # four identical docs collide in every band; cap 3 < bucket size 4
    # drops the bucket, cap 4 keeps it
    rows = [(i, "the quick brown fox jumps over the lazy dog again") for i in range(4)]
    sig = D.minhash_signatures(D.shingles(_docs(spark, rows)))
    assert D.lsh_candidate_pairs(sig, max_bucket_size=3).count() == 0
    capped = D.lsh_candidate_pairs(sig, max_bucket_size=4)
    assert {(r.a_id, r.b_id) for r in capped.collect()} == {
        (a, b) for a in range(4) for b in range(4) if a < b
    }


def test_jaccard_max_shingle_freq_stop_shingles(spark):
    # "a b c" is held by all three docs (freq 3 > cap 2) -> dropped;
    # doc1/doc2 still share {b c d} among their surviving shingles:
    # doc1 {b c d}, doc2 {b c d, c d e} -> J = 1/2. doc3 has no
    # surviving shingles and pairs with nobody.
    df = _docs(spark, [(1, "a b c d"), (2, "a b c d e"), (3, "a b c")])
    out = D.ngram_jaccard_pairs(
        D.shingles(df, with_size=True), threshold=0.0, max_shingle_freq=2
    ).collect()
    assert len(out) == 1
    assert out[0].a_id == 1 and out[0].b_id == 2
    assert abs(out[0].jaccard - 0.5) < 1e-9


def test_chunk_documents_windows_and_tail(spark):
    from dropbox_duckdb_playground_spark.operators import text as TX

    toks = [f"t{i}" for i in range(120)]
    df = _docs(spark, [(1, " ".join(toks)), (2, ""), (3, "one two")])
    out = TX.chunk_documents(df, chunk_tokens=50, overlap=10).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: starts 0,40,80 -> 50,50,40 tokens; overlap of 10 tokens
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.n_tokens for r in c1] == [50, 50, 40]
    assert c1[0].chunk_text.split()[40:] == c1[1].chunk_text.split()[:10]
    assert 2 not in by_doc  # empty doc -> no chunks
    assert by_doc[3][0].chunk_text == "one two"


def test_minhash_estimate_identical_docs_est_one(spark):
    df = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quick brown fox jumps over the lazy dog again"),
            (3, "completely different words appear in this one here now"),
        ],
    )
    sig = D.minhash_signatures(D.shingles(df))
    out = {(r.a_id, r.b_id): r.est_jaccard for r in D.minhash_estimate_pairs(sig).collect()}
    assert out[(1, 2)] == 1.0  # identical docs -> all 8 permutations match


def test_unigram_logprob_rare_tokens_score_higher(spark):
    from dropbox_duckdb_playground_spark.operators import text as TX

    # doc 1 repeats the common token; doc 2 is all rare tokens
    df = _docs(spark, [(1, "a a a a a a a a"), (2, "x y z w")])
    out = {r.doc_id: r for r in TX.unigram_logprob(df).collect()}
    assert out[1].n_tokens == 8 and out[2].n_tokens == 4
    assert out[2].avg_neg_log2p > out[1].avg_neg_log2p


def test_simhash_identical_and_near(spark):
    df = _docs(
        spark,
        [
            (1, "w1 w2 w3 w4 w5 w6 w7 w8"),
            (2, "w1 w2 w3 w4 w5 w6 w7 w8"),
            (3, "z1 z2 z3 z4 z5 z6 z7 z9"),
        ],
    )
    sigs = {r.doc_id: r.simhash for r in D.simhash(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    pairs = D.hamming_neardup_pairs(D.simhash(df)).collect()
    assert {(p.a_id, p.b_id) for p in pairs} == {(1, 2)}


def test_token_stats(spark):
    df = _docs(spark, [(1, "  aa bb  cc aa ")])
    r = TX.token_stats(df).collect()[0]
    assert (r.n_tokens, r.n_distinct_tokens) == (4, 3)
    assert abs(r.avg_token_len - 2.0) < 1e-9


def test_quality_monotone_repetition(spark):
    """A degenerate all-same-token doc scores below a varied doc."""
    df = _docs(
        spark,
        [
            (1, "the cat sat on a mat and then the dog came in too"),
            (2, "spam spam spam spam spam spam spam spam spam spam"),
        ],
    )
    q = {r.doc_id: r.quality for r in TX.quality_score(df).collect()}
    assert q[1] > q[2]


def test_lang_id_recovers_obvious_split(spark):
    rows = []
    for i in range(10):
        rows.append((i, "aaa bbb ccc ddd", "xx"))
        rows.append((100 + i, "qqq rrr sss ttt", "yy"))
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = TX.lang_id_predict(df)
    preds = {r.doc_id: r.pred_lang for r in out.collect()}
    assert all(preds[i] == "xx" for i in range(10))
    assert all(preds[100 + i] == "yy" for i in range(10))


def test_fingerprint_normalizes(spark):
    df = _docs(spark, [(1, " A  b "), (2, "a b")])
    fps = {r.doc_id: r.fp for r in TX.fingerprint(df).collect()}
    assert fps[1] == fps[2]


def test_bpe_token_count_known_string(spark):
    df = _docs(
        spark,
        [(1, "He said: don't count 123 tokens, visit https://x.io/a?b=1 or mail a.b@c.de!")],
    )
    out = df.select(TX.bpe_token_count("text").alias("n")).collect()
    assert out[0].n == 31
    # BPE-ish count exceeds whitespace count on punctuated text
    ws = df.select(TX.token_count("text").alias("n")).collect()[0].n
    assert out[0].n > ws


def test_scrub_text_replaces_pii(spark):
    df = _docs(spark, [(1, "mail a.b@c.de or https://x.io/a?b=1 end")])
    out = TX.scrub_text(df).collect()[0].clean_text
    assert out == "mail <EMAIL> or <URL> end"


def test_stratified_sample_deterministic_and_proportional(spark):
    rows = [(i, "t", "en" if i % 2 else "fr") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    s1 = {r.doc_id for r in TX.stratified_sample(df, "lang", "doc_id", 20).collect()}
    s2 = {r.doc_id for r in TX.stratified_sample(df, "lang", "doc_id", 20).collect()}
    assert s1 == s2  # pure function of the row, not of partitioning
    # roughly 20% per stratum (md5 is uniform; allow wide tolerance)
    en = sum(1 for i in s1 if i % 2)
    fr = sum(1 for i in s1 if not i % 2)
    assert 50 < en < 150 and 50 < fr < 150
    # growing pct only adds rows (nested samples)
    s3 = {r.doc_id for r in TX.stratified_sample(df, "lang", "doc_id", 40).collect()}
    assert s1 <= s3


def test_winnow_fingerprints_shared_for_common_run(spark):
    # docs share a long common token run -> share fingerprints; a
    # disjoint doc shares none
    common = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = _docs(
        spark,
        [
            (1, common + " one two"),
            (2, "pre fix " + common),
            (3, "totally different words with no overlap at all here"),
        ],
    )
    out = TX.winnow_fingerprints(df).collect()
    fps = {}
    for r in out:
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2], "overlapping docs must share fingerprints"
    assert not (fps[1] & fps[3])
    # fingerprint count is a small fraction of gram count (winnowed)
    assert len(fps[1]) < 10


def test_neardup_survivors_transitive(spark):
    # edges 1-2, 2-3 form one cluster; 4 has no edge -> singleton
    docs = _docs(
        spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    ).select("doc_id")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["a_id", "b_id"])
    out = {
        (r.cluster_id, r.doc_id, r.n_absorbed)
        for r in D.neardup_survivors(docs, pairs).collect()
    }
    assert out == {(1, 1, 2), (4, 4, 0)}


def test_neardup_survivors_no_pairs(spark):
    docs = _docs(spark, [(1, "a"), (2, "b")]).select("doc_id")
    pairs = spark.createDataFrame([], "a_id long, b_id long")
    out = {
        (r.doc_id, r.n_absorbed)
        for r in D.neardup_survivors(docs, pairs).collect()
    }
    assert out == {(1, 0), (2, 0)}


def test_contamination_check(spark):
    train = _docs(
        spark,
        [(1, "a b c d"), (2, "x y z w")],  # shingles: {abc,bcd}, {xyz,yzw}
    )
    bench = _docs(spark, [(100, "a b c z")])  # shingles: {abc, bcz}
    out = {
        (r.doc_id, r.n_shingles, r.n_contaminated, float(r.contamination))
        for r in D.contamination_check(
            D.shingles(train, n=3), D.shingles(bench, n=3)
        ).collect()
    }
    # doc 1 shares 'a b c' with the benchmark; doc 2 shares nothing
    assert out == {(1, 2, 1, 0.5), (2, 2, 0, 0.0)}


def test_repetition_stats(spark):
    df = _docs(spark, [(1, "a a a b"), (2, "x y")])
    out = {
        (
            r.doc_id,
            r.n_tokens,
            float(r.top_unigram_frac),
            float(r.top_bigram_frac),
            float(r.dup_bigram_frac),
        )
        for r in TX.repetition_stats(df).collect()
    }
    # doc 1: tokens {a:3, b:1}; bigrams {'a a':2, 'a b':1} -> top 2/3, dup 2/3
    # doc 2: unique everything
    assert out == {
        (1, 4, 0.75, round(2 / 3, 4), round(2 / 3, 4)),
        (2, 2, 0.5, 1.0, 0.0),
    }


def test_bm25_ranks_term_heavy_doc_first(spark):
    from dropbox_duckdb_playground_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "apple apple apple banana"),
            (2, "apple banana cherry date"),
            (3, "banana cherry date egg fig"),
            (4, "zz yy xx ww vv uu tt ss"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, n_query_terms=2, k=3).collect()
    by_term = {}
    for r in out:
        by_term.setdefault(r["term"], []).append((r["doc_id"], r["bm25"]))
    # 'apple' (3 occurrences in doc 1) must rank doc 1 first
    assert "apple" in by_term or "banana" in by_term
    if "apple" in by_term:
        assert by_term["apple"][0][0] == 1
    # scores are descending within each term
    for term, rows in by_term.items():
        scores = [s for _, s in rows]
        assert scores == sorted(scores, reverse=True)


def test_bm25_counts_empty_docs_in_n_docs(spark):
    """The one-tokenize tf build drops zero-token documents at the
    explode; n_docs must still count them (it feeds idf and avgdl), so
    it is computed from the docs scan, not from tf. Pin that with two
    corpora differing only by an empty doc: idf must differ."""
    import math

    from dropbox_duckdb_playground_spark.operators.text import bm25_topk

    base = [(1, "apple apple banana"), (2, "apple cherry")]
    with_empty = base + [(3, "   ")]
    score = {}
    for tag, rows in (("base", base), ("with_empty", with_empty)):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = bm25_topk(docs, n_query_terms=1, k=5).collect()
        assert all(r["doc_id"] != 3 for r in out)
        score[tag] = {(r["term"], r["doc_id"]): r["bm25"] for r in out}
    # same (term, doc) keys, different idf because n_docs went 2 -> 3
    assert set(score["base"]) == set(score["with_empty"])
    # apple: df=2. idf(n=2)=ln(1+0.5/2.5), idf(n=3)=ln(1+1.5/2.5) — the
    # 4dp-rounded scores must reflect the larger corpus
    changed = [k for k in score["base"] if score["base"][k] != score["with_empty"][k]]
    assert changed, "adding an empty doc did not change any bm25 score"
    k0 = next(iter(score["base"]))
    assert not math.isnan(score["base"][k0])


def test_jaccard_pre_hashed_matches_raw(spark):
    # the digest-sharing entry point (q120) must produce the exact same
    # pairs as the raw-shingle path
    df = _docs(
        spark,
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g x"),
            (3, "p q r s t u v w"),
        ],
    )
    sh = D.shingles(df, n=3, with_size=True)
    raw = {
        (r.a_id, r.b_id, r.jaccard)
        for r in D.ngram_jaccard_pairs(sh, threshold=0.2).collect()
    }
    hashed = sh.select(
        "doc_id", D._hex60(F.col("shingle")).alias("sh"), "sz"
    )
    pre = {
        (r.a_id, r.b_id, r.jaccard)
        for r in D.ngram_jaccard_pairs(
            hashed, threshold=0.2, pre_hashed=True
        ).collect()
    }
    assert raw == pre and len(raw) == 1  # only (1,2) overlap enough


def test_jaccard_doc_freq_col_shortcut_matches_internal_window(spark):
    """q120's shared-frequency path (caller-computed doc_freq_col on a
    pre-hashed digest table) must produce exactly the pairs the
    internal cap window produces for the same cap."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = _docs(
        spark,
        [
            (1, "a b c d e f"),
            (2, "a b c d e g"),
            (3, "a b c x y z"),
            (4, "p q r s t u"),
            (5, "p q r s t v"),
        ],
    )
    sh = D.shingles(df, n=3)
    internal = {
        (r.a_id, r.b_id, r.jaccard)
        for r in D.ngram_jaccard_pairs(
            sh, threshold=0.0, max_shingle_freq=2
        ).collect()
    }
    hashed = sh.select("doc_id", D._hex60(F.col("shingle")).alias("sh"))
    wdf = hashed.withColumn(
        "df", F.count("*").over(Window.partitionBy("sh"))
    )
    shortcut = {
        (r.a_id, r.b_id, r.jaccard)
        for r in D.ngram_jaccard_pairs(
            wdf,
            threshold=0.0,
            pre_hashed=True,
            doc_freq_col="df",
            max_shingle_freq=2,
        ).collect()
    }
    assert internal == shortcut and internal
