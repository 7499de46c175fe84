"""End-to-end example: an LLM training-data curation pipeline.

The operator families this engine adds BEYOND the reference — dedup,
decontamination, quality gating, temperature mixing, chunking — composed
the way a real pretraining-data pipeline composes them:

    raw corpus
      -> exact dedup            (content-digest groups, keep min id)
      -> fuzzy dedup            (MinHash/LSH candidate pairs -> connected
                                 components -> min-id survivor per cluster)
      -> benchmark decontamination (3-gram overlap vs a held-out eval set,
                                 broadcast — eval sets are tiny vs corpora)
      -> quality gate           (Gopher/C4-style feature blend)
      -> temperature mixture    (per-source rate ∝ 1/sqrt(n), deterministic
                                 ppm hash so the subset is reproducible)
      -> context-window chunks  (fixed-token windows with overlap)

Run it directly:

    python examples/training_data_pipeline.py [testdata_dir]

With no argument it uses a small built-in corpus, so it is fully
self-contained; pass e.g. /root/testdata/sf0.01 to run the same pipeline
over the benchmark tables. Every stage prints surviving counts — the
shrinking funnel IS the product of a curation pipeline. All of these
stages exist as oracle-checked catalog queries too (q24, q25/q47, q48,
q21/q100, q104, q66); this file shows how a user composes the operators
directly.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark.operators import dedup as D
from dropbox_duckdb_playground_spark.operators import text as TX
from dropbox_duckdb_playground_spark.session import get_spark

BUILTIN_DOCS = [
    # (doc_id, source, text) — includes an exact dup (2), a near dup (4),
    # a benchmark-contaminated doc (5), and a low-quality doc (6)
    (1, "web", "the quick brown fox jumps over the lazy dog in the park"),
    (2, "web", "The quick  brown fox jumps over the lazy dog in the park"),
    (3, "books", "a stitch in time saves nine and a penny saved is a penny earned"),
    (4, "web", "the quick brown fox jumps over the lazy dog in a park"),
    (5, "web", "what is the capital of france paris is the capital of france"),
    (6, "forum", "aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa"),
    (7, "books", "to be or not to be that is the question of the moment here"),
    (8, "news", "markets rallied today as the index closed higher on strong earnings"),
]

BENCH_DOCS = [
    (101, "what is the capital of france"),
]


def main(sf_dir: str | None) -> None:
    spark = get_spark("training-data-example")

    if sf_dir:
        from dropbox_duckdb_playground_spark.catalog import load

        docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
        bench = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
        docs = docs.filter(F.col("doc_id") % 50 != 0)
    else:
        docs = spark.createDataFrame(BUILTIN_DOCS, ["doc_id", "source", "text"])
        bench = spark.createDataFrame(BENCH_DOCS, ["doc_id", "text"])
    n0 = docs.count()
    print(f"corpus: {n0} documents")

    # 1. exact dedup: normalize-whitespace/case digest, keep min doc_id
    keep_exact = D.exact_dedup_groups(docs).select(
        F.col("keeper").alias("doc_id")
    )
    docs = docs.join(keep_exact, "doc_id", "semi")
    print(f"after exact dedup: {docs.count()}")

    # 2. fuzzy dedup: MinHash signatures -> LSH candidate pairs ->
    #    connected components -> min-id survivor per near-dup cluster.
    #    max_bucket_size caps boilerplate mega-buckets (the production
    #    guard — see SCALING.md on why the uncapped variant is only a
    #    measurement baseline).
    sh = D.shingles(docs, n=3)
    sig = D.minhash_signatures(sh)
    pairs = D.lsh_candidate_pairs(sig, max_bucket_size=100)
    survivors = D.neardup_survivors(docs, pairs).select("doc_id")
    docs = docs.join(survivors, "doc_id", "semi")
    print(f"after fuzzy dedup: {docs.count()}")

    # 3. decontamination: drop any training doc sharing >=30% of its
    #    3-gram shingles with the benchmark set (broadcast — eval sets
    #    are MBs against TBs of corpus; threshold is caller policy)
    contam = D.contamination_check(
        D.shingles(docs, n=3), D.shingles(bench, n=3)
    )
    clean = contam.filter(F.col("contamination") < 0.3).select("doc_id")
    docs = docs.join(clean, "doc_id", "semi")
    print(f"after decontamination: {docs.count()}")

    # 4. quality gate: Gopher-style blend; thresholds are caller policy
    q = TX.quality_score(docs)
    keepers = q.filter(
        (F.col("quality") >= 0.4) & (F.col("n_tokens").between(5, 100_000))
    ).select("doc_id")
    docs = docs.join(keepers, "doc_id", "semi")
    print(f"after quality gate: {docs.count()}")

    # 5. temperature mixture: rate ∝ 1/sqrt(n_source), selection by a
    #    deterministic ppm hash — re-running reproduces the exact subset
    counts = docs.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    rates = counts.select(
        "source",
        F.floor(F.least(F.lit(1.0), F.lit(2.0) / F.sqrt("n")) * 1_000_000)
        .cast("long").alias("rate_ppm"),
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("mix:"), F.col("source"), F.lit(":"),
                           F.col("doc_id").cast("string"))), 1, 15),
        16, 10,
    ).cast("bigint")
    docs = (
        docs.join(F.broadcast(rates), "source")
        .filter(h % 1_000_000 < F.col("rate_ppm"))
        .drop("rate_ppm")
    )
    print(f"after mixture sampling: {docs.count()}")

    # 6. fixed-token context windows (50 tokens, 10 overlap)
    chunks = TX.chunk_documents(docs, chunk_tokens=50, overlap=10)
    print(f"training chunks: {chunks.count()}")
    chunks.show(5, truncate=60)


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else None)
