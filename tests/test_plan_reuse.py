"""Structural guards for the r8 false-ReusedExchange findings.

Every self-join in the dedup/similarity/ER families once claimed its
identical sides would share one exchange (ReusedExchange). Runtime
final adaptive plans showed ZERO reuse — join-pushed predicates
specialize each side — so the shared upstream pipeline executed once
per side. The fix is a materialize of the small shared table; these
tests pin it by asserting the FINAL adaptive plan contains no parquet
re-scans (the pipeline's scan happened once, inside the checkpoint
job, before the plan under test).

The assertion is on 'Scan parquet' counts rather than ReusedExchange
because a static explain of an AQE plan always shows zero reuse; only
the post-action final plan is truthful.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def _final_plan(df) -> str:
    """Final adaptive plan TREE (formatted mode repeats every node in
    the details section below the tree, which would double-count)."""
    df.write.format("noop").mode("overwrite").save()
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    full = df._jdf.queryExecution().explainString(mode)
    return full.split("\n\n")[0]


def _docs_parquet(spark, tmp_path):
    p = os.path.join(str(tmp_path), "documents.parquet")
    spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 5} tok{i % 3} alpha beta gamma delta")
         for i in range(40)],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(p)
    return spark.read.parquet(p)


def test_hamming_pairs_plan_reads_checkpoint_not_parquet(spark, tmp_path):
    from dropbox_duckdb_playground_spark.operators import dedup as D

    d = _docs_parquet(spark, tmp_path)
    plan = _final_plan(D.hamming_neardup_pairs(D.simhash(d)))
    assert plan.count("Scan parquet") == 0, plan


def test_lsh_pairs_plan_reads_checkpoint_not_parquet(spark, tmp_path):
    from dropbox_duckdb_playground_spark.operators import dedup as D

    d = _docs_parquet(spark, tmp_path)
    sig = D.minhash_signatures(D.shingles(d, n=2))
    plan = _final_plan(D.lsh_candidate_pairs(sig))
    assert plan.count("Scan parquet") == 0, plan
    plan = _final_plan(D.minhash_estimate_pairs(sig))
    assert plan.count("Scan parquet") == 0, plan


def test_cosine_neardup_plan_reads_checkpoint_not_parquet(spark, tmp_path):
    from dropbox_duckdb_playground_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    p = os.path.join(str(tmp_path), "embeddings.parquet")
    spark.createDataFrame(
        [(i, [float((i + j) % 5) for j in range(8)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    ).write.mode("overwrite").parquet(p)
    e = spark.read.parquet(p)
    plan = _final_plan(
        cosine_neardup_pairs(e, threshold=0.1, dim=8, planes=4)
    )
    assert plan.count("Scan parquet") == 0, plan


def test_blocking_pairs_plan_reads_checkpoint_not_parquet(spark, tmp_path):
    from dropbox_duckdb_playground_spark.er import blocking as B

    p = os.path.join(str(tmp_path), "feats.parquet")
    spark.createDataFrame(
        [(i, f"k{i % 4}") for i in range(20)], "node_id long, blk string"
    ).write.mode("overwrite").parquet(p)
    feats = spark.read.parquet(p)
    blocks = B.block_table(feats, ["blk"])
    plan = _final_plan(B.candidate_pairs(blocks, feats))
    # the features join is a genuine parquet touch per side (a_*/b_*
    # attachment); the BLOCK pipeline itself must not re-scan
    assert plan.count("Scan parquet") <= 2, plan


def test_q89_window_exchange_keys_on_digest(spark):
    """r9: the chunk-dedup first-occurrence window must shuffle the
    16-byte md5 digest, never the raw 20-token chunk string (the 100 TB
    exchange shape; git show eccd0ba:tools/decompose_q89.py for the
    measurements)."""
    import re

    import __spark_entry__ as entrymod

    df = entrymod.queries()["q89_chunk_dedup"](spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    full = df._jdf.queryExecution().explainString(mode)
    assert re.search(r"hashpartitioning\(chunk_key#\d+", full), full[:2000]
    assert "hashpartitioning(chunk_text" not in full, (
        "raw chunk string reached an exchange"
    )


def test_q80_window_exchange_keys_on_long_digest(spark):
    """r9: the boilerplate gram window must shuffle the xxhash64 long
    (#...L in the partitioning expr), not the gram string — the digest
    won 5/6 paired sf1 runs and sheds ~20B/row of a corpus-sized
    exchange (git show eccd0ba:tools/decompose_q80.py)."""
    import re

    import __spark_entry__ as entrymod

    df = entrymod.queries()["q80_boilerplate"](spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    full = df._jdf.queryExecution().explainString(mode)
    assert re.search(r"hashpartitioning\(shingle#\d+L", full), (
        "gram exchange is not keyed on the long digest"
    )
