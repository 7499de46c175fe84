"""ER pairwise scoring (E6): a Column-expression scorer over candidate pairs.

The reference scores 100-row batches with a pickled dedupe model on 8
processes (mapper/messy.py:285-413). Here `expression_scorer` computes
string-similarity features + logistic weights entirely in Column
expressions — JVM-side, codegen, no Python. This is the self-contained
scorer SURVEY §8.5(b) calls for; the learner (E10) supplies its weights.

After scoring: threshold filter + per-left-id argmax (A4) mirror
mapper/messy.py:338-345 / mapper/canon.py:194-201.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def norm_levenshtein_sim(a: Column, b: Column) -> Column:
    """1 - levenshtein/maxlen, null-safe (null/'' => 0 similarity)."""
    sim = 1.0 - F.levenshtein(a, b) / F.greatest(
        F.greatest(F.length(a), F.length(b)), F.lit(1)
    )
    return F.when(a.isNull() | b.isNull(), 0.0).otherwise(sim)


def expression_scorer(
    fields: Sequence[str],
    weights: Sequence[float] | None = None,
    bias: float = -2.0,
) -> Callable[[DataFrame], DataFrame]:
    """Logistic score over per-field levenshtein similarity of a_/b_ pairs.
    Deterministic fixed weights (default 4/len per field) — pluggable."""
    if weights is None:
        weights = [4.0 / len(fields)] * len(fields)

    def score(pairs: DataFrame) -> DataFrame:
        z: Column = F.lit(bias)
        for field, w in zip(fields, weights):
            z = z + F.lit(w) * norm_levenshtein_sim(
                F.col(f"a_{field}"), F.col(f"b_{field}")
            )
        return pairs.withColumn("score", F.round(1.0 / (1.0 + F.exp(-z)), 6))

    return score


def select_matches(scored: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Threshold + keep pairs (E6 tail: mapper/messy.py:338-345):
    (from, to, score) above threshold, deduped by argmax per pair."""
    from dropbox_duckdb_playground_spark.operators.relational import (
        argmax_per_group,
    )

    pairs = scored.select(
        F.col("a_id").alias("from_id"), F.col("b_id").alias("to_id"), "score"
    ).filter(F.col("score") > threshold)
    return argmax_per_group(pairs, ["from_id", "to_id"], "score")
