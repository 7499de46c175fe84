"""End-to-end entity-resolution dataflow (SURVEY §2.10).

Mirrors the reference pipeline `CanonMatcher → MessyMatcher →
MappingCombiner → IDConvertor` (examples/graph/resolution/main.py:17-91)
with the self-contained expression scorer:

1. canon matching (E2): messy records vs a canonical table — block
   join for candidates, score, threshold (``CANON_THRESHOLD``), argmax
   per messy_id → mapper (messy_id → canon_id).
2. messy dedup (E4-E7): unmatched messy records blocked against each
   other, scored, threshold (``MESSY_THRESHOLD``), connected components
   → cluster mapper.
3. combine (E8) and convert (E9).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark.er.blocking import block_table, candidate_pairs
from dropbox_duckdb_playground_spark.er.clustering import cluster_pairs, combine_mappings
from dropbox_duckdb_playground_spark.er.features import engineer_features
from dropbox_duckdb_playground_spark.er.scoring import expression_scorer, select_matches
from dropbox_duckdb_playground_spark.materialize import materialize
from dropbox_duckdb_playground_spark.operators.relational import argmax_per_group

#: scores a pair must exceed to match a canon record / another messy record
CANON_THRESHOLD = 0.25
MESSY_THRESHOLD = 0.5


def match_to_canon(
    messy_features: DataFrame, canon_features: DataFrame, fields: Sequence[str]
) -> DataFrame:
    """E2 `CanonMatcher.Pairer` (Gazetteer-style): candidates via shared
    block keys across the two tables, argmax match per messy_id above
    ``CANON_THRESHOLD``. Output: (messy_id, canon_id, score)."""
    mb = block_table(messy_features, fields)
    cb = block_table(canon_features, fields)
    pairs = (
        mb.alias("m")
        .join(cb.alias("c"), "block_key")
        .select(
            F.col("m.node_id").alias("a_id"), F.col("c.node_id").alias("b_id")
        )
        .distinct()
    )
    fa = messy_features.select(
        F.col("node_id").alias("a_id"),
        *[F.col(c).alias(f"a_{c}") for c in messy_features.columns if c != "node_id"],
    )
    fb = canon_features.select(
        F.col("node_id").alias("b_id"),
        *[F.col(c).alias(f"b_{c}") for c in canon_features.columns if c != "node_id"],
    )
    scored = expression_scorer(fields)(pairs.join(fa, "a_id").join(fb, "b_id"))
    best = argmax_per_group(
        scored.filter(F.col("score") > CANON_THRESHOLD).select("a_id", "b_id", "score"),
        keys=["a_id"],
        score="score",
        tiebreak=["b_id"],
    )
    return best.select(
        F.col("a_id").alias("messy_id"), F.col("b_id").alias("canon_id"), "score"
    )


def dedup_messy(messy_features: DataFrame, fields: Sequence[str]) -> DataFrame:
    """E4-E7: block → pair → score → ``MESSY_THRESHOLD`` → weak
    components. Output: (messy_id, cluster_id)."""
    blocks = block_table(messy_features, fields)
    pairs = candidate_pairs(blocks, messy_features)
    matches = select_matches(expression_scorer(fields)(pairs), threshold=MESSY_THRESHOLD)
    return cluster_pairs(matches)


def resolve_entities(messy: DataFrame, canon: DataFrame | None) -> DataFrame:
    """Full resolution of (node_id, name) records over every engineered
    feature: returns the combined mapper (messy_id, new_id) where new_id
    is the canon match when present, else the dedup cluster id, else
    absent (identity handled by `convert_ids`' COALESCE). The mapper is
    computed here, once, and returned materialized."""
    mf = engineer_features(messy)
    fields = [c for c in mf.columns if c != "node_id"]
    mappers: list[DataFrame] = []
    unmatched = mf
    if canon is not None:
        cf = engineer_features(canon)
        canon_map = match_to_canon(mf, cf, fields)
        mappers.append(
            canon_map.select("messy_id", F.col("canon_id").alias("new_id"))
        )
        unmatched = mf.join(canon_map.select("messy_id"),
                            mf.node_id == F.col("messy_id"), "left_anti")
    cluster_map = dedup_messy(unmatched, fields)
    mappers.append(cluster_map.select("messy_id", F.col("cluster_id").alias("new_id")))
    # every id conversion reads it
    return materialize(combine_mappings(mappers))
