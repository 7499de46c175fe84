"""ER blocking (E4): per-field predicate index → (block_key, node_id).

The reference uses the dedupe library's fingerprinter
(mapper/messy.py:151-206) — a set of predicate functions per field whose
outputs become block keys. Here predicates are Column expressions; the
block table is their exploded union. Key space design is the scale lever:
a predicate that maps many records to one key creates a quadratic bucket
(SURVEY E4); blocks over ``MAX_BLOCK_SIZE`` records are dropped before
pairing.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# default predicates over a string feature column — mirrors common dedupe
# predicates (whole field, first token, prefix-4, token set elements)
def whole_field(c: Column) -> Column:
    return c


def first_token(c: Column) -> Column:
    return F.substring_index(c, " ", 1)


def prefix4(c: Column) -> Column:
    return F.substring(c, 1, 4)


DEFAULT_PREDICATES: Sequence[Callable[[Column], Column]] = (
    whole_field,
    first_token,
    prefix4,
)

#: largest block kept for pairing
MAX_BLOCK_SIZE = 1000


def block_table(features: DataFrame, fields: Sequence[str]) -> DataFrame:
    """Build the (block_key, node_id) table.

    block_key is namespaced ``"{field}:{pred_idx}:{value}"`` so different
    predicates never collide. Blocks over ``MAX_BLOCK_SIZE`` records
    (hot keys) are dropped — the skew guard for web-scale runs."""
    keys = []
    for field in fields:
        for pi, pred in enumerate(DEFAULT_PREDICATES):
            keys.append(
                F.when(
                    F.col(field).isNotNull() & (F.col(field) != ""),
                    F.concat_ws(":", F.lit(field), F.lit(pi), pred(F.col(field))),
                )
            )
    out = (
        features.select("node_id", F.explode(F.array(*keys)).alias("block_key"))
        .filter(F.col("block_key").isNotNull())
        .distinct()
    )
    sizes = out.groupBy("block_key").count().filter(F.col("count") <= MAX_BLOCK_SIZE)
    return out.join(sizes.select("block_key"), "block_key", "left_semi")


def candidate_pairs(blocks: DataFrame, features: DataFrame) -> DataFrame:
    """E5/J6/J7: distinct candidate pairs from the block self-join, with
    both sides' features attached as ``a_*`` / ``b_*`` columns
    (reference: mapper/messy.py:226-250). The (record-count-sized)
    block table is MATERIALIZED before the self-join: runtime final
    plans show identical sides do NOT share an exchange (join-pushed
    predicates specialize each side — the r8 finding on
    bm25/simhash/minhash), so without the barrier the block-key
    pipeline executed once per side. SMJ (not broadcast, which would
    also recompute both sides; not shuffle-hash) spills rather than
    OOMs if a block slips past the upstream size cap."""
    from dropbox_duckdb_playground_spark.materialize import materialize

    blocks = materialize(blocks)
    l, r = blocks.alias("l"), blocks.hint("merge").alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.block_key") == F.col("r.block_key"))
            & (F.col("l.node_id") < F.col("r.node_id")),
        )
        .select(F.col("l.node_id").alias("a_id"), F.col("r.node_id").alias("b_id"))
        .distinct()
    )
    fa = features.select(
        F.col("node_id").alias("a_id"),
        *[F.col(c).alias(f"a_{c}") for c in features.columns if c != "node_id"],
    )
    fb = features.select(
        F.col("node_id").alias("b_id"),
        *[F.col(c).alias(f"b_{c}") for c in features.columns if c != "node_id"],
    )
    return pairs.join(fa, "a_id").join(fb, "b_id")
