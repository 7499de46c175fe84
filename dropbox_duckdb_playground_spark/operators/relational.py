"""Relational operator builders — SURVEY §2.2-§2.7 as DataFrame helpers.

These are the reference's SQL/pandas idioms re-expressed as composable
Spark builders. All stay fully declarative (Catalyst optimizes across
them): no collect, no Python row loops.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the cluster before a compute-heavy
    stage (explode, per-row hashing, array aggregation).

    Needed when the upstream scan cannot split — e.g. a single parquet
    row group (exactly the shape of small dimension exports): every
    downstream stage would otherwise run on ONE task no matter how many
    executors exist. The round-robin shuffle to the default parallelism
    is priced at the input size
    (tiny by definition here); at 100 TB fact scale scans split on row
    groups and this becomes a no-op decision for the caller.

    CALL ONLY ON SCANS / NARROW PLANS (or materialized frames): the
    partition probe below goes through ``df.rdd``, and under AQE that
    EXECUTES every shuffle stage of the plan as a hidden job before any
    action runs — on an expensive shuffled pipeline the work then runs
    twice. For shuffle outputs a fan-out is pointless anyway (the
    exchange already distributed the data); ``materialize`` first if
    you genuinely need to re-spread a computed intermediate."""
    partitions = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= partitions:
        return df
    return df.repartition(partitions)


def stable_id(*cols: Column | str, salt: str | None = None) -> Column:
    """Stable 64-bit id from natural keys.

    Reference uses DuckDB ``HASH(CONCAT(a, '|', b))`` (examples/meta.py:61,83);
    values are engine-internal join keys, so we standardize on xxhash64
    (SURVEY §8.1). ``salt`` replicates the reference's salted cluster ids
    (mapper/messy.py:445-448)."""
    parts = [F.lit(salt)] if salt is not None else []
    parts += [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.xxhash64(*parts)


def distinct_on(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column | str] | None = None,
) -> DataFrame:
    """DuckDB ``DISTINCT ON (keys)`` with deterministic semantics.

    DuckDB keeps an arbitrary row per key (examples/meta.py:60 etc.);
    for reproducibility we keep the FIRST row under ``order_by`` (default:
    all non-key columns ascending — a total order; SURVEY §8.2).

    Scale: one shuffle on ``keys``; the window is rank-1-only so AQE's
    partial `WindowGroupLimit` pushdown (Spark ≥3.5) prunes per-partition
    before the shuffle."""
    if order_by is None:
        order_by = [c for c in df.columns if c not in keys]
    if not order_by:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def argmax_per_group(
    df: DataFrame,
    keys: list[str],
    score: str,
    tiebreak: list[Column | str] | None = None,
) -> DataFrame:
    """Best-scored row per group — the reference's
    ``sort_values(score, ascending=False).drop_duplicates(keys)`` idiom
    (mapper/canon.py:161-164,198-201; mapper/messy.py:333-334)."""
    order = [F.desc(score)] + [
        F.col(c) if isinstance(c, str) else c
        for c in (tiebreak or [k for k in df.columns if k not in keys and k != score])
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def anti_diff(new: DataFrame, cached: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of ``new`` whose key is absent from ``cached`` — the reference's
    Python set-difference for incremental crawling (examples/canon/main.py:63-69).

    Scale: a left_anti join; broadcast the cached key set when small."""
    cached_keys = cached.select(*keys).dropDuplicates(keys)
    return new.join(cached_keys, on=keys, how="left_anti")


def keep_first_merge(batches: list[DataFrame], keys: list[str]) -> DataFrame:
    """Union batches then keep the first row per key, earlier batches
    winning — the reference's updated ∪ new ∪ cached etag merge with
    keep='first' (examples/canon/crawl.py:137-153). Ties inside one
    batch go to the smallest non-key columns, as in ``distinct_on``, so
    the survivor does not depend on row order (a retried task may
    deliver a batch's rows in another order)."""
    tagged = [b.withColumn("__batch__", F.lit(i)) for i, b in enumerate(batches)]
    merged = reduce(DataFrame.unionByName, tagged)
    order = ["__batch__", *(c for c in batches[0].columns if c not in keys)]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        merged.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__", "__batch__")
    )


def multi_left_join(
    base: DataFrame, others: list[DataFrame], on: list[str]
) -> DataFrame:
    """Chained multi-way LEFT equi-join over shared key(s) — the grouping
    SQL shape (examples/graph/group/meta.py:9-24 one key, 40-55 two keys).

    Scale: all joins share one hash-partitioning on ``on``, which
    Catalyst reuses across the chain (single shuffle of each input, no
    re-shuffle between joins); small sides broadcast under AQE."""
    out = base
    for other in others:
        out = out.join(other, on=on, how="left")
    return out


#: sub-keys per join key in ``salted_join``
SALT = 16


def salted_join(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    """Inner equi-join with explicit key salting for heavy skew on ``left``.

    The hot key's rows are spread over ``SALT`` sub-keys (deterministic:
    hash of the full left row), and ``right`` is replicated ``SALT``×
    so every sub-key still finds its match — trading a bounded blow-up
    of the small side for even task sizes on the big side.

    AQE's skew-join handles most cases at runtime (enabled in
    session.py); reach for this when AQE can't re-plan — skewed
    aggregation feeding a join, stream-static joins, or a key so hot one
    split still exceeds a task."""
    lk = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(SALT)),
    )
    rk = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(SALT - 1)))
    ).withColumn("__salt", F.col("__salt").cast("bigint"))
    return lk.join(rk, on=[*on, "__salt"]).drop("__salt")


def union_all(dfs: list[DataFrame]) -> DataFrame:
    """U2/U3: UNION ALL by name (reference: resolution/main.py:231-244,
    parallize.py:265-270 — also the Python-side pd/vx/pa concat merge)."""
    return reduce(DataFrame.unionByName, dfs)


def union_distinct(dfs: list[DataFrame]) -> DataFrame:
    """U1: UNION with dedup (reference: examples/graph/group/meta.py:27-37).
    A3 full-row ``SELECT DISTINCT`` is the single-frame case
    (mapper/messy.py:234): ``union_distinct([df])`` ≡ ``df.distinct()``."""
    return union_all(dfs).distinct()


def profile_columns(
    df: DataFrame, cols: list[str], exact_ndv: bool = True
) -> DataFrame:
    """One-pass column profile in long format: (col, n_rows, n_nulls,
    ndv, min_s, max_s) per requested column — the ANALYZE-style stats
    a planner (or a data-quality gate) wants before a big job.

    ``exact_ndv=True`` computes exact distinct counts WITHOUT Spark's
    multi-distinct Expand plan (which multiplies shuffled rows by the
    number of profiled columns): each column goes through its own
    two-stage groupBy(col) aggregation, so only distinct values (after
    map-side combine) ever shuffle, and min/max/null counts ride the
    same pass over the combined keys. ``exact_ndv=False`` is the 100 TB
    default — one pass with a constant-size HyperLogLog sketch per
    column.
    """
    from functools import reduce

    if exact_ndv:
        parts = []
        for c in cols:
            keyed = df.groupBy(F.col(c).alias("__k")).agg(
                F.count("*").alias("__c")
            )
            parts.append(
                keyed.agg(
                    F.sum("__c").cast("long").alias("n_rows"),
                    F.coalesce(
                        F.sum(F.when(F.col("__k").isNull(), F.col("__c"))),
                        F.lit(0),
                    ).cast("long").alias("n_nulls"),
                    F.count("__k").cast("long").alias("ndv"),
                    F.min(F.col("__k").cast("string")).alias("min_s"),
                    F.max(F.col("__k").cast("string")).alias("max_s"),
                ).select(
                    F.lit(c).alias("col"),
                    "n_rows",
                    "n_nulls",
                    "ndv",
                    "min_s",
                    "max_s",
                )
            )
        return reduce(lambda a, b: a.unionByName(b), parts)

    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nn_{c}"),
            F.approx_count_distinct(F.col(c)).alias(f"__ndv_{c}"),
            F.min(F.col(c).cast("string")).alias(f"__min_{c}"),
            F.max(F.col(c).cast("string")).alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("col"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col(f"__nn_{c}").cast("long").alias("n_nulls"),
            F.col(f"__ndv_{c}").cast("long").alias("ndv"),
            F.col(f"__min_{c}").alias("min_s"),
            F.col(f"__max_{c}").alias("max_s"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*per_col)).alias("p")).select("p.*")
