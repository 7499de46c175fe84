"""Time-series operators: as-of join, range (interval) join, and
multi-resolution time rollup.

The reference has no time-series surface; these are the operators a
training-data/feature pipeline needs over event streams, implemented in
the shapes that survive 100 TB:

- :func:`asof_join` — the classic "latest right row at or before each
  left row" join. NOT implemented as an inequality join (which Spark
  would execute as a broadcast-nested-loop / cartesian): both streams
  are unioned with a tag and resolved with one ``last(..., ignorenulls)``
  running window per key — a single shuffle on the key, sort within
  partitions, zero row multiplication.
- :func:`range_join` — point-in-interval equi-reduction: intervals are
  exploded onto fixed time bands and joined band-to-band, so each
  candidate pair is generated exactly once and the planner runs a plain
  hash join; band width trades explode factor vs selectivity.
- :func:`time_rollup` — hypertable-style continuous aggregate at
  several resolutions in ONE aggregation over grouping sets (map-side
  partial aggs expand per-resolution; still one exchange).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    ts: str,
    payload: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """For each left row, attach ``payload`` columns of the latest right
    row with the same ``by`` keys and ``right.ts <= left.ts`` (backward
    ASOF semantics).

    Union-tag formulation: right rows sort before left rows at equal
    ``ts`` (inclusive match, like DuckDB/kdb ASOF semantics); among
    right ties on ``ts``, the greatest ``tiebreak`` wins
    (deterministic).

    Output: all left columns + ``<ts>_asof`` (matched right ts) +
    ``<payload>_asof`` columns. One shuffle on ``by``; scales like a
    groupBy on the same key, with AQE handling key skew.
    """
    lcols = left.columns
    tag = F.lit(1)
    l_tagged = left.select(
        *lcols,
        tag.alias("__tag"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__p_{c}") for c in payload],
        F.lit(None).cast(right.schema[ts].dataType).alias("__rts"),
        (F.lit(None).cast(right.schema[tiebreak].dataType) if tiebreak else F.lit(0)).alias("__tb"),
    )
    r_tagged = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) if c not in by + [ts] else F.col(c) for c in lcols],
        F.lit(0).alias("__tag"),
        *[F.col(c).alias(f"__p_{c}") for c in payload],
        F.col(ts).alias("__rts"),
        (F.col(tiebreak) if tiebreak else F.lit(0)).alias("__tb"),
    )
    u = l_tagged.unionByName(r_tagged)
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col(ts).asc(), F.col("__tag").asc(), F.col("__tb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return u.select(
        *lcols,
        "__tag",
        F.last("__rts", ignorenulls=True).over(w).alias(f"{ts}_asof"),
        *[
            F.last(f"__p_{c}", ignorenulls=True).over(w).alias(f"{c}_asof")
            for c in payload
        ],
    ).filter(F.col("__tag") == 1).drop("__tag")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    by: list[str],
    point_ts: str,
    start: str,
    end: str,
    band: str = "1 hour",
) -> DataFrame:
    """All (point, interval) pairs with equal ``by`` keys and
    ``start <= point_ts <= end``, without a nested-loop join.

    Each interval is exploded onto the fixed ``band`` grid it overlaps;
    each point maps to exactly one band. The join is then a plain hash
    equi-join on (by, band) + a residual BETWEEN filter, and every
    qualifying pair appears exactly once (the point's single band is in
    the interval's band list exactly once). Band width should be on the
    order of typical interval length: wider bands = fewer exploded rows
    but a less selective residual filter.

    Returns points columns + interval columns (duplicate ``by`` columns
    kept once).
    """
    sec = _interval_seconds(intervals, band)
    p = points.withColumn(
        "__band",
        F.floor(F.unix_timestamp(F.col(point_ts)) / F.lit(sec)),
    )
    i = intervals.withColumn(
        "__bands",
        F.sequence(
            F.floor(F.unix_timestamp(F.col(start)) / F.lit(sec)),
            F.floor(F.unix_timestamp(F.col(end)) / F.lit(sec)),
        ),
    ).withColumn("__band", F.explode("__bands")).drop("__bands")
    joined = p.join(i, on=by + ["__band"]).filter(
        (F.col(point_ts) >= F.col(start)) & (F.col(point_ts) <= F.col(end))
    )
    return joined.drop("__band")


def _interval_seconds(df: DataFrame, interval: str) -> int:
    """Seconds in an INTERVAL literal, resolved through Catalyst so any
    day-time interval syntax works."""
    row = (
        df.sparkSession.range(1)
        .select(
            (
                F.unix_timestamp(
                    F.expr(f"timestamp'2000-01-01 00:00:00' + INTERVAL {interval}")
                )
                - F.unix_timestamp(F.expr("timestamp'2000-01-01 00:00:00'"))
            ).alias("s")
        )
        .head()
    )
    return int(row["s"])


def time_rollup(
    df: DataFrame,
    ts: str,
    aggs: list[Column],
    resolutions: list[str] = ("hour", "day"),
    keys: list[str] | None = None,
) -> DataFrame:
    """Hypertable-style continuous aggregate: the same measures at
    several time resolutions in ONE aggregation.

    Emits one row set per resolution via grouping sets over
    ``date_trunc`` bucket columns — a single exchange whose map-side
    partial aggregates already collapse to (resolution, bucket[, keys])
    granularity. Output columns: ``resolution`` ('hour'/'day'/...),
    ``bucket`` (the truncated timestamp), the ``keys``, then ``aggs``.
    """
    keys = keys or []
    buckets = {r: F.date_trunc(r, F.col(ts)).alias(f"__b_{r}") for r in resolutions}
    base = df.select(*keys, *buckets.values(), *[c for c in df.columns if c not in keys])
    sets = [[f"__b_{r}", *keys] for r in resolutions]
    grouped = base.groupingSets(sets, *[F.col(f"__b_{r}") for r in resolutions], *keys)
    out = grouped.agg(*aggs)
    res_col = F.coalesce(
        *[
            F.when(F.col(f"__b_{r}").isNotNull(), F.lit(r))
            for r in resolutions
        ]
    ).alias("resolution")
    bucket_col = F.coalesce(*[F.col(f"__b_{r}") for r in resolutions]).alias("bucket")
    return out.select(res_col, bucket_col, *keys, *[c for c in out.columns if c.startswith("__b_") is False and c not in keys])


def scd2_history(
    df: DataFrame,
    keys: list[str],
    ts: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type-2 history from change records:
    each row becomes a validity interval ``[valid_from, valid_to)``
    where ``valid_to`` is the next change's timestamp for the same key
    (NULL = current row). One window pass per key — the shuffle is on
    ``keys`` only, and the sort is within key partitions, never global.
    ``tiebreak`` orders simultaneous changes deterministically.
    """
    order = [F.col(ts)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("valid_from", F.col(ts)).withColumn(
        "valid_to", F.lead(ts).over(w)
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, keys: list[str]
) -> DataFrame:
    """Change-data-capture diff of two full snapshots: classify every
    key as I (insert: only in new), D (delete: only in old), or U
    (update: in both with any non-key column changed). Unchanged rows
    are dropped. Output: new-side columns (old-side for deletes) plus
    ``op``.

    Scale: one full outer join on ``keys``; change detection hashes the
    non-key columns on each side (md5 of concat) so wide rows compare
    as one value and the join carries two digests, not 2x row width.
    """
    val_cols = [c for c in new.columns if c not in keys]
    if [c for c in old.columns if c not in keys] != val_cols:
        raise ValueError("snapshot schemas differ")

    def digest(df: DataFrame) -> Column:
        return F.md5(
            F.concat_ws(
                "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                          for c in val_cols]
            )
        )

    o = old.select(*keys, *val_cols, digest(old).alias("__h")).alias("o")
    n = new.select(*keys, *val_cols, digest(new).alias("__h")).alias("n")
    j = o.join(n, on=keys, how="full_outer")
    op = (
        F.when(F.col("o.__h").isNull(), F.lit("I"))
        .when(F.col("n.__h").isNull(), F.lit("D"))
        .when(F.col("o.__h") != F.col("n.__h"), F.lit("U"))
    )
    picked = [
        F.coalesce(F.col(f"n.{c}"), F.col(f"o.{c}")).alias(c)
        for c in val_cols
    ]
    return (
        j.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(*keys, *picked, "op")
    )
