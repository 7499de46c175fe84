"""Incremental / cached recompute — the reference's "streaming" analog
(SURVEY §2.12), plus a Structured Streaming `availableNow` wrapper for
genuinely stream-shaped sources.

Reference mechanisms mapped:
- C1 run-level cache: after a run, ``copy(id, id+'_cache')`` for all
  boundary objects (batch_framework/etl.py:86-127) → `snapshot()`.
- C2 new-vs-cached diff: process only keys absent from the snapshot
  (examples/canon/main.py:47-69) → `new_keys()` (left_anti).
- C3 keep-first merge: updated ∪ new ∪ cached, dedup by key keeping the
  earliest batch (examples/canon/crawl.py:117-153) → `merge_batches()`.

Scale: snapshots are plain Parquet writes; the anti-join broadcasts the
cached key set when small.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from dropbox_duckdb_playground_spark.engine import Engine
from dropbox_duckdb_playground_spark.operators.relational import (
    anti_diff,
    keep_first_merge,
)


@dataclass
class IncrementalCache:
    """Snapshot-based incremental recompute over an Engine."""

    engine: Engine

    def cache_id(self, obj_id: str) -> str:
        return obj_id + "_cache"

    def exists(self, obj_id: str) -> bool:
        return self.cache_id(obj_id) in self.engine

    def snapshot(self, *obj_ids: str) -> None:
        """C1: persist current state of each id as its cache twin."""
        for obj_id in obj_ids:
            self.engine.copy(obj_id, self.cache_id(obj_id))

    def load(self, obj_id: str) -> DataFrame:
        return self.engine.table(self.cache_id(obj_id))

    def new_keys(self, obj_id: str, keys: list[str]) -> DataFrame:
        """C2: rows of the current table whose key is not in the snapshot
        (empty snapshot => everything is new)."""
        cur = self.engine.table(obj_id)
        if not self.exists(obj_id):
            return cur
        return anti_diff(cur, self.load(obj_id), keys)

    def merge_batches(
        self, batches: list[DataFrame], keys: list[str]
    ) -> DataFrame:
        """C3: earlier batches win per key (updated ∪ new ∪ cached)."""
        return keep_first_merge(batches, keys)


def incremental_file_stream(
    spark,
    path: str,
    schema,
    process_batch,
    checkpoint_dir: str,
):
    """Structured-Streaming wrapper for crawl-shaped sources: consume all
    currently-available files once (`availableNow`), hand each micro-batch
    to ``process_batch(df, epoch_id)``, exactly-once via checkpoint.

    This is the idiomatic Spark replacement for the reference's
    etag-conditional re-crawl loop (SURVEY §2.12 note)."""
    reader = spark.readStream.schema(schema).parquet(path)
    return (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# -- C5 (beyond the reference): incremental aggregate maintenance ----------

#: aggregate name -> (state columns from raw rows, merge of state rows,
#: finalize). Algebraic aggregates only — their partial states merge
#: without revisiting history.
_ALGEBRAIC = ("sum", "count", "min", "max", "avg")


def incremental_agg_state(
    df: DataFrame, keys: list[str], value: str, fns: list[str]
) -> DataFrame:
    """Partial-aggregate state of ``df``: per ``keys``, one row holding
    the mergeable state for each requested aggregate of ``value``
    (sum/count/min/max; avg rides on sum+count)."""
    from pyspark.sql import functions as F

    bad = [f for f in fns if f not in _ALGEBRAIC]
    if bad:
        raise ValueError(
            f"non-algebraic aggregates {bad}; incremental maintenance "
            "needs mergeable state (holistic aggs like median need a "
            "full recompute or a sketch)"
        )
    aggs = [
        F.sum(value).alias("__s_sum"),
        F.count(value).alias("__s_cnt"),
        F.min(value).alias("__s_min"),
        F.max(value).alias("__s_max"),
    ]
    return df.groupBy(*keys).agg(*aggs)


def merge_agg_states(states: list[DataFrame], keys: list[str]) -> DataFrame:
    """Merge partial-aggregate states (outputs of
    :func:`incremental_agg_state`) — one aggregation over the unioned
    state rows, never over raw history. At 100 TB the state table is
    keys-cardinality-sized; the new batch is the only raw data read."""
    from functools import reduce

    from pyspark.sql import functions as F

    u = reduce(lambda a, b: a.unionByName(b), states)
    return u.groupBy(*keys).agg(
        F.sum("__s_sum").alias("__s_sum"),
        F.sum("__s_cnt").alias("__s_cnt"),
        F.min("__s_min").alias("__s_min"),
        F.max("__s_max").alias("__s_max"),
    )


def finalize_agg(state: DataFrame, keys: list[str], fns: list[str]) -> DataFrame:
    """Render final aggregate values from a state table."""
    from pyspark.sql import functions as F

    out = {
        "sum": F.col("__s_sum").alias("sum"),
        "count": F.col("__s_cnt").alias("count"),
        "min": F.col("__s_min").alias("min"),
        "max": F.col("__s_max").alias("max"),
        "avg": (F.col("__s_sum") / F.col("__s_cnt")).alias("avg"),
    }
    return state.select(*keys, *[out[f] for f in fns])
