"""Partitioned map/merge — the reference's homemade MapReduce, Spark-native.

The reference decorates an ``ObjProcessor`` with ``MapReduce(etl, N)``
(reference: batch_framework/parallize.py:17-101): it attaches a
``row_number() % N`` partition key via SQL (M2, parallize.py:104-142),
splits the table into N physical tables (M3, parallize.py:145-179),
runs N cloned processors on threads (M1), and concatenates the outputs
(M4/M5, parallize.py:201-270). All of that machinery exists because
DuckDB + pandas are single-table, single-process.

On Spark the whole apparatus collapses into ``repartition(N)`` +
``mapInPandas`` — partitioning, task scheduling, and the merge are the
engine's job (SURVEY §2.8). This module keeps the *API shape* (a
partition count + a per-chunk pandas transform) so workloads written
against the reference's model port directly, while the execution is a
single distributed stage:

- M1 ``MapReduce``        → :func:`map_partitioned`
- M2 ``AddPartitionKey``  → no key column: ``repartition(N)`` assigns
  rows itself (a global row_number — SURVEY §8.3: a partition-free window
  forces every row through ONE task, which is exactly what kills scale)
- M3 ``EfficientDivide``  → the repartition inside :func:`map_partitioned`
- M4/M5 merge operators   → implicit (one DataFrame out); explicit
  multi-frame merge is ``relational.union_all``
- M6 thread-pool cap      → Spark's scheduler (not reimplemented)

Correctness contract (the reference's own test, examples/test_parallel.py:
98-121): partitioned execution ≡ direct execution for any per-row pure
transform — asserted in tests/test_parallel.py with assert_frames_equal.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

if TYPE_CHECKING:  # pragma: no cover
    import pandas


def map_partitioned(
    df: DataFrame,
    fn: Callable[["pandas.DataFrame"], "pandas.DataFrame"],
    schema: StructType | str,
    n: int | None = None,
) -> DataFrame:
    """Run a whole-chunk pandas transform over N partitions (M1+M3+M4).

    ``fn`` sees an arbitrary horizontal slice (like one MapReduce mapper
    input) and returns its transformed chunk; results are one DataFrame
    — the merge is Spark's, not ours. Arrow-batched both ways.

    Scale: one round-robin shuffle to N tasks, then fully parallel; no
    driver involvement, no thread pools, no temp tables."""
    if n is None:
        n = df.sparkSession.sparkContext.defaultParallelism

    def run(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:
        for pdf in batches:
            if len(pdf):
                yield fn(pdf)

    return df.repartition(n).mapInPandas(run, schema)
