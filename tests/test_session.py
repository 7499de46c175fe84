"""Session defaults that change how a query behaves, not just its speed."""

from __future__ import annotations


def test_transient_task_failure_is_retried(spark):
    """The default master gives each task 4 attempts, as a cluster's
    ``spark.task.maxFailures`` does: a Python task that fails only on its
    first attempt must not fail the query (plain ``local[N]`` allows one
    attempt, so the same query raised PythonException there)."""
    from pyspark.sql import functions as F

    def flaky(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if ctx.partitionId() == 1 and ctx.attemptNumber() == 0:
            raise RuntimeError("injected transient task failure")
        yield from batches

    df = spark.range(0, 1000, numPartitions=4).mapInPandas(flaky, "id long")
    got = df.agg(F.count("*").alias("n"), F.sum("id").alias("s")).first()
    assert (got["n"], got["s"]) == (1000, sum(range(1000)))


def test_catalog_warehouse_stays_out_of_the_working_directory(spark):
    """Spark creates its warehouse dir on first catalog use, by default
    as ./spark-warehouse; on a local master it sits under
    ``scratch_root()`` (the first SPARK_LOCAL_DIRS entry) instead."""
    import os

    from dropbox_duckdb_playground_spark.session import scratch_root

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert warehouse == os.path.join(scratch_root(), "spark-warehouse")
