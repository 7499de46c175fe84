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
