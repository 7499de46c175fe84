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


def test_quiesce_leaves_no_shuffle_files_of_a_finished_query(spark):
    """A finished query's shuffle files leave the local dirs within 10 s
    of one ``quiesce``. Both ways of deleting them (the execution's own
    cleanup, ContextCleaner after a GC) are asynchronous, so poll."""
    import time

    import pandas as pd
    from pyspark.sql import functions as F

    from dropbox_duckdb_playground_spark.session import quiesce

    env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
    dirs = [d.getPath() for d in env.blockManager().diskBlockManager().localDirs()]

    def shuffle_files() -> set[str]:
        import glob
        import os

        return {f for d in dirs for f in glob.glob(os.path.join(d, "*", "shuffle_*"))}

    def seen(batches):
        # runs after the shuffle, so this query's map output is on disk
        for _ in batches:
            pass
        yield pd.DataFrame({"f": sorted(shuffle_files())})

    before = shuffle_files()
    df = spark.range(0, 1000, numPartitions=4).groupBy((F.col("id") % 7).alias("k")).count()
    new = {r["f"] for r in df.mapInPandas(seen, "f string").collect()} - before
    assert new, "the query wrote no shuffle file the test could see"
    del df
    quiesce(spark)
    deadline = time.monotonic() + 10
    while new & shuffle_files() and time.monotonic() < deadline:
        time.sleep(0.2)
    assert not new & shuffle_files()


def test_quiesce_frees_a_dropped_frames_jvm_binding(spark):
    """Once the first ``quiesce`` has frozen the startup heap, a later one
    still collects each query's py4j reference cycles
    (``JavaObject._methods`` -> ``JavaMember.container``), which would
    otherwise keep the JVM plan alive."""
    import weakref

    from pyspark.sql import functions as F

    from dropbox_duckdb_playground_spark.session import quiesce

    quiesce(spark)
    quiesce(spark)
    df = spark.range(0, 100).groupBy((F.col("id") % 3).alias("k")).count()
    df.collect()
    ref = weakref.ref(df._jdf)
    del df
    assert ref() is not None, "the binding was not in a cycle: nothing to show"
    quiesce(spark)
    assert ref() is None


def test_a_dataframe_collected_twice_returns_the_same_rows(spark):
    """Each execution deletes its shuffle files when it ends: a second
    run of the same DataFrame object finds its map output gone and must
    run the map stage again, not fail or lose rows."""
    from pyspark.sql import functions as F

    df = spark.range(0, 1000, numPartitions=4).groupBy((F.col("id") % 7).alias("k")).agg(
        F.count("*").alias("n"), F.sum("id").alias("s")
    )
    first = sorted(df.collect())
    assert len(first) == 7
    assert sorted(df.collect()) == first


def test_clear_persisted_counts_what_it_releases(spark):
    from dropbox_duckdb_playground_spark.materialize import pin
    from dropbox_duckdb_playground_spark.session import clear_persisted

    clear_persisted(spark)
    assert clear_persisted(spark) == 0
    pin(spark.range(0, 100)).count()
    try:
        assert clear_persisted(spark) == 1
        assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    finally:
        spark.catalog.clearCache()


def test_local_driver_caps_its_young_generation_and_cleans_shuffles(spark):
    """Without a forced full GC between queries G1 would grow eden
    towards 60% of the heap: a local driver caps it at an eighth of the
    heap, and each execution deletes its own shuffle files."""
    from dropbox_duckdb_playground_spark.session import mem_bytes

    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    heap = mem_bytes(spark.sparkContext.getConf().get("spark.driver.memory"))
    assert f"-XX:MaxNewSize={heap // 8 // 2**20}m" in args, args
    assert spark.conf.get("spark.sql.classic.shuffleDependency.fileCleanup.enabled") == "true"
