"""SparkSession factory.

One session replaces the reference's DuckDB connection + paradag thread
pool + fsspec storage (reference: batch_framework/rdb.py:83-95,
batch_framework/etl.py:248-265). Temp views are the namespace, Catalyst
is the optimizer, Parquet directories are persistence.

Scale notes (100 TB design): the settings below are profile-driven.
`local` profiles pin shuffle partitions ≈ cores; a cluster deploy leaves
`spark.sql.shuffle.partitions` to AQE coalescing and instead sets an
initial partition number sized by input bytes / 128MB. AQE is always on:
it re-plans skewed joins and converts sort-merge→broadcast at runtime,
which is exactly the decision DuckDB's optimizer made per-query in the
reference.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: runtime re-planning (skew-join split, smj->broadcast, partition
    # coalescing). At 100 TB this is the main defence against skewed keys.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas-UDF / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic timestamps vs the DuckDB oracle (duckdb is UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # ANSI off: match DuckDB's permissive casts in the reference SQL.
    "spark.sql.ansi.enabled": "false",
    # 128 MB split targets — the right granularity for large parquet scans.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Split small files like a cluster would split big ones. Spark's
    # maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    # bytes/parallelism)), so openCost is the FLOOR that keeps a small
    # compute-heavy scan (tokenize costs ~100x the byte decode on the
    # text tables) glued to 1-2 tasks: at the 4 MB default a 5.8 MB
    # corpus file gets 2 splits no matter how many cores are idle.
    # 512 KB lets it split to its row groups while the formula's
    # bytes/parallelism term still self-scales big tables to ~cores
    # splits. Measured (r9, interleaved single-session A/B): q89 at sf1
    # 1.17s -> 0.71s; whole-catalog sf0.1 total a wash (80.6 vs 80.8s)
    # with no row slower by >0.3s. Object-store deployments where a
    # file OPEN costs real latency can restore the 4 MB default via
    # get_spark(extra_conf={"spark.sql.files.openCostInBytes": ...}).
    "spark.sql.files.openCostInBytes": "524288",
    # Broadcast threshold: dimension tables (region/nation/mappers) are
    # small even at sf=100TB fact scale; 64 MB keeps them map-side.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Each SQL execution deletes its own shuffle files when it ends, so
    # `quiesce` need not force a JVM GC for ContextCleaner to find them.
    # Running the same DataFrame object a second time then finds its map
    # output gone and runs the map stage again (correct, slower).
    "spark.sql.classic.shuffleDependency.fileCleanup.enabled": "true",
}


def s3a_conf(
    access_key: str | None = None,
    secret_key: str | None = None,
    endpoint: str | None = None,
    magic_committer: bool = True,
    fs_options: dict[str, str] | None = None,
) -> dict[str, str]:
    """Spark conf for reading/writing ``s3a://`` paths — the cloud profile
    the reference served with its Dropbox backend
    (batch_framework/filesystem.py:167-274, chunked parallel remote IO;
    here the S3A connector's multipart upload + prefetch replace it).

    - ``magic_committer=True`` enables the S3A *magic committer*: task
      commits become zero-rename multipart-upload completions, the only
      correct+fast commit path on S3's non-atomic-rename store.
    - ``fs_options`` passes any ``fs.s3a.*`` key through verbatim
      (e.g. ``{"fs.s3a.connection.maximum": "200"}``).

    Keys are returned ``spark.hadoop.``-prefixed so they can be fed to
    :func:`get_spark(storage_conf=...)` at build time, or applied to a
    live session with :func:`apply_storage_conf`. Credentials default to
    the provider chain (env/instance profile) when not given."""
    conf: dict[str, str] = {}
    if access_key is not None:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
    if secret_key is not None:
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
    if endpoint is not None:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
    if magic_committer:
        conf.update(
            {
                "spark.hadoop.fs.s3a.committer.name": "magic",
                "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
                "spark.hadoop.mapreduce.outputcommitter.factory.scheme.s3a": (
                    "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory"
                ),
                "spark.sql.parquet.output.committer.class": (
                    "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
                ),
                "spark.sql.sources.commitProtocolClass": (
                    "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
                ),
            }
        )
    for k, v in (fs_options or {}).items():
        key = k if k.startswith("spark.hadoop.") else f"spark.hadoop.{k}"
        conf[key] = v
    return conf


def gcs_conf(
    project: str | None = None,
    service_account_json: str | None = None,
    fs_options: dict[str, str] | None = None,
) -> dict[str, str]:
    """Spark conf for ``gs://`` paths via the GCS Hadoop connector.
    GCS renames are server-side copies (no S3-style listing
    inconsistency), so the default FileOutputCommitter v2 is safe; the
    keys here wire the filesystem impl + credentials."""
    conf = {
        "spark.hadoop.fs.gs.impl": (
            "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem"
        ),
        "spark.hadoop.fs.AbstractFileSystem.gs.impl": (
            "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFS"
        ),
    }
    if project is not None:
        conf["spark.hadoop.fs.gs.project.id"] = project
    if service_account_json is not None:
        conf["spark.hadoop.google.cloud.auth.service.account.enable"] = "true"
        conf["spark.hadoop.google.cloud.auth.service.account.json.keyfile"] = (
            service_account_json
        )
    for k, v in (fs_options or {}).items():
        key = k if k.startswith("spark.hadoop.") else f"spark.hadoop.{k}"
        conf[key] = v
    return conf


def apply_storage_conf(spark: SparkSession, conf: dict[str, str]) -> None:
    """Apply ``spark.hadoop.*`` storage keys to a LIVE session's Hadoop
    configuration (SQL keys go through spark.conf). Build-time
    ``get_spark(storage_conf=...)`` is preferred — committer classes read
    some keys at job-setup only — but credentials/endpoint/tuning keys
    are honored at next filesystem access."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in conf.items():
        if k.startswith("spark.hadoop."):
            hconf.set(k[len("spark.hadoop.") :], v)
        else:
            spark.conf.set(k, v)


def spark_cpus() -> int:
    """Core count for the default local master and shuffle partitions:
    ``$SPARK_GRAFT_CPUS`` when set, else ``os.cpu_count()``. A value
    that is not an integer >= 1 raises ``ValueError`` naming the
    variable."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return os.cpu_count() or 1
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0
    if cpus < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be an integer >= 1, got {raw!r}")
    return cpus


_MEM = re.compile(r"(\d+)([kmgt]?)(b?)", re.IGNORECASE)


def driver_mem() -> str:
    """Driver heap for local masters: ``$SPARK_DRIVER_MEM`` when set,
    else ``min(48g, half of physical RAM)``. A value that is not
    ``<digits>[k|m|g|t][b]`` (any case) raises ``ValueError`` naming
    the variable, before the JVM sees it."""
    raw = os.environ.get("SPARK_DRIVER_MEM")
    if raw is None:
        half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
        return f"{min(48 * 1024, half_mb)}m"
    if not _MEM.fullmatch(raw):
        raise ValueError(
            f"SPARK_DRIVER_MEM must look like 512m, 4g or 4gb, got {raw!r}"
        )
    return raw


def mem_bytes(mem: str) -> int:
    """Bytes in a memory size that :func:`driver_mem` accepts. A size
    without a unit is MiB, as Spark reads ``spark.driver.memory``
    (``<n>b`` is bytes)."""
    num, unit, b = _MEM.fullmatch(mem).groups()
    unit = unit.lower() or ("_" if b else "m")
    return int(num) * 1024 ** "_kmgt".index(unit)


def scratch_root() -> str:
    """The first ``$SPARK_LOCAL_DIRS`` entry, else the system temp dir:
    where local runs put files that must not land in the working
    directory."""
    return os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0] or tempfile.gettempdir()


def get_spark(
    app_name: str = "dropbox_duckdb_playground_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    storage_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``master`` defaults to ``local[N,4]`` with N from :func:`spark_cpus`
    (``$SPARK_GRAFT_CPUS``, else the host's core count) so tests and
    bench share one code path; ``$SPARK_MASTER`` overrides it. The 4 is
    the task attempt limit: plain ``local[N]`` gives each task one
    attempt, so one transient task failure fails the query, while a
    cluster retries it (``spark.task.maxFailures`` defaults to 4 there). On a real cluster pass ``master=None`` with
    ``spark.master`` preset in spark-submit.

    ``storage_conf`` is an object-store profile from :func:`s3a_conf` /
    :func:`gcs_conf` (or any ``spark.hadoop.*`` dict); pass it at build
    time so commit-protocol classes are in force for every write.
    """
    cpus = spark_cpus()
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus},4]")
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # local mode: driver is the only JVM — give it the memory.
    if master.startswith("local"):
        heap = driver_mem()
        conf.setdefault("spark.driver.memory", heap)
        # With no full GC between queries G1 grows eden towards 60% of
        # the heap, and the process's resident memory with it. Spark puts
        # defaultJavaOptions before extraJavaOptions, so a deploy's own
        # options still win.
        conf.setdefault(
            "spark.driver.defaultJavaOptions",
            f"-XX:MaxNewSize={mem_bytes(heap) // 8 // 2**20}m",
        )
        # the catalog's database dir, which Spark otherwise creates as
        # ./spark-warehouse on first catalog use
        conf.setdefault(
            "spark.sql.warehouse.dir", os.path.join(scratch_root(), "spark-warehouse")
        )
    if storage_conf:
        conf.update(storage_conf)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if storage_conf:
        # getOrCreate may have returned a pre-existing session whose
        # builder confs were ignored — make the storage profile land
        # either way.
        apply_storage_conf(spark, storage_conf)
    return spark


def clear_persisted(spark: SparkSession) -> int:
    """Unpersist every cached/localCheckpointed RDD in the context.

    Operators materialize intermediates with localCheckpoint (self-join
    inputs, iteration state); across a long session those blocks
    accumulate and pressure the block manager / GC. Harness code (bench,
    batch runners) calls this between independent queries. Returns the
    number of RDDs released."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    if jmap.isEmpty():
        return 0
    rdds = list(jmap.values())
    for jrdd in rdds:
        jrdd.unpersist(False)
    return len(rdds)


# whether quiesce has frozen the heap; a flag, because
# gc.get_freeze_count() walks every frozen object (~10 ms a call)
_frozen = False


def quiesce(spark: SparkSession) -> None:
    """Release everything a finished query can still pin, between
    independent queries in a long-lived session.

    - Shuffle files: each SQL execution deletes its own when it ends
      (``spark.sql.classic.shuffleDependency.fileCleanup.enabled``).
    - Cached and checkpointed RDDs: ``clear_persisted``, and the SQL
      cache: ``catalog.clearCache``.
    - JVM plans and the broadcasts they hold: plan objects on the Python
      side form reference cycles (py4j's ``JavaObject._methods`` holds
      a ``JavaMember`` whose ``container`` points back), and until
      CPython's cyclic collector runs, their bindings keep the JVM-side
      plans alive. ``gc.collect`` frees them; the JVM then collects the
      plans in its own time, without a forced full GC.

    The first call freezes (``gc.freeze``) what is alive then, so later
    collections walk only what was made since: objects still alive at
    the first ``quiesce`` are never cycle-collected.
    """
    import gc

    global _frozen

    clear_persisted(spark)
    spark.catalog.clearCache()
    gc.collect()
    if not _frozen:
        gc.freeze()
        _frozen = True
