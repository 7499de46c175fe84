"""Materialization of DataFrame intermediates: one chokepoint.

Iterative operators (connected components, LSH pair mining, shingle
inverted indexes, winnowing) must cut lineage and pin an intermediate:
re-executing the upstream plan once per downstream branch would be
quadratic, and iterative lineage grows without bound. Bare
``localCheckpoint`` stores NON-replicated blocks on executors — fine on
``local[*]`` where the "cluster" is one JVM, but on a real cluster the
loss of a single executor makes the truncated lineage unrecoverable and
fails the job.

So :func:`materialize` picks one of two strategies from the session
master (:func:`_resolve`):

- ``local``    — master ``local`` or ``local[...]``, Spark's own
                 ``SparkContext.isLocal`` rule (``local-cluster[...]``
                 runs separate executor JVMs, so it is not local):
                 ``df.localCheckpoint(eager=True)`` (in-memory executor
                 blocks, no replication, no disk write).
- ``reliable`` — any other master: ``df.checkpoint(eager=True)`` into
                 the context's checkpoint directory, which a deploy
                 points at fault-tolerant storage (HDFS / S3A / GCS) with
                 ``SparkContext.setCheckpointDir``. Survives executor
                 loss without any call-site change.

Non-iterative branch reuse goes through :func:`pin` instead, which is
always a lazy ``persist(MEMORY_AND_DISK)``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from dropbox_duckdb_playground_spark.session import scratch_root


def _resolve(df: DataFrame) -> str:
    """The strategy for ``df``'s session: ``local`` when the executors are
    the driver JVM, else ``reliable``."""
    master = df.sparkSession.conf.get("spark.master", "local")
    return "local" if master == "local" or master.startswith("local[") else "reliable"


def _checkpoint_dir(df: DataFrame) -> str:
    """The context's checkpoint dir; if the deploy set none, a local
    fallback under ``session.scratch_root()``."""
    sc = df.sparkSession.sparkContext
    current = sc._jsc.sc().getCheckpointDir()
    if current.isDefined():
        return current.get()
    base = os.path.join(scratch_root(), "spark_graft_ckpt")
    sc.setCheckpointDir(base)
    return base


def pin(df: DataFrame) -> DataFrame:
    """Lazily pin a NON-iterative intermediate that feeds a handful of
    downstream branches (``persist(MEMORY_AND_DISK)``).

    Unlike :func:`materialize` this does not cut lineage and does not run
    an extra eager job: the first downstream action populates the cache
    and later branches re-read it. On a cluster that is also the right
    fault-tolerance story for plain branch reuse — a lost block recomputes
    from lineage instead of failing the job — so ``pin`` is the scale
    path too, not a local-mode shortcut. Reserve :func:`materialize` for
    iterative state, where unbounded lineage growth forces a real cut."""
    from pyspark.storagelevel import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)


# Stamp on frames materialize() returns, so a frame that flows through
# TWO pinning operators (e.g. one signature table fed to both
# lsh_candidate_pairs and minhash_estimate_pairs) is checkpointed once,
# not once per operator. Python-object-scoped on purpose: any
# transformation produces a NEW DataFrame without the stamp, which is
# exactly when the pin no longer covers the plan. Read through
# df.__dict__ (never getattr): DataFrame.__getattr__ resolves unknown
# attributes as COLUMNS, so a table with a column literally named like
# the stamp must not be reachable.
_DONE_ATTR = "_spark_graft_materialized"


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly compute ``df``, cut its lineage, and return a DataFrame
    whose re-scan is cheap, via the strategy the session master selects
    (see module docstring). All operators in this package pin
    intermediates through this single chokepoint. Idempotent per
    returned object: passing a frame this function already returned is
    a no-op, so operators can defensively pin their inputs without
    double-checkpointing a caller-shared intermediate."""
    if df.__dict__.get(_DONE_ATTR):
        return df
    if _resolve(df) == "local":
        out = df.localCheckpoint(eager=True)
    else:
        _checkpoint_dir(df)
        out = df.checkpoint(eager=True)
    out.__dict__[_DONE_ATTR] = True
    return out
