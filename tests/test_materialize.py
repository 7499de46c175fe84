"""Materialization tests: both strategies must round-trip rows and
schema exactly, and the strategy must auto-select `local` on a local
master. The reliable checkpoint a cluster master selects is forced here
by patching the master check, with the checkpoint dir pointed at a local
path (a cluster points it at HDFS/S3A — same code path)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark import materialize as mat


@pytest.fixture()
def df(spark):
    return spark.range(100).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
    )


def _force(monkeypatch, strategy):
    monkeypatch.setattr(mat, "_resolve", lambda df: strategy)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_auto_resolves_local_on_local_master(df, monkeypatch):
    assert mat._resolve(df) == "local"
    conf = df.sparkSession.conf
    get = conf.get
    for master, strategy in [
        ("local", "local"),
        ("local[4,4]", "local"),
        ("local-cluster[2,1,1024]", "reliable"),
        ("spark://host:7077", "reliable"),
    ]:
        monkeypatch.setattr(
            conf, "get", lambda k, d=None, m=master: m if k == "spark.master" else get(k, d)
        )
        assert mat._resolve(df) == strategy, master


def test_local_mode_roundtrip(df, monkeypatch):
    _force(monkeypatch, "local")
    out = mat.materialize(df)
    assert out.schema == df.schema
    assert _rows(out) == _rows(df)


def test_reliable_checkpoint(df, tmp_path, monkeypatch):
    _force(monkeypatch, "reliable")
    # force a fresh checkpoint dir even if a previous test set one
    df.sparkSession.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    out = mat.materialize(df)
    assert _rows(out) == _rows(df)
    # the reliable checkpoint must have hit the fault-tolerant directory
    files = list((tmp_path / "ckpt").rglob("*"))
    assert files, "reliable checkpoint wrote nothing to the checkpoint dir"


def test_pin_roundtrip_and_cached(df):
    out = mat.pin(df)
    assert _rows(out) == _rows(df)
    assert out.storageLevel.useMemory  # lazily persisted, no eager job
    out.unpersist()


def test_operators_run_under_reliable_strategy(spark, tmp_path, monkeypatch):
    """The CC operator (heaviest materialize consumer) must be
    strategy-agnostic: same clusters under the reliable checkpoint a
    cluster master selects as under local."""
    from dropbox_duckdb_playground_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src int, dst int"
    )
    expected = _rows(connected_components(edges))
    _force(monkeypatch, "reliable")
    spark.sparkContext.setCheckpointDir(str(tmp_path / "cc"))
    got = _rows(connected_components(edges))
    assert got == expected
    assert list((tmp_path / "cc").rglob("rdd-*")), "no reliable checkpoint"


def test_materialize_idempotent_per_object(df):
    """A frame materialize() already returned must pass through
    unchanged (ADVICE r8: one signature table fed to two pinning
    operators was checkpointed once per operator). Object-scoped on
    purpose: any transformation strips the stamp."""
    once = mat.materialize(df)
    again = mat.materialize(once)
    assert again is once, "second materialize() must be a no-op"
    # a transformation produces a NEW frame -> eligible to pin again
    derived = once.select("id")
    assert not derived.__dict__.get(mat._DONE_ATTR, False)
    assert mat.materialize(derived) is not derived


def test_stamp_column_name_collision_safe(spark):
    """r9 ADVICE: a table with a column literally named like the stamp
    must not trip DataFrame.__getattr__ column resolution (getattr on an
    unstamped frame used to return a Column whose truthiness raises)."""
    tricky = spark.range(3).withColumn(mat._DONE_ATTR, F.lit("local"))
    out = mat.materialize(tricky)  # must not raise, must actually pin
    assert out is not tricky
    assert out.__dict__[mat._DONE_ATTR] is True
    assert _rows(out) == _rows(tricky)
