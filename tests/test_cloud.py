"""Cloud object-storage profile: conf construction, landing on a live
session, and Engine over scheme'd URIs (exercised with file:// — the
same Hadoop-FS code path s3a/gs take, minus the network)."""

from __future__ import annotations

from dropbox_duckdb_playground_spark.engine import Engine, _join
from dropbox_duckdb_playground_spark.session import (
    apply_storage_conf,
    gcs_conf,
    s3a_conf,
)


def test_s3a_conf_magic_committer_keys():
    conf = s3a_conf(access_key="AK", secret_key="SK", endpoint="https://minio:9000")
    assert conf["spark.hadoop.fs.s3a.access.key"] == "AK"
    assert conf["spark.hadoop.fs.s3a.secret.key"] == "SK"
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "https://minio:9000"
    assert conf["spark.hadoop.fs.s3a.committer.name"] == "magic"
    assert conf["spark.hadoop.fs.s3a.committer.magic.enabled"] == "true"
    assert "PathOutputCommitProtocol" in conf["spark.sql.sources.commitProtocolClass"]


def test_s3a_conf_fs_option_passthrough():
    conf = s3a_conf(
        magic_committer=False,
        fs_options={
            "fs.s3a.connection.maximum": "200",
            "spark.hadoop.fs.s3a.fast.upload": "true",
        },
    )
    assert conf["spark.hadoop.fs.s3a.connection.maximum"] == "200"
    assert conf["spark.hadoop.fs.s3a.fast.upload"] == "true"
    assert "spark.hadoop.fs.s3a.committer.name" not in conf


def test_gcs_conf_keys():
    conf = gcs_conf(project="proj-1", service_account_json="/keys/sa.json")
    assert conf["spark.hadoop.fs.gs.project.id"] == "proj-1"
    assert (
        conf["spark.hadoop.google.cloud.auth.service.account.json.keyfile"]
        == "/keys/sa.json"
    )
    assert "GoogleHadoopFileSystem" in conf["spark.hadoop.fs.gs.impl"]


def test_storage_conf_lands_on_live_session(spark):
    apply_storage_conf(
        spark, s3a_conf(endpoint="https://example:9000", magic_committer=False)
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.endpoint") == "https://example:9000"


def test_uri_helpers():
    assert _join("s3a://b/dir/", "t.parquet") == "s3a://b/dir/t.parquet"
    assert _join("/tmp/dir", "t.parquet") == "/tmp/dir/t.parquet"


def test_engine_over_scheme_uri_roundtrip(spark, tmp_path):
    """Engine save + register over a file:// URI — the exact Hadoop
    FileSystem path a cloud deploy takes for s3a://."""
    eng = Engine(spark, root=f"file://{tmp_path}")
    eng.register("t1", spark.range(10).toDF("n"))
    out = eng.save("t1")
    assert out.startswith("file://")

    eng2 = Engine(spark)
    eng2.register("t1", out)
    assert "t1" in eng2
    assert eng2.table("t1").count() == 10


def test_open_cost_extra_conf_lands_on_session(spark):
    """The measured 512 KB scan-split floor is a default, not a pin: an
    object-store deploy restores Spark's 4 MB through the public
    ``get_spark(extra_conf=...)`` parameter."""
    from dropbox_duckdb_playground_spark.session import get_spark

    key = "spark.sql.files.openCostInBytes"
    assert spark.conf.get(key) == "524288"
    try:
        s = get_spark(
            "tests",
            shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
            extra_conf={key: "4194304"},
        )
        assert s.conf.get(key) == "4194304"
    finally:
        spark.conf.set(key, "524288")
