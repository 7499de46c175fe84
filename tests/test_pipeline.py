"""Pipeline composition + validators + incremental cache."""

from __future__ import annotations

import datetime
import os
import time
from dataclasses import dataclass
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark.engine import Engine
from dropbox_duckdb_playground_spark.plans.pipeline import (
    Node,
    Pipeline,
    PipelineWiringError,
    PyNode,
    SQLNode,
    ValidateLinkIds,
    ValidationError,
    assert_frames_equal,
    run_concurrently,
)
from dropbox_duckdb_playground_spark.streaming.incremental import IncrementalCache


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark=spark, root=str(tmp_path))


def test_sql_node_union_dedup(spark, engine):
    """The reference's SQLExecutor test shape (tests/test_executor.py:25-93):
    UNION of two identical 1-row tables -> one row."""
    engine.register("input5", spark.createDataFrame([(1, 2, 3)], ["a", "b", "c"]))
    engine.register("input6", spark.createDataFrame([(1, 2, 3)], ["a", "b", "c"]))
    node = SQLNode(
        sqls={"out": "SELECT * FROM input5 UNION SELECT * FROM input6"},
        input_ids=["input5", "input6"],
    )
    Pipeline([node]).execute(engine)
    assert engine.table("out").count() == 1


def test_sql_node_dialect(spark, engine):
    engine.register(
        "t_d", spark.createDataFrame([(1, "b"), (1, "a")], ["k", "v"])
    )
    node = SQLNode(sqls={"o_d": "SELECT DISTINCT ON (k) k, v FROM t_d"}, input_ids=["t_d"])
    node.run(engine)
    assert [(r.k, r.v) for r in engine.table("o_d").collect()] == [(1, "a")]


def test_py_node_schema_validation(spark, engine):
    engine.register("pin", spark.createDataFrame([(1,)], ["x"]))
    bad = PyNode(
        transform=lambda dfs: [dfs[0].withColumn("y", F.lit("s"))],
        input_ids=["pin"],
        output_ids=["pout"],
        output_schemas=[spark.createDataFrame([(1, 2)], ["x", "y"]).schema],
    )
    with pytest.raises(ValidationError, match="schema mismatch"):
        bad.run(engine)


def test_py_node_arity_validation(spark, engine):
    engine.register("pin2", spark.createDataFrame([(1,)], ["x"]))
    node = PyNode(
        transform=lambda dfs: dfs + dfs, input_ids=["pin2"], output_ids=["one"]
    )
    with pytest.raises(ValidationError, match="arity"):
        node.run(engine)


def test_wiring_consumer_before_producer():
    consumer = SQLNode(sqls={"b": "SELECT * FROM a"}, input_ids=["a"])
    with pytest.raises(PipelineWiringError, match="before any producer"):
        Pipeline([consumer]).validate_wiring()


def test_wiring_input_equals_output():
    with pytest.raises(PipelineWiringError, match="both input and output"):
        SQLNode(sqls={"a": "SELECT * FROM a"}, input_ids=["a"])


def test_validate_link_ids(spark, engine):
    engine.register("nodes", spark.createDataFrame([(1,), (2,)], ["node_id"]))
    engine.register(
        "links_ok", spark.createDataFrame([(1, 2)], ["from_id", "to_id"])
    )
    engine.register(
        "links_bad", spark.createDataFrame([(1, 99)], ["from_id", "to_id"])
    )
    ValidateLinkIds(link_id="links_ok", node_id="nodes").run(engine)
    with pytest.raises(ValidationError, match="missing"):
        ValidateLinkIds(link_id="links_bad", node_id="nodes").run(engine)


def test_assert_frames_equal(spark):
    a = spark.createDataFrame([(1,), (2,)], ["x"])
    b = spark.createDataFrame([(2,), (1,)], ["x"])
    assert_frames_equal(a, b)  # order-insensitive
    with pytest.raises(ValidationError):
        assert_frames_equal(a, spark.createDataFrame([(1,), (1,)], ["x"]))


def test_materialize_roundtrip(spark, engine, tmp_path):
    engine.register("m_src", spark.createDataFrame([(1, "x")], ["k", "v"]))
    node = SQLNode(sqls={"m_out": "SELECT k, upper(v) AS v FROM m_src"}, input_ids=["m_src"])
    Pipeline([node], materialize=["m_out"]).execute(engine)
    again = spark.read.parquet(str(tmp_path / "m_out.parquet"))
    assert [(r.k, r.v) for r in again.collect()] == [(1, "X")]


def test_incremental_cache_cycle(spark, engine):
    cache = IncrementalCache(engine)
    engine.register("inc", spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    # first run: everything is new
    assert cache.new_keys("inc", ["k"]).count() == 2
    cache.snapshot("inc")
    # second run with one extra row: only the new key survives the diff
    engine.register(
        "inc", spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    )
    got = cache.new_keys("inc", ["k"]).collect()
    assert [(r.k, r.v) for r in got] == [(3, "c")]
    # keep-first merge: updated beats cached
    merged = cache.merge_batches(
        [
            spark.createDataFrame([(1, "A")], ["k", "v"]),
            cache.load("inc"),
        ],
        keys=["k"],
    )
    assert dict((r.k, r.v) for r in merged.collect()) == {1: "A", 2: "b"}


@dataclass
class _Failing(Node):
    """A validator (no output ids) that raises ``msg`` after ``delay``
    seconds."""

    msg: str
    delay: float = 0.0

    def run(self, engine: Engine) -> None:
        time.sleep(self.delay)
        raise ValidationError(self.msg)


def test_failing_validator_leaves_no_saved_output(spark, engine, tmp_path):
    engine.register("v_nodes", spark.createDataFrame([(1,)], ["node_id"]))
    engine.register("v_links", spark.createDataFrame([(1, 99)], ["from_id", "to_id"]))
    pipe = Pipeline(
        [
            SQLNode(sqls={"v_out": "SELECT * FROM v_nodes"}, input_ids=["v_nodes"]),
            ValidateLinkIds(link_id="v_links", node_id="v_nodes"),
            ValidateLinkIds(link_id="v_links", node_id="v_nodes", fks=["from_id"]),
        ],
        materialize=["v_out"],
    )
    with pytest.raises(ValidationError, match="missing"):
        pipe.execute(engine)
    assert not os.path.exists(tmp_path / "v_out.parquet")


def test_lowest_index_validator_error_wins(engine):
    """Both validators of a level run; the first in node order fails
    last, and its error is the one raised."""
    pipe = Pipeline([_Failing("first", delay=0.5), _Failing("second")])
    with pytest.raises(ValidationError, match="^first$"):
        pipe.execute(engine)


def test_concurrent_saves_match_serial_saves(spark, tmp_path):
    from tools.check import frame_digest

    tables = {
        "c_ints": spark.range(500).selectExpr("id", "id % 7 AS m"),
        "c_strs": spark.range(300).selectExpr("id", "concat('s', id) AS s"),
        "c_agg": spark.range(1000).groupBy((F.col("id") % 13).alias("g")).count(),
    }
    digests = []
    for mode in ("serial", "concurrent"):
        eng = Engine(spark=spark, root=str(tmp_path / mode))
        for obj_id, df in tables.items():
            eng.register(obj_id, df)
        if mode == "serial":
            for obj_id in tables:
                eng.save(obj_id)
        else:
            Pipeline([], sources=list(tables), materialize=list(tables)).execute(eng)
        digests.append([
            frame_digest(spark.read.parquet(str(tmp_path / mode / f"{t}.parquet")).toPandas())
            for t in tables
        ])
    assert digests[0] == digests[1]


def test_helper_threads_inherit_the_job_group(spark, jobs_in_group):
    """Jobs launched on the helper's threads belong to the caller's job
    group, as the same jobs launched on the caller's thread do. (A plain
    Python thread runs its jobs on a JVM thread that inherits nothing.)"""
    thunks = [lambda: spark.range(10).count(), lambda: spark.range(20).count()]
    serial = jobs_in_group("serial_thunks", lambda: [t() for t in thunks])
    assert serial >= 2
    assert jobs_in_group("helper_threads", lambda: run_concurrently(spark, thunks)) == serial


def test_save_launches_only_the_write(spark, engine, jobs_in_group):
    engine.register("s_one", spark.range(100).selectExpr("id", "id * 2 AS x"))
    assert jobs_in_group("save_one", lambda: engine.save("s_one")) == 1
    assert engine.table("s_one").count() == 100


def test_saved_scan_schema_equals_the_inferred_one(spark, engine, tmp_path):
    """The re-registered scan carries the schema just written, made
    nullable as file sources read it: the same schema inference gives."""
    df = spark.createDataFrame(
        [(1, ("a", [1, 2]), Decimal("1.25"), datetime.datetime(2024, 1, 2, 3, 4, 5))],
        "id long not null, s struct<name: string not null, xs: array<int>> not null, "
        "d decimal(18,6), ts timestamp",
    )
    assert not df.schema["id"].nullable
    engine.register("s_types", df)
    out = engine.save("s_types")
    assert engine.table("s_types").schema == spark.read.parquet(out).schema
    engine.copy("s_types", "s_types_copy")
    assert engine.table("s_types_copy").schema == spark.read.parquet(out).schema
