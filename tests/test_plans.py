"""Physical-plan quality gates — the 100 TB assertions.

Correctness tests prove the small-SF answer; these prove the PLAN would
survive scale-up: filters reach the parquet scan (PushedFilters),
projections prune the read schema (ReadSchema), small dimensions
broadcast instead of shuffling, and per-key dedup windows carry a
group-limit pushdown. A regression here is invisible at sf0.01 and
fatal at 100 TB, which is why it gates like a correctness bug.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark.catalog import load
from dropbox_duckdb_playground_spark.operators.relational import (
    distinct_on,
    multi_left_join,
)


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    p = plan(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30" in p


def test_column_pruning_reaches_scan(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    q = li.select("l_orderkey", "l_quantity")
    p = plan(q)
    # a 2-column projection must not read the 16-column schema
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_comment" not in read and "l_extendedprice" not in read


def test_small_dim_join_broadcasts(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    q = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey).select(
        "c_name", "n_name"
    )
    p = plan(q)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_multi_left_join_no_cartesian(spark, sf_dir):
    pop = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("node_id")
    )
    a = load(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey").alias("node_id")
    ).agg(F.count("*").alias("n_orders"))
    b = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("node_id"), "c_acctbal"
    )
    q = multi_left_join(pop, [a, b], on=["node_id"])
    p = plan(q)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_distinct_on_window_group_limit(spark, sf_dir):
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    q = distinct_on(o, keys=["o_custkey"], order_by=[F.desc("o_totalprice")])
    p = plan(q)
    # rank-1 windows must prune per-partition before the shuffle
    assert "WindowGroupLimit" in p


def test_agg_has_map_side_partial(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    p = plan(q)
    # partial_sum before the exchange = map-side combine; the shuffle
    # carries one row per (task, key), not one per input row
    assert "partial_sum" in p


def test_events_scan_prunes_partitions_of_projection(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    q = ev.filter(F.col("user_id") == 7).select("event_id", "user_id")
    p = plan(q)
    assert "PushedFilters" in p and "EqualTo(user_id,7)" in p


@pytest.mark.parametrize("qname", ["q01_pricing_summary", "q05_cust_order_stats"])
def test_catalog_queries_read_pruned(spark, sf_dir, qname):
    from dropbox_duckdb_playground_spark.catalog import queries

    q = queries()[qname](spark, sf_dir)
    p = plan(q)
    reads = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert reads, "expected parquet scans in the plan"
    # no scan reads the full lineitem/customer comment columns
    assert all("comment" not in ln for ln in reads)


def test_salted_join_matches_plain_join(spark):
    from dropbox_duckdb_playground_spark.operators.relational import salted_join

    # 90% of left rows share one key: the skew shape
    left = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(0, 50).select(
        F.col("id").alias("k"), F.concat(F.lit("n"), F.col("id")).alias("name")
    )
    got = salted_join(left, right, on=["k"])
    want = left.join(right, "k")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # the physical join key must include the salt
    assert "__salt" in plan(got.select("k", "v", "name"))


def test_tpch_plans_broadcast_dims_no_cartesian(spark, sf_dir):
    """q52/q53 star joins: the dim sides must broadcast and nothing may
    degenerate to a cartesian/nested-loop product."""
    from dropbox_duckdb_playground_spark.catalog import (
        q52_tpch_q5,
        q53_tpch_q10,
    )

    for fn in (q52_tpch_q5, q53_tpch_q10):
        p = plan(fn(spark, sf_dir))
        assert "BroadcastHashJoin" in p, fn.__name__
        assert "CartesianProduct" not in p, fn.__name__
        assert "BroadcastNestedLoopJoin" not in p, fn.__name__


def test_scd2_window_is_key_partitioned(spark, sf_dir):
    """q58's window must be partitioned on user_id — an empty partition
    spec would serialize the whole table through one task."""
    from dropbox_duckdb_playground_spark.catalog import q58_scd2_history

    p = plan(q58_scd2_history(spark, sf_dir))
    assert "Window" in p
    import re

    # every Window operator line must carry a partition spec
    for m in re.finditer(r"partitionBy=\[(.*?)\]", p):
        assert m.group(1).strip(), "empty window partition spec"
