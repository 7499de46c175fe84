"""Operator builder tests (SURVEY §2.2-2.7 semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark.operators.relational import (
    anti_diff,
    argmax_per_group,
    distinct_on,
    keep_first_merge,
    multi_left_join,
    union_distinct,
)


def test_distinct_on_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 9, "x"), (1, 3, "y"), (2, 5, "z")], ["k", "n", "s"]
    )
    out = distinct_on(df, ["k"]).collect()
    assert {(r.k, r.n) for r in out} == {(1, 3), (2, 5)}


def test_argmax_per_group(spark):
    df = spark.createDataFrame(
        [("a", 1, 0.5), ("a", 2, 0.9), ("a", 3, 0.9), ("b", 4, 0.1)],
        ["g", "id", "score"],
    )
    out = {(r.g, r.id) for r in argmax_per_group(df, ["g"], "score", ["id"]).collect()}
    assert out == {("a", 2), ("b", 4)}  # max score, tie -> lowest id


def test_anti_diff(spark):
    new = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    cached = spark.createDataFrame([(2, "old")], ["k", "v"])
    out = {r.k for r in anti_diff(new, cached, ["k"]).collect()}
    assert out == {1, 3}


def test_keep_first_merge(spark):
    """Earlier batches win — the reference's updated ∪ new ∪ cached merge
    (examples/canon/crawl.py:137-153)."""
    updated = spark.createDataFrame([(1, "U")], ["k", "v"])
    new = spark.createDataFrame([(2, "N")], ["k", "v"])
    cached = spark.createDataFrame([(1, "C"), (2, "C"), (3, "C")], ["k", "v"])
    out = {(r.k, r.v) for r in keep_first_merge([updated, new, cached], ["k"]).collect()}
    assert out == {(1, "U"), (2, "N"), (3, "C")}


def test_keep_first_merge_ties_ignore_row_order(spark):
    """Inside one batch the survivor is the smallest row, whatever order
    the batch's rows arrive in."""
    rows = [(1, "a"), (1, "b"), (2, "x"), (2, "y")]
    outs = [
        sorted(
            (r.k, r.v)
            for r in keep_first_merge(
                [spark.createDataFrame(order, ["k", "v"]).coalesce(1)], ["k"]
            ).collect()
        )
        for order in (rows, rows[::-1])
    ]
    assert outs[0] == outs[1] == [(1, "a"), (2, "x")]


def test_multi_left_join(spark):
    base = spark.createDataFrame([(1,), (2,)], ["id"])
    d1 = spark.createDataFrame([(1, "x")], ["id", "a"])
    d2 = spark.createDataFrame([(2, "y")], ["id", "b"])
    out = multi_left_join(base, [d1, d2], on=["id"])
    rows = {(r.id, r.a, r.b) for r in out.collect()}
    assert rows == {(1, "x", None), (2, None, "y")}


def test_union_distinct(spark):
    a = spark.createDataFrame([(1,), (2,)], ["x"])
    b = spark.createDataFrame([(2,), (3,)], ["x"])
    assert {r.x for r in union_distinct([a, b]).collect()} == {1, 2, 3}


def test_profile_columns(spark):
    from dropbox_duckdb_playground_spark.operators.relational import (
        profile_columns,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "c")], ["k", "v"]
    )
    out = {
        (r.col, r.n_rows, r.n_nulls, r.ndv, r.min_s, r.max_s)
        for r in profile_columns(df, ["k", "v"]).collect()
    }
    assert out == {
        ("k", 3, 0, 2, "1", "2"),
        ("v", 3, 1, 2, "a", "c"),
    }
    # HLL path keeps the same shape (values approximate)
    approx = profile_columns(df, ["k"], exact_ndv=False).collect()
    assert len(approx) == 1 and approx[0].n_rows == 3
