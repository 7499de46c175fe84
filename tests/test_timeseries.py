"""Time-series operators: as-of join, banded range join, time rollup.

The oracle-checked catalog queries (q44-q46) prove parity on the events
table; these cover the semantic edges directly: inclusive equal-ts
matching, tie-breaking, band-boundary intervals, and single-exchange
plan shape.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark.operators.timeseries import (
    asof_join,
    range_join,
    time_rollup,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(minutes: float) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minutes)


def _frames(spark):
    left = spark.createDataFrame(
        [(1, "u", _ts(10)), (2, "u", _ts(30)), (3, "v", _ts(5)), (4, "w", _ts(1))],
        "lid long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, "u", _ts(10), 1.0),   # equal ts -> inclusive match for lid=1
            (101, "u", _ts(25), 2.0),   # latest before lid=2
            (102, "u", _ts(31), 9.0),   # after lid=2, must not match
            (103, "v", _ts(4), 3.0),
        ],
        "rid long, k string, ts timestamp, p double",
    )
    return left, right


def test_asof_inclusive_latest_and_unmatched(spark):
    left, right = _frames(spark)
    out = asof_join(left, right, by=["k"], ts="ts", payload=["p"], tiebreak="rid")
    got = {r.lid: (r.p_asof, r.ts_asof) for r in out.collect()}
    assert got[1] == (1.0, _ts(10))      # equal ts matches (>= semantics)
    assert got[2] == (2.0, _ts(25))      # latest at-or-before, not the later one
    assert got[3] == (3.0, _ts(4))
    assert got[4] == (None, None)        # no right rows for key w


def test_asof_tie_on_ts_takes_greatest_tiebreak(spark):
    left = spark.createDataFrame([(1, "u", _ts(10))], "lid long, k string, ts timestamp")
    right = spark.createDataFrame(
        [(7, "u", _ts(10), 1.0), (9, "u", _ts(10), 2.0), (8, "u", _ts(10), 3.0)],
        "rid long, k string, ts timestamp, p double",
    )
    out = asof_join(left, right, by=["k"], ts="ts", payload=["p"], tiebreak="rid")
    assert out.head().p_asof == 2.0  # rid=9 wins


def test_asof_plan_is_single_shuffle_no_nested_loop(spark):
    left, right = _frames(spark)
    out = asof_join(left, right, by=["k"], ts="ts", payload=["p"])
    p = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    import re

    # one hash partitioning on the key (formatted explain names each
    # node twice: tree line + detail header — count detail headers)
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1


def test_range_join_band_boundaries_exact_once(spark):
    points = spark.createDataFrame(
        [(1, "u", _ts(59)), (2, "u", _ts(61)), (3, "u", _ts(200)), (4, "x", _ts(59))],
        "pid long, k string, ts timestamp",
    )
    # interval spans a band boundary (band=1 hour): [50, 70]
    intervals = spark.createDataFrame(
        [(10, "u", _ts(50), _ts(70))],
        "iid long, k string, s timestamp, e timestamp",
    )
    out = range_join(
        points, intervals, by=["k"], point_ts="ts", start="s", end="e",
        band="1 hour",
    )
    rows = [(r.pid, r.iid) for r in out.collect()]
    assert sorted(rows) == [(1, 10), (2, 10)]  # both sides of the boundary, once each
    assert len(rows) == len(set(rows))


def test_range_join_inclusive_endpoints(spark):
    points = spark.createDataFrame(
        [(1, "u", _ts(50)), (2, "u", _ts(70))], "pid long, k string, ts timestamp"
    )
    intervals = spark.createDataFrame(
        [(10, "u", _ts(50), _ts(70))], "iid long, k string, s timestamp, e timestamp"
    )
    out = range_join(points, intervals, by=["k"], point_ts="ts", start="s", end="e")
    assert out.count() == 2


def test_time_rollup_matches_separate_aggs(spark):
    df = spark.createDataFrame(
        [(_ts(m), "a" if m % 2 else "b", float(m)) for m in range(0, 300, 7)],
        "ts timestamp, g string, v double",
    )
    out = time_rollup(
        df, ts="ts",
        aggs=[F.count("*").alias("n"), F.round(F.sum("v"), 2).alias("s")],
        resolutions=["hour", "day"], keys=["g"],
    ).collect()
    hourly = {(r.bucket, r.g): (r.n, r.s) for r in out if r.resolution == "hour"}
    daily = {(r.bucket, r.g): (r.n, r.s) for r in out if r.resolution == "day"}
    want_h = {
        (r.b, r.g): (r.n, r.s)
        for r in df.groupBy(F.date_trunc("hour", "ts").alias("b"), "g")
        .agg(F.count("*").alias("n"), F.round(F.sum("v"), 2).alias("s"))
        .collect()
    }
    want_d = {
        (r.b, r.g): (r.n, r.s)
        for r in df.groupBy(F.date_trunc("day", "ts").alias("b"), "g")
        .agg(F.count("*").alias("n"), F.round(F.sum("v"), 2).alias("s"))
        .collect()
    }
    assert hourly == want_h and daily == want_d


def test_scd2_history(spark):
    from pyspark.sql import functions as F

    from dropbox_duckdb_playground_spark.operators.timeseries import (
        scd2_history,
    )

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", "bronze", 1),
            (1, "2024-02-01 00:00:00", "silver", 2),
            (2, "2024-01-15 00:00:00", "bronze", 3),
        ],
        ["uid", "ts", "tier", "eid"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r.uid, r.tier, str(r.valid_from)[:10], str(r.valid_to)[:10] if r.valid_to else None)
        for r in scd2_history(df, keys=["uid"], ts="ts", tiebreak="eid").collect()
    }
    assert out == {
        (1, "bronze", "2024-01-01", "2024-02-01"),
        (1, "silver", "2024-02-01", None),
        (2, "bronze", "2024-01-15", None),
    }


def test_snapshot_diff(spark):
    import pytest

    from dropbox_duckdb_playground_spark.operators.timeseries import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["k", "s", "v"]
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", 40)], ["k", "s", "v"]
    )
    out = {
        (r.k, r.s, r.v, r.op)
        for r in snapshot_diff(old, new, keys=["k"]).collect()
    }
    # 1 unchanged -> dropped; 2 updated; 3 deleted; 4 inserted
    assert out == {(2, "B", 20, "U"), (3, "c", 30, "D"), (4, "d", 40, "I")}

    with pytest.raises(ValueError):
        snapshot_diff(old, new.withColumnRenamed("v", "x"), keys=["k"])


def test_asof_join_random_matches_pandas_merge_asof(spark):
    """Differential on seeded random data: asof_join == pandas
    merge_asof (backward, no tolerance)."""
    import random

    import pandas as pd

    from dropbox_duckdb_playground_spark.operators.timeseries import asof_join

    rng = random.Random(42)
    base = pd.Timestamp("2024-01-01")
    left_rows = [
        (i, rng.randrange(5), base + pd.Timedelta(seconds=rng.randrange(10000)))
        for i in range(120)
    ]
    right_rows = [
        (1000 + i, rng.randrange(5),
         base + pd.Timedelta(seconds=rng.randrange(10000)),
         float(rng.randrange(100)))
        for i in range(150)
    ]
    lpdf = pd.DataFrame(left_rows, columns=["lid", "k", "ts"])
    rpdf = pd.DataFrame(right_rows, columns=["rid", "k", "ts", "val"])

    ldf = spark.createDataFrame(lpdf)
    rdf = spark.createDataFrame(rpdf)

    got = asof_join(
        ldf, rdf, by=["k"], ts="ts", payload=["val"], tiebreak="rid"
    ).toPandas().set_index("lid").sort_index()

    # pandas reference: sort right by (ts, rid) so equal-ts ties
    # resolve to the greatest rid, like the operator's tiebreak
    exp = pd.merge_asof(
        lpdf.sort_values(["ts", "lid"]),
        rpdf.sort_values(["ts", "rid"]),
        on="ts", by="k", direction="backward", suffixes=("", "_r"),
    ).set_index("lid").sort_index()

    assert list(got["val_asof"].fillna(-1)) == list(exp["val"].fillna(-1))


def test_range_join_random_matches_nested_loop(spark):
    """Differential: range_join == the O(n*m) nested-loop reference on
    seeded random intervals."""
    import random

    import pandas as pd

    from dropbox_duckdb_playground_spark.operators.timeseries import range_join

    rng = random.Random(7)
    base = pd.Timestamp("2024-01-01")
    pts = [
        (i, rng.randrange(4), base + pd.Timedelta(seconds=rng.randrange(7200)))
        for i in range(100)
    ]
    ivs = []
    for i in range(40):
        s = base + pd.Timedelta(seconds=rng.randrange(7200))
        ivs.append((500 + i, rng.randrange(4), s,
                    s + pd.Timedelta(seconds=rng.randrange(1, 1800))))

    pdf_p = pd.DataFrame(pts, columns=["pid", "k", "ts"])
    pdf_i = pd.DataFrame(ivs, columns=["iid", "k", "ts_start", "ts_end"])

    got = {
        (r.pid, r.iid)
        for r in range_join(
            spark.createDataFrame(pdf_p),
            spark.createDataFrame(pdf_i),
            by=["k"], point_ts="ts", start="ts_start", end="ts_end",
            band="30 minutes",
        ).collect()
    }
    exp = {
        (p.pid, i.iid)
        for p in pdf_p.itertuples()
        for i in pdf_i.itertuples()
        if p.k == i.k and i.ts_start <= p.ts <= i.ts_end
    }
    assert got == exp
