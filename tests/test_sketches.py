"""Deterministic-sketch operators (sketches.py) + integer PageRank.

Beyond the catalog's cross-engine hash checks (q92-q95), these verify
the SKETCH GUARANTEES themselves: HLL error bounds, Count-Min one-sided
error, Bloom zero false negatives, PageRank mass conservation — the
properties a user relies on, which a value-hash equality can't express.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark.operators import sketches as SK
from dropbox_duckdb_playground_spark.operators.components import pagerank


@pytest.fixture(scope="module")
def ids(spark):
    # 5000 distinct string keys
    return spark.range(5000).select(F.concat(F.lit("k"), "id").alias("v"))


@pytest.fixture(scope="module")
def ids_with_null(spark, ids):
    # the same keys plus one NULL member
    return ids.unionByName(spark.createDataFrame([(None,)], "v string"))


def _hll_vals(df):
    return df.select(F.lit("v").alias("col_name"), "v")


class TestHLL:
    def test_registers_shape_and_determinism(self, spark, ids):
        r1 = SK.hll_registers(_hll_vals(ids), ["v"]).collect()
        r2 = SK.hll_registers(_hll_vals(ids), ["v"]).collect()
        assert len(r1) == SK.HLL_BUCKETS
        assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
        assert all(0 <= row.reg <= SK.HLL_WBITS + 1 for row in r1)

    def test_estimate_error_bound(self, spark, ids):
        # standard error for m=64 is ~1.04/8 = 13%; allow 3 sigma
        est = SK.hll_estimate(SK.hll_registers(_hll_vals(ids), ["v"])).collect()[0]
        assert abs(est.hll_estimate - 5000) / 5000 < 0.4

    def test_duplicates_dont_move_estimate(self, spark, ids):
        dup = ids.unionAll(ids).unionAll(ids)
        e1 = SK.hll_estimate(SK.hll_registers(_hll_vals(ids), ["v"])).collect()[0]
        e3 = SK.hll_estimate(SK.hll_registers(_hll_vals(dup), ["v"])).collect()[0]
        assert e1.hll_estimate == e3.hll_estimate


class TestCountMin:
    def test_one_sided_error(self, spark):
        # skewed stream: token t{i} appears i+1 times
        items = (
            spark.range(50)
            .select(
                F.explode(
                    F.expr("transform(sequence(0, CAST(id AS INT)), x -> id)")
                ).alias("k")
            )
            .select(F.concat(F.lit("t"), "k").alias("tok"))
        )
        cells = SK.countmin_cells(items, "tok")
        keys = items.distinct()
        est = SK.countmin_estimates(cells, keys, "tok")
        truth = items.groupBy("tok").agg(F.count("*").alias("n"))
        rows = est.join(truth, "tok").collect()
        assert len(rows) == 50
        # CM never underestimates
        assert all(r.cm_estimate >= r.n for r in rows)
        # and with 50 keys in a 4x256 sketch, most are exact
        exact = sum(1 for r in rows if r.cm_estimate == r.n)
        assert exact >= 45

    def test_cell_count_bounded(self, spark, ids):
        cells = SK.countmin_cells(ids.withColumnRenamed("v", "tok"), "tok")
        assert cells.count() <= SK.CM_DEPTH * SK.CM_WIDTH


class TestBloom:
    def test_no_false_negatives(self, spark, ids):
        members = ids.filter(F.col("v").rlike("k[0-4]$"))  # k0..k4
        words = SK.bloom_bitmap_agg(SK.bloom_bits(members, "v"))
        probed = SK.bloom_contains_bits(ids, words, "v").collect()
        member_set = {r.v for r in members.collect()}
        for r in probed:
            if r.v in member_set:
                assert r.in_bloom, f"false negative for {r.v}"

    def test_bits_bounded(self, spark, ids):
        bits = SK.bloom_bits(ids, "v")
        assert bits.count() <= SK.BLOOM_M

    def test_python_bitmap_parity(self, spark, ids, ids_with_null):
        # the driver-side bitmap (pure-Python md5 path) must set
        # exactly the bits the DataFrame path sets — q95 depends on it.
        # A NULL member is never a member: both paths skip it.
        values = [r.v for r in ids_with_null.collect()]
        assert None in values
        py_words = SK.bloom_bitmap_from_values(values)
        df_words = SK.bloom_bitmap_agg(SK.bloom_bits(ids_with_null, "v"))
        assert py_words == df_words
        assert py_words == SK.bloom_bitmap_agg(SK.bloom_bits(ids, "v"))

    def test_agg_bitmap_parity(self, spark, ids, ids_with_null):
        # the Spark-side packed aggregate (r14 q95 handshake: <= m/64
        # long rows collected instead of the member set) must produce
        # the SAME words as the pure-Python path over the members
        # without the NULL — including word 1023 / bit 63 (signed-long
        # re-encode edge) and a NULL member, which sets no bit
        agg_words = SK.bloom_bitmap_agg(SK.bloom_bits(ids_with_null, "v"))
        py_words = SK.bloom_bitmap_from_values([r.v for r in ids.collect()])
        assert agg_words == py_words
        assert len(agg_words) == SK.BLOOM_M // 64
        # high-bit edge: force bits 63 and BLOOM_M-1 via a literal table
        edge = spark.createDataFrame(
            [(63,), (SK.BLOOM_M - 1,)], "bit int"
        )
        w = SK.bloom_bitmap_agg(edge)
        assert w[0] == 1 << 63 and w[-1] == 1 << 63
        # out-of-range bits: -1 would alias word 1023 / bit 63, BLOOM_M
        # would index past the end; both name the offending word index
        for bad, word in ((-1, -1), (SK.BLOOM_M, SK.BLOOM_M // 64)):
            edge = spark.createDataFrame([(bad,)], "bit int")
            with pytest.raises(ValueError, match=f"word index {word} "):
                SK.bloom_bitmap_agg(edge)

    def test_python_bitmap_contains(self, spark, ids):
        values = [r.v for r in ids.collect()]
        words = SK.bloom_bitmap_from_values(values)
        probed = SK.bloom_contains_bits(ids, words, "v").collect()
        assert all(r.in_bloom for r in probed)  # no false negatives


class TestPageRank:
    @pytest.fixture(scope="class")
    def chain(self, spark):
        # a -> b -> c, d isolated (dangling)
        e = spark.createDataFrame(
            [("a", "b"), ("b", "c")], ["src", "dst"]
        )
        n = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], ["node"])
        return e, n

    def test_rank_order_and_determinism(self, spark, chain):
        e, n = chain
        r1 = {r.node: r.rank for r in pagerank(e, n).collect()}
        r2 = {r.node: r.rank for r in pagerank(e, n).collect()}
        assert r1 == r2  # bit-identical, not approximately equal
        # c receives b's mass which receives a's: c > b > a == d? a and d
        # both have no in-edges; a has out-edges, d dangles — same rank.
        assert r1["c"] > r1["b"] > r1["a"]
        assert r1["a"] == r1["d"]

    def test_mass_approximately_conserved(self, spark, chain):
        e, n = chain
        total = sum(r.rank for r in pagerank(e, n).collect())
        # integer floor-division leaks at most a few units per node/step
        assert abs(total - 1_000_000_000_000) < 1_000_000

    def test_broadcast_and_shuffle_paths_bit_identical(self, spark, monkeypatch):
        """The n_nodes gate picks broadcast rounds for small graphs and
        shuffle sort-merge rounds for large ones; both must compute the
        SAME integer ranks — the fallback path never runs at test node
        counts unless forced, so force it via BROADCAST_NODE_LIMIT = 0."""
        from dropbox_duckdb_playground_spark.operators import components

        import random

        rng = random.Random(77)
        nodes = [(i,) for i in range(60)]
        edges = list(
            {
                (rng.randrange(60), rng.randrange(60))
                for _ in range(200)
            }
        )
        e = spark.createDataFrame(edges, ["src", "dst"])
        n = spark.createDataFrame(nodes, ["node"])
        small = {
            r.node: r.rank
            for r in pagerank(e, n).collect()
        }
        monkeypatch.setattr(components, "BROADCAST_NODE_LIMIT", 0)
        forced_shuffle = {
            r.node: r.rank
            for r in pagerank(e, n).collect()
        }
        assert small == forced_shuffle

    def test_catalog_query_supplier_grain(self, spark, sf_dir):
        from dropbox_duckdb_playground_spark.catalog import queries

        out = queries()["q92_pagerank"](spark, sf_dir)
        rows = out.collect()
        assert all(r.node.startswith("S") for r in rows)
        assert all(r.rank > 0 for r in rows)


def test_histogram_quantiles_within_one_bin_of_exact(spark):
    import numpy as np

    from dropbox_duckdb_playground_spark.operators.sketches import (
        histogram_quantiles,
    )

    vals = [(float((i * 37) % 1000), "g1" if i % 2 else "g2") for i in range(500)]
    df = spark.createDataFrame(vals, "v double, grp string")
    out = histogram_quantiles(df, value="v", group="grp").collect()
    width = (999.0 - 0.0) / 64
    arr = {g: sorted(v for v, gg in vals if gg == g) for g in ("g1", "g2")}
    assert len(out) == 6
    for r in out:
        xs = arr[r["grp"]]
        exact = xs[min(len(xs) - 1, int(np.ceil(r["q_pct"] / 100 * len(xs))) - 1)]
        assert abs(r["est"] - exact) <= width + 1e-9, (r, exact)


def test_histogram_quantiles_constant_column(spark):
    from dropbox_duckdb_playground_spark.operators.sketches import (
        histogram_quantiles,
    )

    df = spark.createDataFrame([(5.0, "a")] * 10, "v double, grp string")
    out = histogram_quantiles(df, value="v", group="grp").collect()
    # mx == mn: every row lands in bin 0 and the estimate collapses to mn
    assert all(r["est"] == 5.0 for r in out)


def test_countmin_weighted_equals_stream(spark):
    # weighted increments over the frequency table must produce the
    # exact same d x w registers as the raw occurrence stream
    items = (
        spark.range(30)
        .select(
            F.explode(
                F.expr("transform(sequence(0, CAST(id % 5 AS INT)), x -> id)")
            ).alias("k")
        )
        .select(F.concat(F.lit("t"), "k").alias("tok"))
    )
    cells_stream = {
        (r.i, r.bucket, r.cnt)
        for r in SK.countmin_cells(items, "tok").collect()
    }
    tf = items.groupBy("tok").agg(F.count("*").alias("w"))
    cells_weighted = {
        (r.i, r.bucket, r.cnt)
        for r in SK.countmin_cells(tf, "tok", weight="w").collect()
    }
    assert cells_stream == cells_weighted


def test_q95_agg_bitmap_matches_collected_values_path(spark, sf_dir):
    """r14: q95 packs its bloom bitmap in Spark (bloom_bitmap_agg) and
    never collects the bench member set. The retired string-collect
    path (bloom_bitmap_from_values over the collected distinct bench
    shingles) must still produce the SAME words on the same bench
    slice — the cross-path pin that replaces the old cap-fallback
    equality test (the cap regime itself is gone: the driver payload
    is bounded by construction now)."""
    from dropbox_duckdb_playground_spark.catalog import load
    from dropbox_duckdb_playground_spark.operators import dedup as D

    d = load(spark, sf_dir, "documents")
    sh = D.shingles(d, n=3)
    bench = sh.filter(F.col("doc_id") % 50 == 0).select("shingle").distinct()
    agg_words = SK.bloom_bitmap_agg(SK.bloom_bits(bench, "shingle"))
    values = [r[0] for r in bench.collect()]
    assert values, "bench slice unexpectedly empty"
    assert agg_words == SK.bloom_bitmap_from_values(values)
