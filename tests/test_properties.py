"""Property-based differential tests (hypothesis): each distributed
operator is compared against an independent, obviously-correct Python
reference implementation on randomized inputs — the same differential
philosophy as the DuckDB oracle gate (SURVEY §5), but with adversarial
input generation instead of one fixed corpus: duplicate keys, ties,
empty groups, singletons, self-edges, disconnected graphs.

Examples are kept small (Spark round-trip per example) and counts low;
the value is the input-shape coverage, not volume.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# -- connected components vs python union-find ------------------------------

edges_strategy = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=60
)


def _uf_components(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in parent}


@SET
@given(edges_strategy)
def test_connected_components_matches_union_find(spark, edges):
    from dropbox_duckdb_playground_spark.operators.components import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node_id: r.cluster_id for r in connected_components(df).collect()
    }
    assert got == _uf_components(edges)


# -- asof join vs per-row python scan ---------------------------------------

asof_strategy = st.tuples(
    st.lists(  # left: (key, ts)
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=25
    ),
    st.lists(  # right: (key, ts, val)
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 99)),
        min_size=1,
        max_size=25,
    ),
)


@SET
@given(asof_strategy)
def test_asof_join_matches_scan(spark, data):
    from dropbox_duckdb_playground_spark.operators.timeseries import asof_join

    lrows, rrows = data
    lrows = [(i,) + t for i, t in enumerate(lrows)]
    left = spark.createDataFrame(lrows, "lid long, k long, ts long")
    right = spark.createDataFrame(rrows, "k long, ts long, val long")
    out = asof_join(
        left, right, by=["k"], ts="ts", payload=["val"], tiebreak="val"
    )
    got = {r.lid: r.val_asof for r in out.collect()}

    def ref(lk, lts):
        # latest right.ts <= lts for the key; ties on ts -> max val
        best = None
        for k, ts, val in rrows:
            if k == lk and ts <= lts:
                cand = (ts, val)
                if best is None or cand > best:
                    best = cand
        return None if best is None else best[1]

    expect = {lid: ref(k, ts) for lid, k, ts in lrows}
    assert got == expect


# -- distinct_on / argmax_per_group vs python reference ---------------------

rows_strategy = st.lists(
    st.tuples(st.integers(0, 4), st.integers(-20, 20), st.integers(0, 9)),
    min_size=1,
    max_size=40,
)


@SET
@given(rows_strategy)
def test_distinct_on_keeps_first_under_order(spark, rows):
    from dropbox_duckdb_playground_spark.operators.relational import distinct_on

    df = spark.createDataFrame(rows, "k long, a long, b long")
    got = {(r.k, r.a, r.b) for r in distinct_on(df, ["k"]).collect()}
    expect = set()
    for k in {r[0] for r in rows}:
        expect.add(min((r for r in rows if r[0] == k), key=lambda r: (r[1], r[2])))
    assert got == expect


@SET
@given(rows_strategy)
def test_argmax_per_group_matches_sort(spark, rows):
    from dropbox_duckdb_playground_spark.operators.relational import (
        argmax_per_group,
    )

    df = spark.createDataFrame(rows, "k long, score long, b long")
    got = {(r.k, r.score, r.b) for r in argmax_per_group(df, ["k"], "score").collect()}
    expect = set()
    for k in {r[0] for r in rows}:
        grp = [r for r in rows if r[0] == k]
        # score desc, then remaining cols asc (operator default tiebreak)
        expect.add(min(grp, key=lambda r: (-r[1], r[2])))
    assert got == expect


# -- jaccard pairs vs brute force -------------------------------------------

docs_strategy = st.lists(
    st.lists(st.sampled_from(list("abcdefg")), min_size=3, max_size=12),
    min_size=2,
    max_size=8,
)


@SET
@given(docs_strategy)
def test_jaccard_pairs_match_bruteforce(spark, docs):
    from dropbox_duckdb_playground_spark.operators import dedup as D

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.ngram_jaccard_pairs(
        D.shingles(df, n=3, with_size=True), threshold=0.0, exact=True
    ).collect()
    got = {(r.a_id, r.b_id): r.jaccard for r in out}

    def sh(toks):
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    expect = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = sh(docs[i]), sh(docs[j])
            if a & b:
                expect[(i, j)] = round(len(a & b) / len(a | b), 4)
    assert got == expect


@SET
@given(docs_strategy, st.integers(min_value=1, max_value=4))
def test_jaccard_capped_matches_capped_bruteforce(spark, docs, cap):
    """The default (capped) pairing equals brute-force Jaccard over the
    frequency-capped shingle sets: drop shingles held by > cap docs,
    recompute sizes, compare every surviving pair."""
    from dropbox_duckdb_playground_spark.operators import dedup as D

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.ngram_jaccard_pairs(
        D.shingles(df, n=3, with_size=True), threshold=0.0,
        max_shingle_freq=cap,
    ).collect()
    got = {(r.a_id, r.b_id): r.jaccard for r in out}

    def sh(toks):
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    freq: dict[str, int] = {}
    sets = [sh(toks) for toks in docs]
    for s in sets:
        for g in s:
            freq[g] = freq.get(g, 0) + 1
    capped = [{g for g in s if freq[g] <= cap} for s in sets]
    expect = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = capped[i], capped[j]
            if a & b:
                expect[(i, j)] = round(len(a & b) / len(a | b), 4)
    assert got == expect


# -- stable_id engine parity ------------------------------------------------


@SET
@given(st.lists(st.text(min_size=0, max_size=12), min_size=1, max_size=10))
def test_stable_id_deterministic_and_distinct_per_value(spark, vals):
    from dropbox_duckdb_playground_spark.operators.relational import stable_id

    rows = [(v,) for v in vals]
    df = spark.createDataFrame(rows, "s string")
    a = [r[0] for r in df.select(stable_id("s")).collect()]
    b = [r[0] for r in df.select(stable_id("s")).collect()]
    assert a == b  # deterministic across plans
    by_val = {}
    for v, h in zip(vals, a):
        assert by_val.setdefault(v, h) == h  # equal values -> equal ids


@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=0,
        max_size=40,
    )
)
@settings(max_examples=12, deadline=None)
def test_triangle_count_matches_brute_force(spark, edges):
    from itertools import combinations

    from dropbox_duckdb_playground_spark.operators.components import (
        triangle_count,
    )

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({n for e in und for n in e})
    expected = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in und and (b, c) in und and (a, c) in und
    )
    if not und:
        return
    df = spark.createDataFrame(list(und), "src long, dst long")
    got = triangle_count(df).collect()[0]["n_triangles"]
    assert got == expected


money_rows = st.lists(
    st.tuples(
        # 2-dp prices as the testdata carries them (cents / 100.0)
        st.integers(min_value=1, max_value=10_000_000).map(lambda c: c / 100.0),
        # discounts in exact hundredths 0.00-0.10 (TPC-H convention)
        st.integers(min_value=0, max_value=10).map(lambda h: h / 100.0),
    ),
    min_size=1,
    max_size=60,
)


@SET
@given(money_rows)
def test_micro_unit_revenue_equals_decimal(spark, rows):
    """q73's integer-micro-unit money arithmetic is EXACTLY the decimal
    formulation: sum(round(p*100) * (100 - round(d*100))) / 1e4 ==
    sum(decimal(p) * (1 - decimal(d))) for any 2-dp prices and
    hundredth discounts — the whole-stage-codegen long path loses
    nothing vs interpreted BigDecimal."""
    from decimal import Decimal

    df = spark.createDataFrame(rows, ["p", "d"])
    micro = df.select(
        F.sum(
            F.round(F.col("p") * 100).cast("long")
            * (F.lit(100) - F.round(F.col("d") * 100).cast("long"))
        ).alias("s")
    ).collect()[0]["s"]
    expect = sum(
        (Decimal(round(p * 100)) / 100) * (1 - Decimal(round(d * 100)) / 100)
        for p, d in rows
    )
    assert Decimal(micro) / 10_000 == expect


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_money_micro_unit_data_contract(spark, sf):
    """The micro-unit money rewrite (q73 family) rewrote BOTH engines to
    round(p*100) longs in lockstep, so the differential gate can no
    longer catch a deviation from the decimal formulation — correctness
    rests on the data carrying exactly 2-dp prices and hundredth
    discounts/taxes. This pins that contract against the ACTUAL
    generated parquet: if a future generator change ships >2-dp money,
    this fails loudly instead of both engines silently agreeing on a
    rounded answer."""
    from dropbox_duckdb_playground_spark.catalog import load

    li = load(spark, sf, "lineitem")
    bad = li.filter(
        (F.round(F.col("l_extendedprice") * 100) / 100 != F.col("l_extendedprice"))
        | (F.round(F.col("l_discount") * 100) / 100 != F.col("l_discount"))
        | (F.round(F.col("l_tax") * 100) / 100 != F.col("l_tax"))
    ).count()
    assert bad == 0
    o = load(spark, sf, "orders")
    assert (
        o.filter(
            F.round(F.col("o_totalprice") * 100) / 100 != F.col("o_totalprice")
        ).count()
        == 0
    )


docs_strategy = st.lists(
    st.text(alphabet="ab ", min_size=12, max_size=40),
    min_size=2,
    max_size=12,
)


@SET
@given(docs_strategy)
def test_lsh_bucket_cap_is_a_pure_subset(spark, texts):
    """Dropping over-cap LSH buckets can only REMOVE candidate pairs —
    never invent or alter one — and the uncapped run equals cap=inf.
    (The max_shingle_freq jaccard cap intentionally RESCORES, so the
    subset law is the LSH cap's distinguishing guarantee.)"""
    from dropbox_duckdb_playground_spark.operators import dedup as D

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = D.shingles(df, n=2)
    sig = D.minhash_signatures(sh)
    if not sig.take(1):
        return  # all-blank corpus: no signatures, nothing to assert
    full = {
        (r.a_id, r.b_id)
        for r in D.lsh_candidate_pairs(sig).collect()
    }
    capped = {
        (r.a_id, r.b_id)
        for r in D.lsh_candidate_pairs(
            sig, max_bucket_size=2
        ).collect()
    }
    assert capped <= full
    huge_cap = {
        (r.a_id, r.b_id)
        for r in D.lsh_candidate_pairs(
            sig, max_bucket_size=10_000
        ).collect()
    }
    assert huge_cap == full


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=1, max_value=10_000),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=20, deadline=None)
def test_ratio4_expr_is_exact_rational_rounding(spark, pairs):
    """ratio4_expr(p, q) must equal round-half-up of the EXACT rational
    p/q at 4 decimals (computed via Fraction) — including the .00005
    boundary cases where double rounding diverges per engine, which is
    the bug class it exists to remove (observed on the q100 quality
    blend at sf1). Also pins the DuckDB twin `(20000p+q)//(2q)`."""
    from fractions import Fraction

    from dropbox_duckdb_playground_spark.operators.text import ratio4_expr

    # force boundary cases in every run: p/q = x.00005 exactly
    pairs = pairs + [(5, 100000), (15, 100000), (71125, 100000), (1, 20000)]
    df = spark.createDataFrame(pairs, ["p", "q"])
    got = {
        (r.p, r.q): r.r
        for r in df.select("p", "q", ratio4_expr("p", "q").alias("r")).collect()
    }
    import duckdb

    con = duckdb.connect()
    for p, q in pairs:
        exact = Fraction(p, q)
        scaled = exact * 10000
        n, d = scaled.numerator, scaled.denominator
        expect = (2 * n + d) // (2 * d) / 10000  # half-up on the rational
        assert got[(p, q)] == expect, (p, q, got[(p, q)], expect)
        duck = con.execute(
            f"SELECT ((20000 * {p} + {q}) // (2 * {q}))"
            f" / CAST(10000 AS DOUBLE)"
        ).fetchone()[0]
        assert duck == expect, (p, q, duck, expect)
