"""Similarity search: brute-force correctness, LSH plumbing, and the
quantizers' cross-engine parity."""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark.operators.similarity import (
    cosine_topk,
    hyperplane_signature,
    hyperplane_weights,
    lsh_ann_topk,
)


def _emb(spark, rows):
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_exact(spark):
    df = _emb(
        spark,
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.01]),   # nearly parallel to 0
            (2, [0.0, 1.0]),    # orthogonal
            (3, [-1.0, 0.0]),   # opposite
        ],
    )
    out = cosine_topk(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    order = [r.cand_id for r in sorted(out, key=lambda r: -r.cosine)]
    assert order == [1, 2, 3]
    top = [r for r in out if r.cand_id == 1][0]
    assert top.cosine > 0.999


def test_hyperplane_weights_deterministic():
    w1 = hyperplane_weights(8, 4)
    w2 = hyperplane_weights(8, 4)
    assert w1 == w2
    assert all(v in (1.0, -1.0) for row in w1 for v in row)


def test_lsh_ann_finds_identical_vector(spark):
    rows = [(i, [float((i * 7 + d) % 5) - 2.0 for d in range(8)]) for i in range(20)]
    rows.append((100, rows[0][1]))  # exact duplicate of vec 0
    df = _emb(spark, rows)
    out = lsh_ann_topk(df, df.filter(F.col("vec_id") == 100), dim=8, k=3)
    got = {r.cand_id: r.cosine for r in out.collect()}
    assert 0 in got and got[0] == 1.0


def test_cosine_neardup_pairs_finds_duplicate(spark):
    from dropbox_duckdb_playground_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    base = [float((i * 37) % 11 - 5) for i in range(8)]
    near = list(base)
    near[0] += 0.01
    far = [float(((i + 3) * 53) % 13 - 6) for i in range(8)]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "vec_id int, embedding array<float>"
    )
    got = cosine_neardup_pairs(df, threshold=0.99, dim=8, planes=4).collect()
    assert [(r["a_id"], r["b_id"]) for r in got] == [(1, 2)]


def test_ivf_ann_recall_vs_brute_force(spark):
    from dropbox_duckdb_playground_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk,
    )

    # two well-separated clusters of vectors
    rows = []
    for i in range(40):
        c = i % 2
        vec = [
            float(10 * (1 - c) + ((i * 7 + d * 3) % 5) * 0.1)
            if d < 4
            else float(10 * c + ((i * 11 + d) % 5) * 0.1)
            for d in range(8)
        ]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    q = df.filter(F.col("vec_id") < 4)
    exact = cosine_topk(df, q, k=3)
    approx = ivf_ann_topk(df, q, k=3, nlist=2, nprobe=1, seed=7)
    e = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["cand_id"]) for r in approx.collect()}
    # probing the single nearest of 2 clean clusters must recover most
    # exact neighbors
    assert len(a & e) / len(e) >= 0.8


def test_semantic_dedup_drops_only_within_cluster(spark):
    from dropbox_duckdb_playground_spark.operators.similarity import semantic_dedup

    # cluster A: three near-identical vectors (ids 1,2,3) -> keep min id
    # cluster B: one lone orthogonal-ish vector (id 9) -> survives
    a = [1.0, 0.0, 0.0, 0.0]
    a2 = [1.0, 0.02, 0.0, 0.0]
    a3 = [0.99, 0.0, 0.01, 0.0]
    b = [0.0, 0.0, 1.0, 0.0]
    df = spark.createDataFrame(
        [(1, a), (2, a2), (3, a3), (9, b)], "vec_id int, embedding array<float>"
    )
    out = semantic_dedup(df, threshold=0.99, nlist=2, seed=7).collect()
    got = {r["vec_id"]: r["survived"] for r in out}
    assert got == {1: 1, 2: 0, 3: 0, 9: 1}
    # survivors keep their cluster assignment
    lists = {r["vec_id"]: r["list_id"] for r in out}
    assert lists[1] == lists[2] == lists[3]
    assert lists[9] != lists[1]


def test_semantic_dedup_min_id_is_the_representative(spark):
    from dropbox_duckdb_playground_spark.operators.similarity import semantic_dedup

    # all four near-identical -> exactly one survivor: the smallest id
    base = [3.0, 1.0, -2.0, 0.5]
    rows = [(i, [v + i * 1e-4 for v in base]) for i in (5, 11, 2, 8)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = semantic_dedup(df, threshold=0.999, nlist=1, seed=1).collect()
    survivors = sorted(r["vec_id"] for r in out if r["survived"] == 1)
    assert survivors == [2]


def test_pq_ann_recall_vs_brute_force(spark):
    from dropbox_duckdb_playground_spark.operators.similarity import (
        cosine_topk,
        pq_ann_topk,
    )

    # two well-separated clusters (same family as the IVF test): PQ's
    # asymmetric-distance top-k must recover most exact neighbors
    rows = []
    for i in range(40):
        c = i % 2
        vec = [
            float(10 * (1 - c) + ((i * 7 + d * 3) % 5) * 0.1)
            if d < 4
            else float(10 * c + ((i * 11 + d) % 5) * 0.1)
            for d in range(8)
        ]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    q = df.filter(F.col("vec_id") < 4)
    exact = cosine_topk(df, q, k=3)
    approx = pq_ann_topk(df, q, k=3, m=4, ksub=8, dim=8, seed=7)
    e = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["cand_id"]) for r in approx.collect()}
    assert len(a & e) / len(e) >= 0.6  # ADC ranks by squared distance, exact by cosine


def test_pq_assign_codes_cover_all_subspaces(spark):
    from dropbox_duckdb_playground_spark.operators.similarity import pq_assign

    rows = [(i, [float((i * 7 + d) % 5) for d in range(8)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    codes, book = pq_assign(df, m=4, ksub=4, dim=8, seed=3)
    got = codes.groupBy("cand_id").count().collect()
    assert all(r["count"] == 4 for r in got) and len(got) == 20
    assert book.count() == 16


def test_ivf_assign_schema_and_counts(spark):
    """One assigned row per input row, in the (cand_id, c_vec, list_id)
    schema the IVF probe and SemDeDup read, and one row per centroid.
    Two rows with one id and different vectors are both assigned, each
    to its own nearest centroid."""
    from dropbox_duckdb_playground_spark.operators.similarity import (
        ivf_assign,
        nearest_centroid,
    )

    rows = [(i, [float((i * 3 + d) % 7) for d in range(8)]) for i in range(30)]
    rows.append((5, [float(d % 2) for d in range(8)]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    assigned, cent = ivf_assign(df, nlist=4)
    assert assigned.count() == 31
    assert [f.name for f in assigned.schema.fields] == [
        "cand_id", "c_vec", "list_id",
    ]
    assert cent.count() == 4
    C = np.array([r["centroid"] for r in cent.orderBy("list_id").collect()])
    dup = [v for i, v in rows if i == 5]
    want = sorted(zip(map(tuple, dup), nearest_centroid(np.array(dup), C, True).tolist()))
    got = sorted(
        (tuple(r["c_vec"]), r["list_id"])
        for r in assigned.filter(F.col("cand_id") == 5).collect()
    )
    assert got == want


def _sample_order(ids, seed):
    """``hash_sample``'s row order: md5('<seed>:' || id), then id."""
    return sorted(ids, key=lambda i: (hashlib.md5(f"{seed}:{i}".encode()).hexdigest(), i))


@pytest.mark.parametrize("spherical", [True, False], ids=["ivf", "pq"])
def test_kmeans_trainer_matches_sql_generator_bit_for_bit(spherical):
    """The driver trainer and the catalog's SQL generator give the same
    centroid bits and the same assignments on an input that holds a
    zero-norm vector and a distance tie against the initial centroids
    (the first two rows in sample order). No Spark session."""
    from dropbox_duckdb_playground_spark.catalog import _kmeans_oracle
    from dropbox_duckdb_playground_spark.operators.similarity import (
        kmeans_train,
        nearest_centroid,
    )

    seed, k = 42, 2
    if spherical:
        m, dsub, zero = 1, 3, 0
        # the zero row is sampled first and left out, so the init is
        # [1,0,0] and [0,1,0] after scaling; [1,1,0] scores 1/sqrt(2)
        # against both
        vecs = [
            [0.0, 0.0, 0.0], [2.0, 0.0, 0.0], [0.0, 1.0, 0.0],
            [1.0, 1.0, 0.0], [3.0, 0.5, 0.25], [0.25, 2.0, 0.5],
            [0.5, 0.1, 1.0], [0.3, 0.75, 1.5],
        ]
    else:
        m, dsub, zero = 2, 2, 3
        # subspace 0 starts at [0,0] and [2,0]; [1,0] is 1 from both
        vecs = [
            [0.0, 0.0, 1.0, 1.0], [2.0, 0.0, -1.0, 0.5], [1.0, 0.0, 0.0, 0.0],
            [0.0, 0.0, 0.0, 0.0], [2.5, 0.3, 3.0, -2.0], [-0.5, 0.5, 0.1, 0.7],
            [1.7, -0.25, -1.5, 1.0], [0.1, 0.125, 2.0, 2.0],
        ]
    ids = _sample_order(range(len(vecs)), seed)  # ids[r] samples r-th
    # the table stores FLOAT[]: train on the float32 values it holds
    X = np.asarray(vecs, dtype=np.float32).astype(np.float64)
    C = [kmeans_train(X[:, s * dsub:(s + 1) * dsub], k, spherical) for s in range(m)]
    corpus = np.empty_like(X)
    corpus[ids] = X  # corpus row = vec_id
    want_assign = {
        (i, s): int(a)
        for s in range(m)
        for i, a in enumerate(
            nearest_centroid(corpus[:, s * dsub:(s + 1) * dsub], C[s], spherical)
        )
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    con.executemany(
        "INSERT INTO embeddings VALUES (?, ?)",
        [(i, v) for i, v in zip(ids, vecs)],
    )
    sql = _kmeans_oracle(k, m=m, dsub=dsub, spherical=spherical, seed=seed)
    cent = con.execute(sql + " SELECT sub, list_id, centroid FROM cent").fetchall()
    got_c = [np.zeros_like(c) for c in C]
    for sub, list_id, centroid in cent:
        got_c[sub][list_id] = centroid
    assert len(cent) == m * k
    for s in range(m):
        assert got_c[s].tobytes() == C[s].tobytes()
    got_assign = dict(
        ((i, s), a)
        for i, s, a in con.execute(sql + " SELECT cand_id, sub, list_id FROM assign").fetchall()
    )
    assert got_assign == want_assign
    if spherical:
        # the zero vector scores 0 against every list: the tie goes to 0
        assert got_assign[(ids[zero], 0)] == 0


@pytest.mark.parametrize("name", ["q62_ivf_ann", "q79_semantic_dedup", "q107_pq_ann"])
def test_quantizer_oracle_survives_a_build_at_another_scale(spark, sf_dir, name):
    """Building a quantizer query at a second scale factor must not
    change what the first scale factor's oracle computes: nothing the
    oracle reads is shared between runs."""
    other = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not (os.path.isdir(sf_dir) and os.path.isdir(other)):
        pytest.skip("testdata absent")
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import __spark_entry__ as entrymod
    from check import frame_digest

    fn = entrymod.queries()[name]
    first = frame_digest(fn(spark, sf_dir).toPandas())
    fn(spark, other).toPandas()

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    assert frame_digest(con.execute(entrymod.oracle_sql()[name]).df()) == first
