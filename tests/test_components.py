"""Connected components: chains, triangles, isolated edges, singletons
(the FIXTURES.md A7 pair-graph shapes)."""

from __future__ import annotations

from dropbox_duckdb_playground_spark.operators.components import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = connected_components(df).collect()
    clusters = {}
    for r in out:
        clusters.setdefault(r.cluster_id, set()).add(r.node_id)
    return set(frozenset(s) for s in clusters.values())


def test_chain(spark):
    assert _cc(spark, [(1, 2), (2, 3), (3, 4)]) == {frozenset({1, 2, 3, 4})}


def test_triangle_plus_isolated_edge(spark):
    got = _cc(spark, [(1, 2), (2, 3), (3, 1), (10, 11)])
    assert got == {frozenset({1, 2, 3}), frozenset({10, 11})}


def test_direction_ignored(spark):
    got = _cc(spark, [(5, 1), (1, 9), (9, 5), (7, 7)])
    assert got == {frozenset({1, 5, 9}), frozenset({7})}


def test_two_long_chains(spark):
    e = [(i, i + 1) for i in range(0, 20)] + [(i, i + 1) for i in range(100, 115)]
    got = _cc(spark, e)
    assert got == {frozenset(range(0, 21)), frozenset(range(100, 116))}


def test_components_random_graph_matches_local_union_find(spark):
    """Differential on a seeded random graph: the distributed solver's
    labels must induce exactly the partition a local union-find finds."""
    import random

    from dropbox_duckdb_playground_spark.operators.components import (
        connected_components,
    )

    rng = random.Random(20260813)
    n, m = 300, 220
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    expected_groups = {}
    for v in {x for e in edges for x in e}:
        expected_groups.setdefault(find(v), set()).add(v)

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = connected_components(df).collect()
    got_groups = {}
    for r in got:
        got_groups.setdefault(r.cluster_id, set()).add(r.node_id)

    assert sorted(map(sorted, got_groups.values())) == sorted(
        map(sorted, expected_groups.values())
    )
    # min-label convention: every cluster id is its own smallest member
    for cid, members in got_groups.items():
        assert cid == min(members)


def test_triangle_count_known_graph(spark):
    from dropbox_duckdb_playground_spark.operators.components import triangle_count

    # K4 on {1,2,3,4} has 4 triangles; pendant edge (4,5) adds none;
    # duplicate + reversed edges must not double-count
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (2, 1), (3, 1),  # reversed dupes
        (4, 5),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    assert triangle_count(df).collect()[0]["n_triangles"] == 4


def test_triangle_count_no_triangles(spark):
    from dropbox_duckdb_playground_spark.operators.components import triangle_count

    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    assert triangle_count(df).collect()[0]["n_triangles"] == 0


def _random_edges(seed: int, n: int, m: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


def test_components_forced_regimes_match_default(spark, monkeypatch):
    """The contraction levels and the star rounds only run past
    RESIDUAL_THRESHOLD (2M raw edges); forced on a small graph spread
    over several batches, each labels every node as the default
    single-task solve does."""
    from dropbox_duckdb_playground_spark.operators import components

    df = spark.createDataFrame(_random_edges(11, 200, 180), ["src", "dst"]).repartition(4)

    def labels():
        return sorted((r.node_id, r.cluster_id) for r in connected_components(df).collect())

    default = labels()
    assert len({c for _, c in default}) > 1
    monkeypatch.setattr(components, "RESIDUAL_THRESHOLD", 10)
    assert labels() == default  # contraction levels, then single-task solve
    monkeypatch.setattr(components, "MAX_LEVELS", 0)
    assert labels() == default  # star rounds only


def test_triangle_count_shuffle_regime_matches_broadcast(spark, monkeypatch):
    """The wedge-join regime only runs past BROADCAST_EDGE_LIMIT (4M
    edges); forced on a small graph it counts what the broadcast regime
    counts."""
    from dropbox_duckdb_playground_spark.operators import components
    from dropbox_duckdb_playground_spark.operators.components import triangle_count

    df = spark.createDataFrame(_random_edges(5, 40, 200), "src long, dst long")
    default = triangle_count(df).collect()[0]["n_triangles"]
    assert default > 0
    monkeypatch.setattr(components, "BROADCAST_EDGE_LIMIT", 0)
    assert triangle_count(df).collect()[0]["n_triangles"] == default
