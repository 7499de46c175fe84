"""Entity-resolution dataflow tests (block → pair → score → cluster →
convert) on controlled name data."""

from __future__ import annotations

from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark.er.blocking import block_table, candidate_pairs
from dropbox_duckdb_playground_spark.er.clustering import (
    cluster_pairs,
    combine_mappings,
    convert_ids,
)
from dropbox_duckdb_playground_spark.er.features import engineer_features
from dropbox_duckdb_playground_spark.er.resolution import (
    dedup_messy,
    match_to_canon,
    resolve_entities,
)
from dropbox_duckdb_playground_spark.er.scoring import (
    expression_scorer,
    select_matches,
)


def _nodes(spark, rows):
    return spark.createDataFrame(rows, ["node_id", "name"])


def test_features_prefix_extraction(spark):
    df = _nodes(spark, [(1, "Requests (>=2.0)")])
    r = engineer_features(df).collect()[0]
    assert r.full_name == "requests (>=2.0)"
    assert r.before_whitespace == "requests"
    assert r.before_marks == "requests"


def test_blocking_groups_shared_prefix(spark):
    feats = engineer_features(
        _nodes(spark, [(1, "numpy"), (2, "numpy (>=1.0)"), (3, "pandas")])
    )
    blocks = block_table(feats, ["before_whitespace"])
    pairs = candidate_pairs(blocks, feats)
    got = {(r.a_id, r.b_id) for r in pairs.select("a_id", "b_id").collect()}
    assert (1, 2) in got
    assert all((3 not in p) for p in got)


def test_singleton_blocks_yield_no_pairs(spark):
    feats = engineer_features(_nodes(spark, [(1, "aaa"), (2, "zzz")]))
    blocks = block_table(feats, ["full_name"])
    assert candidate_pairs(blocks, feats).count() == 0


def test_scoring_identical_beats_different(spark):
    feats = engineer_features(
        _nodes(spark, [(1, "requests"), (2, "requests"), (3, "rrrqqq")])
    )
    pairs = candidate_pairs(block_table(feats, ["before_whitespace"]), feats)
    scored = expression_scorer(["full_name"])(pairs)
    smap = {(r.a_id, r.b_id): r.score for r in scored.collect()}
    assert smap[(1, 2)] > 0.8


def test_select_matches_threshold_and_dedup(spark):
    scored = spark.createDataFrame(
        [(1, 2, 0.9), (1, 2, 0.7), (3, 4, 0.1)], ["a_id", "b_id", "score"]
    )
    got = select_matches(scored, threshold=0.5).collect()
    assert [(r.from_id, r.to_id, r.score) for r in got] == [(1, 2, 0.9)]


def test_cluster_pairs_transitive(spark):
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8), (10, 11, 0.9)], ["from_id", "to_id", "score"]
    )
    cl = cluster_pairs(pairs).collect()
    cid = {r.messy_id: r.cluster_id for r in cl}
    assert cid[1] == cid[2] == cid[3]
    assert cid[10] == cid[11] != cid[1]


def test_match_to_canon_argmax(spark):
    messy = engineer_features(_nodes(spark, [(100, "Numpy"), (101, "nomatchxyz")]))
    canon = engineer_features(_nodes(spark, [(1, "numpy"), (2, "pandas")]))
    m = match_to_canon(messy, canon, ["full_name"])
    got = {r.messy_id: r.canon_id for r in m.collect()}
    assert got.get(100) == 1
    assert 101 not in got


def test_resolve_then_convert_ids(spark):
    """Full loop: resolve duplicates, rewrite a link table through the
    mapper (E9), unmatched ids pass through."""
    messy = _nodes(spark, [(1, "scikit-learn"), (2, "scikit-learn"), (3, "zzz")])
    mapper = resolve_entities(messy, canon=None)
    links = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 7)], ["from_id", "to_id"]
    )
    out = convert_ids(links, mapper, ["from_id"]).collect()
    by_from = [r.from_id for r in out]
    # 1 and 2 now share a cluster id; 3 kept some id (cluster or original)
    assert by_from[0] == by_from[1]
    assert len(set(by_from)) == 2
    # to_id untouched
    assert all(r.to_id == 7 for r in out)


def test_combine_mappings_first_wins(spark):
    a = spark.createDataFrame([(1, 100)], ["messy_id", "new_id"])
    b = spark.createDataFrame([(1, 200), (2, 300)], ["messy_id", "new_id"])
    got = {r.messy_id: r.new_id for r in combine_mappings([a, b]).collect()}
    assert got == {1: 100, 2: 300}


def test_combine_mappings_priority_deterministic_on_overlap(spark):
    """Direct callers with overlapping mappers: earlier mapper must win
    regardless of union physical order (ADVICE r1)."""
    a = spark.createDataFrame([(1, 111), (5, 555)], ["messy_id", "new_id"])
    b = spark.createDataFrame([(1, 999), (2, 222)], ["messy_id", "new_id"])
    for mappers, want1 in [([a, b], 111), ([b, a], 999)]:
        got = {r.messy_id: r.new_id for r in combine_mappings(mappers).collect()}
        assert got[1] == want1 and got[2] == 222 and got[5] == 555


def test_resolved_mapper_is_computed_once(spark, tmp_path, jobs_in_group):
    """Two id conversions of one resolved mapper, each saved, run the
    single-task union-find (its ``FlatMapGroupsInPandas``) in one SQL
    execution: the mapper is materialized, not recomputed per consumer.
    The job total is bounded too."""
    from dropbox_duckdb_playground_spark.engine import Engine

    names = ["John Smith", "john  smith", "Jane Doe", "jane doe", "Bob",
             "Alice Liddell", "alice liddell"]
    eng = Engine(spark=spark, root=str(tmp_path))
    eng.register("author", _nodes(spark, list(enumerate(names))))
    eng.register("has_author", spark.createDataFrame(
        [(100 + i, i) for i in range(len(names))], ["from_id", "to_id"]))

    def resolve_and_save():
        mapper = resolve_entities(eng.table("author"), canon=None)
        eng.register("has_author", convert_ids(eng.table("has_author"), mapper, ["to_id"]))
        eng.register("author", convert_ids(eng.table("author"), mapper, ["node_id"])
                     .groupBy("node_id").agg(F.min("name").alias("name")))
        eng.save("author")
        eng.save("has_author")

    store = spark._jsparkSession.sharedState().statusStore()

    def executions() -> dict:
        found = store.executionsList()
        return {e.executionId(): e for e in (found.apply(i) for i in range(found.size()))}

    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    before = executions().keys()
    n_jobs = jobs_in_group("resolve_twice", resolve_and_save)
    union_finds = sum(
        1 for i, e in executions().items()
        if i not in before and "FlatMapGroupsInPandas" in e.physicalPlanDescription()
    )
    assert union_finds == 1
    # 21 in a fresh session, 22 after the rest of the suite; 26 at the parent
    assert n_jobs <= 22
    assert eng.table("author").count() == 4
    assert eng.table("has_author").select("to_id").distinct().count() == 4
