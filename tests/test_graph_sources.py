"""MetaGraph grouping/validators + sinks + HTTP source dataflow."""

from __future__ import annotations

import glob
import json

import pytest
from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark.engine import Engine
from dropbox_duckdb_playground_spark.graph.metagraph import MetaGraph
from dropbox_duckdb_playground_spark.plans.pipeline import ValidationError
from dropbox_duckdb_playground_spark.sources.http import fetch_json_table, parse_json_body
from dropbox_duckdb_playground_spark.sources.redisgraph import (
    redisgraph_link_header,
    redisgraph_node_header,
    write_redisgraph_nodes_csv,
)


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark=spark, root=str(tmp_path))


def test_metagraph_group_nodes_coalesces_sources(spark, engine):
    """Reference grouping (examples/graph/group/meta.py:9-37): union of id
    populations, properties coalesced across subgraph tables."""
    engine.register(
        "pkg_a", spark.createDataFrame([(1, "x"), (2, "y")], ["node_id", "name"])
    )
    engine.register(
        "pkg_b", spark.createDataFrame([(2, "Y2"), (3, "z")], ["node_id", "name"])
    )
    mg = MetaGraph(triplets={}, node_grouping={"pkg": ["pkg_a", "pkg_b"]})
    got = {r.node_id: r.name for r in mg.group_nodes(engine, "pkg").collect()}
    assert got == {1: "x", 2: "y", 3: "z"}  # first source wins on overlap


def test_metagraph_group_links_two_key(spark, engine):
    engine.register(
        "l_a", spark.createDataFrame([(1, 2, "t1")], ["from_id", "to_id", "kind"])
    )
    engine.register(
        "l_b", spark.createDataFrame([(1, 2, "t2"), (3, 4, "t3")], ["from_id", "to_id", "kind"])
    )
    mg = MetaGraph(triplets={}, link_grouping={"l": ["l_a", "l_b"]})
    got = {(r.from_id, r.to_id): r.kind for r in mg.group_links(engine, "l").collect()}
    assert got == {(1, 2): "t1", (3, 4): "t3"}


def test_metagraph_validators_fire(spark, engine):
    mg = MetaGraph(triplets={"has_x": ("pkg", "x")})
    engine.register("pkg", spark.createDataFrame([(1,)], ["node_id"]))
    engine.register("x", spark.createDataFrame([(9,)], ["node_id"]))
    engine.register("has_x", spark.createDataFrame([(1, 8)], ["from_id", "to_id"]))
    validators = mg.validators()
    assert len(validators) == 2
    validators[0].run(engine)  # from_id=1 ⊆ pkg ok
    with pytest.raises(ValidationError):
        validators[1].run(engine)  # to_id=8 ∉ x


def test_redisgraph_headers(spark):
    nodes = spark.createDataFrame([(1, "a", 2.5)], ["node_id", "name", "score"])
    hdr = redisgraph_node_header(nodes, "package").columns
    assert hdr == [":ID(package)", "name:STRING", "score:FLOAT"]
    links = spark.createDataFrame([(1, 2, 3)], ["from_id", "to_id", "weight"])
    hdr2 = redisgraph_link_header(links).columns
    assert hdr2 == [":START_ID", ":END_ID", "weight:LONG"]


def test_redisgraph_csv_roundtrip(spark, tmp_path):
    nodes = spark.createDataFrame([(1, "a,b")], ["node_id", "name"])
    out = str(tmp_path / "nodes_csv")
    write_redisgraph_nodes_csv(nodes, out, "pkg")
    files = glob.glob(out + "/part-*.csv")
    assert len(files) == 1  # one file per label for the bulk loader
    text = open(files[0]).read()
    assert '":ID(pkg)","name:STRING"' in text.replace("\r", "")
    assert '"a,b"' in text  # quoting preserves embedded comma


def test_http_fetch_with_fake_and_etag(spark):
    """S7/S9 semantics: 404 skipped (status recorded), 304 keeps body NULL."""
    def fake(url, etag):
        if url.endswith("/gone"):
            return 404, None, None
        if etag == "tag-1":
            return 304, None, etag
        return 200, json.dumps({"info": {"name": url.split("/")[-1]}}), "tag-9"

    urls = spark.createDataFrame(
        [("http://x/pkg1", None), ("http://x/pkg2", "tag-1"), ("http://x/gone", None)],
        ["url", "etag"],
    )
    fetched = fetch_json_table(urls, fetcher=fake, etag_col="etag").collect()
    by_url = {r.url: r for r in fetched}
    assert by_url["http://x/pkg1"].status == 200
    assert by_url["http://x/pkg2"].status == 304
    assert by_url["http://x/pkg2"].body is None
    assert by_url["http://x/gone"].status == 404

    parsed = parse_json_body(
        spark.createDataFrame(fetched), "struct<info:struct<name:string>>"
    )
    names = {r.parsed.info.name for r in parsed.collect()}
    assert names == {"pkg1"}
