"""End-to-end flagship workload — the reference's `GraphConstructor`
(examples/run_whole.py:51-56) shape on the Spark engine.

One pipeline run: raw JSON payloads → nested flatten (N1-N4) → node/link
extraction with stable ids (F1/F2) → referential validation (V1) →
entity resolution over near-duplicate author spellings (E1-E9) → id
conversion → cross-subgraph grouping (J1/U1/F3) → typed-CSV export for
RedisGraph bulk load (S10). Asserts at every stage boundary.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from dropbox_duckdb_playground_spark.engine import Engine
from dropbox_duckdb_playground_spark.er.clustering import convert_ids
from dropbox_duckdb_playground_spark.er.resolution import resolve_entities
from dropbox_duckdb_playground_spark.graph.metagraph import MetaGraph
from dropbox_duckdb_playground_spark.operators.relational import stable_id
from dropbox_duckdb_playground_spark.plans.pipeline import ValidationError
from dropbox_duckdb_playground_spark.sources.redisgraph import (
    write_redisgraph_links_csv,
    write_redisgraph_nodes_csv,
)

PAYLOADS = [
    {"name": "alpha", "author": "John Smith", "license": "MIT",
     "requires_dist": ["beta>=1.0", "gamma"], "project_urls": {"Home": "http://a"}},
    {"name": "beta", "author": "john smith", "license": "MIT",
     "requires_dist": ["gamma"], "project_urls": {}},
    {"name": "gamma", "author": "Jane Doe", "license": "BSD",
     "requires_dist": None, "project_urls": {"Docs": "http://g/docs"}},
    {"name": "delta", "author": "Jane Doe", "license": "MIT",
     "requires_dist": ["alpha"], "project_urls": None},
]

INFO_SCHEMA = StructType([
    StructField("name", StringType()),
    StructField("author", StringType()),
    StructField("license", StringType()),
    StructField("requires_dist", ArrayType(StringType())),
    StructField("project_urls", MapType(StringType(), StringType())),
])


@pytest.fixture()
def engine(spark, tmp_path):
    eng = Engine(spark=spark, root=str(tmp_path))
    raw = spark.createDataFrame(
        [(p["name"], json.dumps(p)) for p in PAYLOADS], ["pkg", "latest"]
    )
    eng.register("raw_latest", raw)
    return eng


def test_flagship_pipeline(spark, engine, tmp_path):
    # -- N1/N2: nested projection to flat columns ------------------------
    flat = engine.table("raw_latest").select(
        "pkg", F.from_json("latest", INFO_SCHEMA).alias("info")
    ).select("pkg", "info.author", "info.license", "info.requires_dist",
             "info.project_urls")
    engine.register("latest_flat", flat)

    # -- N3/N4: explode array + map fields -------------------------------
    requires = flat.select(
        "pkg", F.explode("requires_dist").alias("req_spec")
    ).withColumn("req", F.regexp_extract("req_spec", r"^[A-Za-z0-9_\-]+", 0))
    urls = flat.select(
        "pkg", F.explode("project_urls").alias("url_type", "url")
    )
    assert requires.count() == 4  # None array -> no rows
    assert urls.count() == 2  # empty/None map -> no rows

    # -- node/link extraction with stable ids (F1/F2) --------------------
    pkg_nodes = flat.select(
        stable_id("pkg").alias("node_id"), F.col("pkg").alias("name"),
        F.col("license"),
    )
    author_nodes = flat.filter(F.col("author").isNotNull()).select(
        stable_id("author").alias("node_id"), F.col("author").alias("name"),
    ).distinct()
    has_author = flat.select(
        stable_id("pkg").alias("from_id"), stable_id("author").alias("to_id"),
    )
    requires_links = requires.select(
        stable_id("pkg").alias("from_id"), stable_id("req").alias("to_id"),
    )
    engine.register("package", pkg_nodes)
    engine.register("author", author_nodes)
    engine.register("has_author", has_author)
    engine.register("requires", requires_links)

    # -- V1 validation: requires targets must be known packages ----------
    mg = MetaGraph(
        triplets={"has_author": ("package", "author"),
                  "requires": ("package", "package")},
    )
    validators = {v.input_ids[0]: v for v in mg.validators()}
    validators["has_author"].run(engine)  # passes
    # 'requires' has no dangling targets either (all reqs are packages)
    validators["requires"].run(engine)
    # now break it and expect the validator to fire
    engine.register(
        "requires",
        requires_links.union(
            spark.createDataFrame([(1, -999)], ["from_id", "to_id"])
        ),
    )
    with pytest.raises(ValidationError, match="missing"):
        validators["requires"].run(engine)
    engine.register("requires", requires_links)

    # -- E1-E8: resolve near-duplicate author spellings ------------------
    mapper = resolve_entities(author_nodes, canon=None)
    # John Smith / john smith must map to ONE cluster id
    smiths = author_nodes.filter(F.lower("name").contains("smith")).select(
        "node_id"
    ).join(mapper, mapper.messy_id == F.col("node_id"))
    assert smiths.select("new_id").distinct().count() == 1

    # -- E9: rewrite author ids through the mapper ------------------------
    author_q = convert_ids(author_nodes, mapper, ["node_id"]).dropDuplicates(
        ["node_id"]
    )
    has_author_q = convert_ids(has_author, mapper, ["to_id"])
    assert author_q.count() == 2  # two real people
    # every link target resolves to a surviving author node
    dangling = has_author_q.join(
        author_q, has_author_q.to_id == author_q.node_id, "left_anti"
    )
    assert dangling.count() == 0

    # -- J1/U1 grouping: package properties from two subgraph sources ----
    engine.register("pkg_a", pkg_nodes.select("node_id", "name"))
    engine.register("pkg_b", pkg_nodes.select("node_id", "license"))
    grouped = MetaGraph(
        triplets={"requires": ("package", "package")},
        node_grouping={"package": ["pkg_a", "pkg_b"]},
    ).group_nodes(engine, "package")
    assert set(grouped.columns) == {"node_id", "name", "license"}
    assert grouped.count() == 4

    # -- S10: typed-CSV export --------------------------------------------
    ndir, ldir = str(tmp_path / "nodes"), str(tmp_path / "links")
    write_redisgraph_nodes_csv(author_q, ndir, label="author")
    write_redisgraph_links_csv(has_author_q, ldir)
    back = spark.read.option("header", True).csv(ndir)
    assert ":ID(author)" in back.columns and "name:STRING" in back.columns
    lback = spark.read.option("header", True).csv(ldir)
    assert ":START_ID" in lback.columns and ":END_ID" in lback.columns


def test_example_script_end_to_end(spark, tmp_path, capsys):
    """examples/pypi_graph_pipeline.py runs the whole reference journey
    (list -> crawl -> tabularize -> validate -> ER -> group -> export ->
    bulk-load command) and its outputs are well-formed: every listed
    package crawled, author near-duplicates merged, RedisGraph CSVs
    typed, Parquet stages written, every CSV in the printed argv."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "pypi_graph_pipeline",
        os.path.join(os.path.dirname(__file__), "..", "examples",
                     "pypi_graph_pipeline.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = str(tmp_path / "graph_out")
    mod.main(out)
    printed = capsys.readouterr().out.splitlines()

    import glob
    import shlex

    assert "listed: 4 packages" in printed
    assert "crawled: 4 package payloads" in printed
    argv = shlex.split(printed[-1].removeprefix("bulk load: "))
    assert argv[:2] == ["redisgraph-bulk-insert", "pypi"]
    flagged = {(argv[i], argv[i + 1]) for i in range(2, len(argv) - 1)}
    for flag, names in (("-n", ("package", "author")),
                        ("-r", ("has_author", "requires"))):
        for name in names:
            (csv,) = glob.glob(f"{out}/csv/{name}/part*.csv")
            assert (flag, csv) in flagged, (flag, csv, argv)

    author_csv = glob.glob(f"{out}/csv/author/part*.csv")[0]
    lines = open(author_csv).read().strip().splitlines()
    assert lines[0] == '":ID(author)","name:STRING"'
    assert len(lines) == 3  # header + 2 resolved author entities
    req_csv = glob.glob(f"{out}/csv/requires/part*.csv")[0]
    assert len(open(req_csv).read().strip().splitlines()) == 5  # header + 4
    assert os.path.isdir(f"{out}/package.parquet") or glob.glob(
        f"{out}/**/package*", recursive=True
    )


def test_training_data_example_end_to_end(spark):
    """examples/training_data_pipeline.py: the curation funnel drops the
    exact dup, the near dup, the contaminated doc, and the low-quality
    doc from the built-in corpus, in that stage order."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "training_data_pipeline",
        os.path.join(os.path.dirname(__file__), "..", "examples",
                     "training_data_pipeline.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.main(None)  # prints the funnel; any stage error fails the test
