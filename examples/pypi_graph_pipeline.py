"""End-to-end example: the reference's PyPI graph workload on this engine.

This is the user journey of the reference repo's ``examples/run_whole.py``
(crawl pypi.org JSON -> tabularize -> extract node/link tables -> validate
-> entity-resolve near-duplicate authors -> rewrite ids -> group -> export
typed CSVs for RedisGraph bulk load), re-expressed on the Spark engine.
Run it directly:

    python examples/pypi_graph_pipeline.py [output_dir]

It is self-contained: the package listing and the HTTP "crawl" use an
injected fetcher over a small built-in simple-index page and payload set
(the same seam the tests use), so no network access happens — swap
``fake_pypi_fetcher`` for ``None`` in ``name_listing_table`` and
``fetch_json_table`` to list https://pypi.org/simple/ and crawl the real
https://pypi.org/pypi/<pkg>/json endpoints.  Every stage prints its row
counts so you can follow the dataflow; the result is a directory of
RedisGraph bulk-insert CSVs plus the Parquet stage tables the Engine
materialized, and the last line is the ``redisgraph-bulk-insert``
command that loads the CSVs.

Reference analogs, stage by stage (paths in the reference repo):
  listing        examples/canon/trigger.py   -> sources/listing.name_listing_table
  crawl          examples/canon/crawler.py   -> sources/http.fetch_json_table
  tabularize     examples/canon/tabularize.py-> parse_json_body + explodes
  node/link SQL  examples/graph/subgraph/*   -> DataFrame extraction + stable_id
  validation     examples/metagraph validation -> MetaGraph.validators (V1)
  ER             examples/graph/resolution/* -> er.resolution.resolve_entities
  id conversion  examples/graph/resolution/convertor.py -> er.clustering.convert_ids
  grouping       examples/graph/group/*      -> MetaGraph.group_nodes / group_links
  export         examples/graph/export.py    -> sources/redisgraph.write_*_csv
  bulk load      examples/run_ingest.py      -> sources/listing.bulk_insert_command
"""

from __future__ import annotations

import glob
import json
import os
import shlex
import sys
import tempfile
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark.engine import Engine
from dropbox_duckdb_playground_spark.er.clustering import convert_ids
from dropbox_duckdb_playground_spark.er.resolution import resolve_entities
from dropbox_duckdb_playground_spark.graph.metagraph import MetaGraph
from dropbox_duckdb_playground_spark.operators.relational import stable_id
from dropbox_duckdb_playground_spark.plans.pipeline import run_concurrently
from dropbox_duckdb_playground_spark.session import get_spark
from dropbox_duckdb_playground_spark.sources.http import (
    fetch_json_table,
    parse_json_body,
)
from dropbox_duckdb_playground_spark.sources.listing import (
    bulk_insert_command,
    name_listing_table,
)
from dropbox_duckdb_playground_spark.sources.redisgraph import (
    write_redisgraph_links_csv,
    write_redisgraph_nodes_csv,
)

# A tiny PyPI-shaped corpus. "John Smith" vs "john  smith" is the
# near-duplicate the ER stage resolves into one author entity.
PACKAGES = {
    "alpha": {"name": "alpha", "author": "John Smith", "license": "MIT",
              "requires_dist": ["beta>=1.0", "gamma"]},
    "beta": {"name": "beta", "author": "john  smith", "license": "MIT",
             "requires_dist": ["gamma"]},
    "gamma": {"name": "gamma", "author": "Jane Doe", "license": "BSD",
              "requires_dist": None},
    "delta": {"name": "delta", "author": "Jane Doe", "license": "MIT",
              "requires_dist": ["alpha", "epsilon"]},  # epsilon: dangling
}

INFO_SCHEMA = (
    "name string, author string, license string, requires_dist array<string>"
)


INDEX_URL = "https://pypi.org/simple/"


def fake_pypi_fetcher(url: str, etag: str | None):
    """(status, body, etag) like sources/http.default_fetcher — but
    served from PACKAGES instead of the network: INDEX_URL is a
    simple-index page with one anchor per package, every other url a
    package's JSON payload."""
    if url == INDEX_URL:
        links = "".join(f'<a href="/simple/{p}/">{p}</a>\n' for p in PACKAGES)
        return 200, f"<html><body>\n{links}</body></html>", None
    pkg = url.removesuffix("/json").rsplit("/", 1)[-1]
    if pkg not in PACKAGES:
        return 404, None, None
    return 200, json.dumps({"info": PACKAGES[pkg]}), f'W/"{pkg}-v1"'


def main(out_root: str) -> None:
    spark = get_spark("pypi-graph-example")
    eng = Engine(spark=spark, root=out_root)

    # 1. list + crawl (S8/S7): the simple index names every package;
    #    its url table -> (url, status, body, etag). The fetcher runs
    #    Arrow-batched on executors, so a real crawl parallelizes by
    #    repartitioning the url list.
    names = name_listing_table(spark, INDEX_URL, fetcher=fake_pypi_fetcher)
    print(f"listed: {names.count()} packages")
    urls = names.select(
        F.concat(F.lit("https://pypi.org/pypi/"), "name", F.lit("/json")).alias("url")
    )
    fetched = fetch_json_table(urls, fetcher=fake_pypi_fetcher)
    eng.register("raw_latest", fetched.filter(F.col("status") == 200))
    print(f"crawled: {eng.table('raw_latest').count()} package payloads")

    # 2. tabularize (N1/N3): typed parse + requirement explode
    flat = parse_json_body(
        eng.table("raw_latest"), f"info struct<{INFO_SCHEMA}>"
    ).select("parsed.info.*")
    eng.register("latest_flat", flat)
    requires = (
        flat.select("name", F.explode("requires_dist").alias("spec"))
        .withColumn("req", F.regexp_extract("spec", r"^[A-Za-z0-9_\-]+", 0))
    )
    print(f"tabularized: {flat.count()} packages, {requires.count()} requires edges")

    # 3. node/link extraction with stable ids (F1/F2)
    eng.register("package", flat.select(
        stable_id("name").alias("node_id"), "name", "license"))
    eng.register("author", flat.filter(F.col("author").isNotNull()).select(
        stable_id("author").alias("node_id"),
        F.col("author").alias("name")).distinct())
    eng.register("has_author", flat.select(
        stable_id("name").alias("from_id"), stable_id("author").alias("to_id")))
    eng.register("requires", requires.select(
        stable_id("name").alias("from_id"), stable_id("req").alias("to_id")))

    # 4. referential validation (V1): a requires edge must point at a
    #    known package. 'epsilon' is dangling on purpose — the reference
    #    EXCLUDES such links (exclusion semantics), so filter, then the
    #    validator proves the survivors are clean.
    mg = MetaGraph(triplets={
        "has_author": ("package", "author"),
        "requires": ("package", "package"),
    })
    known = eng.table("package").select(F.col("node_id").alias("to_id"))
    eng.register("requires", eng.table("requires").join(known, "to_id", "semi"))
    # one thread per validator; raises ValidationError if any link dangles
    run_concurrently(spark, [partial(v.run, eng) for v in mg.validators()])
    print(f"validated: {eng.table('requires').count()} requires edges survive")

    # 5. ER (E1-E9): cluster near-duplicate author spellings, then
    #    rewrite author links through the (messy_id -> new_id) mapper.
    mapper = resolve_entities(eng.table("author"), canon=None)
    eng.register("has_author", convert_ids(
        eng.table("has_author"), mapper, ["to_id"]))
    eng.register("author", convert_ids(
        eng.table("author"), mapper, ["node_id"]).groupBy("node_id").agg(
        F.min("name").alias("name")))
    print(f"resolved: {eng.table('author').count()} author entities "
          f"(from {flat.count()} rows)")

    # 6. grouping + export (S10/F10): typed RedisGraph bulk-insert CSVs
    for node in mg.nodes:
        write_redisgraph_nodes_csv(
            mg.group_nodes(eng, node), f"{out_root}/csv/{node}", label=node)
    for link in mg.links:
        write_redisgraph_links_csv(
            mg.group_links(eng, link), f"{out_root}/csv/{link}")
    # persist the stage tables like the reference's storage layer
    run_concurrently(spark, [partial(eng.save, obj_id) for obj_id in
                             ("package", "author", "has_author", "requires")])
    print(f"exported: RedisGraph CSVs + Parquet stages under {out_root}")

    # 7. bulk-load trigger (S11): one -n/-r flag per exported CSV
    def part(name: str) -> str:
        return glob.glob(f"{out_root}/csv/{name}/part-*.csv")[0]

    cmd = bulk_insert_command(
        "pypi", {n: part(n) for n in mg.nodes}, {ln: part(ln) for ln in mg.links}
    )
    print(f"bulk load: {shlex.join(cmd)}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="pypi_graph_"))
