"""The benchmark's workloads.

A workload generates its inputs from the seed (``prepare``), registers
them with a session (``register``), runs one untimed pass whose outputs it
checks (``checked_pass``) and hands out the ops of one pass
(``pass_ops``). Ops run in a closed loop: each starts when the previous
one has finished. ``layer_counters`` holds per-layer counts measured in
the checked pass, when asked for.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from perfbench import datagen
from perfbench.trace import Tracer

Op = tuple[str, Callable[[SparkSession, Tracer], None]]


class CatalogWorkload:
    """Catalog queries over generated tables, each executed to the noop
    sink (which consumes every output column) and followed by the
    ``quiesce`` a long-lived session needs between independent queries.
    Outputs are checked against each query's DuckDB oracle digest."""

    # untimed passes after the checked one: the pass times of this
    # workload show no warm-up trend after its first pass
    extra_warm_passes = 0

    def __init__(self, queries: list[str], sf: float, seed: int, work_dir: str):
        self.queries = queries
        self.sf = sf
        self.seed = seed
        self.data_dir = os.path.join(work_dir, "data")
        self.layer_counters: dict[str, float] = {}

    def prepare(self) -> None:
        datagen.write_catalog_tables(self.data_dir, self.sf, self.seed)

    def register(self, spark: SparkSession) -> None:
        from dropbox_duckdb_playground_spark import catalog

        for table in datagen.TABLES:
            catalog.load(spark, self.data_dir, table)

    def pass_ops(self) -> list[Op]:
        from dropbox_duckdb_playground_spark import catalog

        builders = catalog.queries()
        return [(name, self._op(builders[name])) for name in self.queries]

    def _op(self, build) -> Callable[[SparkSession, Tracer], None]:
        from dropbox_duckdb_playground_spark.session import quiesce

        def run(spark: SparkSession, tracer: Tracer) -> None:
            try:
                with tracer.span("catalog.build"):
                    df = build(spark, self.data_dir)
                with tracer.span("catalog.exec"):
                    df.write.format("noop").mode("overwrite").save()
            finally:
                with tracer.span("session.quiesce"):
                    quiesce(spark)

        return run

    def checked_pass(self, spark: SparkSession, count_layers: bool) -> dict[str, str]:
        """Run every query once, collecting its result, and return query
        name -> reason for each whose digest differs from its DuckDB
        oracle's on the same tables."""
        import duckdb

        from dropbox_duckdb_playground_spark import catalog
        from dropbox_duckdb_playground_spark.session import quiesce
        from tools.check import frame_digest

        builders, oracles = catalog.queries(), catalog.oracle_sql()
        con = duckdb.connect()
        for table in datagen.TABLES:
            path = os.path.join(self.data_dir, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        bad: dict[str, str] = {}
        for name in self.queries:
            try:
                got = frame_digest(builders[name](spark, self.data_dir).toPandas())
                want = frame_digest(con.execute(oracles[name]).df())
            except Exception as exc:  # a check that cannot run is a failed check
                bad[name] = f"check raised {type(exc).__name__}: {exc}"
            else:
                if got != want:
                    bad[name] = f"digest {got[0]} rows {got[2][:8]} != oracle {want[0]} rows {want[2][:8]}"
            quiesce(spark)
        con.close()
        return bad


INFO_SCHEMA = "info struct<name string, author string, license string, requires_dist array<string>>"

# DuckDB-dialect extraction (HASH is DuckDB's; the engine's shim maps it).
EXTRACT_SQL = {
    "package": "SELECT HASH(name) AS node_id, name, license FROM latest_flat",
    "author": (
        "SELECT DISTINCT HASH(author) AS node_id, author AS name "
        "FROM latest_flat WHERE author IS NOT NULL"
    ),
    "has_author": (
        "SELECT HASH(name) AS from_id, HASH(author) AS to_id "
        "FROM latest_flat WHERE author IS NOT NULL"
    ),
    "requires_raw": (
        "SELECT name, regexp_extract(spec, '^[A-Za-z0-9_-]+', 0) AS req "
        "FROM latest_flat LATERAL VIEW explode(requires_dist) r AS spec"
    ),
    "requires": (
        "SELECT DISTINCT HASH(name) AS from_id, HASH(req) AS to_id "
        "FROM requires_raw WHERE req IN (SELECT name FROM latest_flat)"
    ),
}


def _urls(spark: SparkSession, names: list[str]):
    return spark.createDataFrame([(f"https://pypi.org/pypi/{n}/json",) for n in names], ["url"])


class EtlWorkload:
    """The flagship PyPI dataflow (``examples/pypi_graph_pipeline.py``):
    crawl, parse, DuckDB-dialect extraction and validation inside a
    ``Pipeline``, entity resolution, grouping, RedisGraph CSV export and
    Parquet saves, then an incremental re-run on a small delta batch.
    Each pass ends with ``quiesce``: passes are independent batch jobs in
    one long-lived session, and without it the previous pass's plans and
    shuffle files are released whenever CPython's cycle collector
    happens to run."""

    # untimed passes after the checked one: pass times still fall by
    # several percent a pass here while the JIT compiles
    extra_warm_passes = 1

    def __init__(self, n_packages: int, delta_share: float, seed: int, work_dir: str):
        self.n_packages = n_packages
        self.n_delta = max(1, round(n_packages * delta_share))
        self.seed = seed
        self.out_root = os.path.join(work_dir, "etl")
        self.layer_counters: dict[str, float] = {}

    def prepare(self) -> None:
        payloads = datagen.pypi_payloads(self.n_packages + self.n_delta, self.seed)
        names = list(payloads)
        self.base = names[: self.n_packages]
        self.delta = names[self.n_packages:]
        # the re-crawl revisits one known package in ten alongside the new ones
        self.recrawl = self.base[:: 10] + self.delta
        self.fetcher = datagen.PayloadFetcher(payloads)
        self.expect = datagen.pipeline_expectations({n: payloads[n] for n in self.base})

    def register(self, spark: SparkSession) -> None:
        pass  # inputs arrive through the crawl op

    def pass_ops(self) -> list[Op]:
        return self._ops({})

    def _ops(self, st: dict) -> list[Op]:
        """The pass's steps; they hand tables and the cache to each other
        through ``st``."""
        from dropbox_duckdb_playground_spark.engine import Engine
        from dropbox_duckdb_playground_spark.graph.metagraph import MetaGraph
        from dropbox_duckdb_playground_spark.streaming.incremental import IncrementalCache

        mg = MetaGraph(triplets={
            "has_author": ("package", "author"),
            "requires": ("package", "package"),
        })

        def crawl(spark, tr):
            from dropbox_duckdb_playground_spark.sources.http import fetch_json_table

            st["eng"] = eng = Engine(spark=spark, root=self.out_root)
            with tr.span("sources.fetch"):
                fetched = fetch_json_table(_urls(spark, self.base), fetcher=self.fetcher)
                eng.register("raw_latest", fetched.filter(F.col("status") == 200))
            # the crawl lands in storage once, like every boundary object of
            # the reference's framework; later stages read it back
            with tr.span("engine.save"):
                eng.save("raw_latest")

        def extract(spark, tr):
            from dropbox_duckdb_playground_spark.plans.pipeline import PyNode, Pipeline, SQLNode
            from dropbox_duckdb_playground_spark.sources.http import parse_json_body

            parse = PyNode(
                transform=lambda ins: [parse_json_body(ins[0], INFO_SCHEMA).select("parsed.info.*")],
                input_ids=["raw_latest"], output_ids=["latest_flat"],
            )
            pipe = Pipeline(
                nodes=[parse, SQLNode(EXTRACT_SQL, input_ids=["latest_flat"]), *mg.validators()],
                sources=["raw_latest"], materialize=["package", "requires"],
            )
            with tr.span("plans.execute"):
                pipe.execute(st["eng"])

        def resolve(spark, tr):
            from dropbox_duckdb_playground_spark.er.clustering import convert_ids
            from dropbox_duckdb_playground_spark.er.resolution import resolve_entities

            eng = st["eng"]
            with tr.span("er.resolve"):
                mapper = resolve_entities(eng.table("author"), canon=None)
                eng.register("has_author", convert_ids(eng.table("has_author"), mapper, ["to_id"]))
                eng.register("author", convert_ids(eng.table("author"), mapper, ["node_id"])
                             .groupBy("node_id").agg(F.min("name").alias("name")))
            with tr.span("engine.save"):
                eng.save("author")
                eng.save("has_author")

        def export(spark, tr):
            from dropbox_duckdb_playground_spark.sources.redisgraph import (
                write_redisgraph_links_csv,
                write_redisgraph_nodes_csv,
            )

            eng = st["eng"]
            for node in mg.nodes:
                with tr.span("graph.group"):
                    grouped = mg.group_nodes(eng, node)
                with tr.span("sources.csv_write"):
                    write_redisgraph_nodes_csv(grouped, f"{self.out_root}/csv/{node}", label=node)
            for link in mg.links:
                with tr.span("graph.group"):
                    grouped = mg.group_links(eng, link)
                with tr.span("sources.csv_write"):
                    write_redisgraph_links_csv(grouped, f"{self.out_root}/csv/{link}")
            with tr.span("engine.sql"):
                summary = eng.sql("SELECT license, count(*) AS packages FROM package GROUP BY license")
                eng.register("license_summary", summary)
            with tr.span("engine.save"):
                eng.save("license_summary")

        def snapshot(spark, tr):
            st["cache"] = IncrementalCache(st["eng"])
            with tr.span("streaming.snapshot"):
                st["cache"].snapshot("package")

        def incremental(spark, tr):
            from dropbox_duckdb_playground_spark.sources.http import fetch_json_table, parse_json_body

            eng, cache = st["eng"], st["cache"]
            t0 = time.perf_counter()
            with tr.span("sources.fetch"):
                fetched = fetch_json_table(_urls(spark, self.recrawl), fetcher=self.fetcher)
                eng.register("recrawl_flat", parse_json_body(fetched, INFO_SCHEMA).select("parsed.info.*"))
            with tr.span("engine.sql"):
                eng.register("package", eng.sql(
                    "SELECT HASH(name) AS node_id, name, license FROM recrawl_flat"))
            with tr.span("streaming.merge"):
                st["delta"] = cache.new_keys("package", ["node_id"])
                eng.register("package", cache.merge_batches(
                    [st["delta"], cache.load("package")], ["node_id"]))
            with tr.span("engine.save"):
                eng.save("package")
            tr.count("streaming.incr_wall_s", time.perf_counter() - t0)

        def end_pass(spark, tr):
            from dropbox_duckdb_playground_spark.session import quiesce

            st.clear()
            with tr.span("session.quiesce"):
                quiesce(spark)

        return [("crawl", crawl), ("extract", extract), ("resolve", resolve),
                ("export", export), ("snapshot", snapshot), ("incremental", incremental),
                ("quiesce", end_pass)]

    def checked_pass(self, spark: SparkSession, count_layers: bool) -> dict[str, str]:
        """Run one pass and return op name -> reason for each op that
        raised or whose outputs disagree with the counts the generator
        predicts. The MetaGraph validators run again on the resolved
        tables."""
        from dropbox_duckdb_playground_spark.er.blocking import block_table, candidate_pairs
        from dropbox_duckdb_playground_spark.er.features import engineer_features
        from dropbox_duckdb_playground_spark.er.scoring import expression_scorer, select_matches
        from dropbox_duckdb_playground_spark.graph.metagraph import MetaGraph
        from dropbox_duckdb_playground_spark.session import quiesce

        st: dict = {}
        for name, op in self._ops(st)[:-1]:  # the pass's closing quiesce comes last, below
            try:
                op(spark, Tracer(False))
            except Exception as exc:  # later steps depend on this one
                return {name: f"raised {exc!r}"[:300]}
        e, eng = self.expect, st["eng"]
        read = lambda obj: spark.read.parquet(os.path.join(self.out_root, f"{obj}.parquet"))
        bad: dict[str, str] = {}

        def expect(op: str, what: str, got: int, want: int) -> None:
            if got != want:
                bad.setdefault(op, f"{what}: {got} != {want}")

        expect("crawl", "crawled payloads", read("raw_latest").count(), e["packages"])
        expect("extract", "requires edges", read("requires").count(), e["requires_edges"])
        expect("resolve", "author entities", read("author").count(), e["author_entities"])
        expect("resolve", "has_author rows", read("has_author").count(), e["packages"])
        expect("export", "license rows", int(read("license_summary").agg(F.sum("packages")).first()[0]),
               e["packages"])
        n_delta = st["delta"].count()
        expect("incremental", "delta rows", n_delta, self.n_delta)
        expect("incremental", "merged packages", read("package").count(), e["packages"] + self.n_delta)
        mg = MetaGraph(triplets={"has_author": ("package", "author")})
        for obj in ("package", "author", "has_author"):
            eng.register(obj, read(obj))
        try:
            for v in mg.validators():
                v.run(eng)
        except Exception as exc:
            bad.setdefault("resolve", f"validator: {exc}")
        if count_layers:
            # ER pair counts and the delta share, measured where the work
            # happens but outside the timed passes
            feats = engineer_features(eng.sql(EXTRACT_SQL["author"]))
            fields = [c for c in feats.columns if c != "node_id"]
            pairs = candidate_pairs(block_table(feats, fields), feats)
            n_pairs = pairs.count()
            n_match = select_matches(expression_scorer(fields)(pairs), threshold=0.5).count()
            expect("resolve", "ER candidate pairs", n_pairs, e["er_candidate_pairs"])
            expect("resolve", "ER matches", n_match, e["er_matches"])
            self.layer_counters = {
                "er.candidate_pairs": n_pairs,
                "er.match_ratio": n_match / max(n_pairs, 1),
                "streaming.delta_share": n_delta / (e["packages"] + self.n_delta),
            }
        quiesce(spark)
        return bad
