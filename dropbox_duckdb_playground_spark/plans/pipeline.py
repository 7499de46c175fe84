"""Pipeline composition: named-table nodes wired by object ids.

The reference builds a paradag DAG of ETL units and runs them on a
thread pool (reference: batch_framework/etl.py:142-162,248-265). On
Spark the DAG dissolves: nodes declare the same ``input_ids`` /
``output_ids`` contract, but "running" a node just *registers lazy
DataFrames*; Catalyst fuses the whole pipeline into one optimized plan
per materialization boundary. Wiring rules kept from the reference:

- an id cannot be both input and output of one node (etl.py:38-39)
- SQL nodes must declare exactly their output ids (etl.py:345-349)
- every non-source input must be produced by some upstream node or
  pre-registered in the Engine (DAGVertexNotFoundError semantics,
  tests/test_etl.py:65-98)
- validators are first-class nodes (SURVEY §8.8): they run eagerly at
  their topological position. A node that registers no output id is a
  validator; each run of consecutive validators is one level whose
  validators run concurrently, the ``materialize`` saves another, and
  when several in a level fail, the error of the first in node order
  is raised. A failing validator stops every later node and save.

Scale: because nodes stay lazy, a 50-node pipeline compiles into a
handful of Spark jobs at the ``materialize`` boundaries, with cross-node
predicate pushdown and shared scans — the reference instead wrote every
intermediate to Parquet (SURVEY §8.7 anti-pattern).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dropbox_duckdb_playground_spark.engine import Engine


class PipelineWiringError(Exception):
    pass


class ValidationError(Exception):
    pass


def run_concurrently(spark: SparkSession, thunks: Sequence[Callable[[], object]]) -> None:
    """Run ``thunks`` on one thread each and wait for all of them (the
    reference's multithreaded DAG executor, batch_framework/etl.py:
    248-265). Each thread inherits the caller's job group, local
    properties and session tags. If any failed, the error of the
    lowest-index one is raised."""
    with ThreadPoolExecutor(max_workers=max(len(thunks), 1)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
    for f in futures:
        f.result()


class Node:
    """Base unit: consumes ``input_ids`` from the Engine registry,
    registers ``output_ids`` back."""

    input_ids: Sequence[str] = ()
    output_ids: Sequence[str] = ()

    def _check_id_overlap(self) -> None:
        overlap = set(self.input_ids) & set(self.output_ids)
        if overlap:
            raise PipelineWiringError(
                f"ids cannot be both input and output of one node: {sorted(overlap)}"
            )

    def run(self, engine: Engine) -> None:  # pragma: no cover - abstract
        raise NotImplementedError


@dataclass
class SQLNode(Node):
    """``{output_id: sql}`` over registered views — the `SQLExecutor`
    equivalent (reference: batch_framework/etl.py:317-397). SQL may use
    the reference's DuckDB dialect; the shim translates it."""

    sqls: dict[str, str]
    input_ids: Sequence[str] = ()

    def __post_init__(self):
        self.output_ids = list(self.sqls)
        self._check_id_overlap()

    def run(self, engine: Engine) -> None:
        for out_id, sql in self.sqls.items():
            engine.register(out_id, engine.sql(sql))


@dataclass
class PyNode(Node):
    """Typed whole-table function node — the `ObjProcessor` equivalent
    (reference: batch_framework/etl.py:400-480). ``transform`` maps the
    input DataFrames to output DataFrames; declared ``output_schemas``
    are validated (V3: arity + schema) like the reference's annotation
    reflection (etl.py:444-457)."""

    transform: Callable[[list[DataFrame]], list[DataFrame]]
    input_ids: Sequence[str]
    output_ids: Sequence[str]
    output_schemas: Sequence[StructType] | None = None

    def __post_init__(self):
        self._check_id_overlap()

    def run(self, engine: Engine) -> None:
        ins = [engine.table(i) for i in self.input_ids]
        outs = self.transform(ins)
        if not isinstance(outs, (list, tuple)) or len(outs) != len(self.output_ids):
            raise ValidationError(
                f"transform returned {type(outs).__name__} of wrong arity; "
                f"expected {len(self.output_ids)} DataFrames"
            )
        if self.output_schemas is not None:
            for out_id, df, want in zip(self.output_ids, outs, self.output_schemas):
                if df.schema != want:
                    raise ValidationError(
                        f"output {out_id!r} schema mismatch:\n"
                        f"  got  {df.schema.simpleString()}\n"
                        f"  want {want.simpleString()}"
                    )
        for out_id, df in zip(self.output_ids, outs):
            engine.register(out_id, df)


@dataclass
class ValidateLinkIds(Node):
    """Referential-integrity validator (V1, also the A6 subset check):
    every ``fk`` value in the link table exists as ``node_id`` in the
    node table (reference `LinkIDValidator`, examples/graph/validate.py:8-43).
    Eager (runs a count) by design — validation is load-bearing (SURVEY
    §8.8). Scale: left_anti join with limit(1) — stops at the first
    dangling id, no full materialization."""

    link_id: str
    node_id: str
    fks: Sequence[str] = ("from_id", "to_id")

    def __post_init__(self):
        self.input_ids = [self.link_id, self.node_id]
        self.output_ids = []

    def run(self, engine: Engine) -> None:
        links = engine.table(self.link_id)
        nodes = engine.table(self.node_id).select("node_id")
        for fk in self.fks:
            dangling = (
                links.select(F.col(fk).alias("node_id"))
                .join(nodes, "node_id", "left_anti")
                .limit(1)
                .count()
            )
            if dangling:
                raise ValidationError(
                    f"link table {self.link_id!r}.{fk} has ids missing from "
                    f"{self.node_id!r}.node_id"
                )


def assert_frames_equal(a: DataFrame, b: DataFrame) -> None:
    """Differential check (V2: `AssertEqual`, examples/test_parallel.py:
    77-95): same multiset of rows both ways + same count."""
    if a.count() != b.count():
        raise ValidationError("frame count mismatch")
    if a.exceptAll(b).limit(1).count() or b.exceptAll(a).limit(1).count():
        raise ValidationError("frame content mismatch")


@dataclass
class Pipeline:
    """Ordered node list with id-wiring verification.

    ``materialize`` names the ids written to Parquet at the end (stage
    boundaries); everything else stays lazy. ``sources`` are ids expected
    to pre-exist in the Engine."""

    nodes: Sequence[Node]
    sources: Sequence[str] = ()
    materialize: Sequence[str] = ()

    def validate_wiring(self, engine: Engine | None = None) -> None:
        produced: set[str] = set(self.sources)
        if engine is not None:
            produced |= set(engine.ids())
        seen_outputs: set[str] = set()
        for node in self.nodes:
            for i in node.input_ids:
                if i not in produced:
                    raise PipelineWiringError(
                        f"{type(node).__name__} consumes {i!r} before any "
                        f"producer (DAGVertexNotFoundError semantics)"
                    )
            for o in node.output_ids:
                if o in seen_outputs:
                    raise PipelineWiringError(f"id produced twice: {o!r}")
                seen_outputs.add(o)
                produced.add(o)

    def execute(self, engine: Engine) -> None:
        self.validate_wiring(engine)
        level: list[Node] = []  # the validators since the last producing node
        for node in self.nodes:
            if node.output_ids:
                run_concurrently(engine.spark, [partial(v.run, engine) for v in level])
                level = []
                node.run(engine)
            else:
                level.append(node)
        run_concurrently(engine.spark, [partial(v.run, engine) for v in level])
        run_concurrently(engine.spark, [partial(engine.save, i) for i in self.materialize])
