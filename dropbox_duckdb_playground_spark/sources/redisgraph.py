"""RedisGraph bulk-load typed-CSV sink (S10) — the reference's
`redisgraph.py` exporter (examples/graph/group/redisgraph.py:17-94):
rename columns to the bulk-insert header convention and write CSV.

Header convention (RedisGraph bulk-insert format):
- node id column    -> ``:ID({label})``
- link endpoints    -> ``:START_ID`` / ``:END_ID``
- property columns  -> ``{name}:{TYPE}`` with TYPE from the Spark dtype
  (the reference derives it from pandas dtypes, redisgraph.py:11-14)

Scale: the bulk loader takes one file per label, so each export is
``coalesce(1)``-ed to one CSV part; the exported tables are grouped
entities and links, not raw facts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_SPARK_TO_REDIS = {
    "string": "STRING",
    "bigint": "LONG",
    "int": "LONG",
    "smallint": "LONG",
    "tinyint": "LONG",
    "double": "FLOAT",
    "float": "FLOAT",
    "boolean": "BOOL",
}


def _type_tag(spark_dtype: str) -> str:
    """F10: dtype→RedisGraph tag map over ``df.dtypes`` (reference:
    examples/graph/group/redisgraph.py:11-14)."""
    return _SPARK_TO_REDIS.get(spark_dtype, "STRING")


def redisgraph_node_header(df: DataFrame, label: str) -> DataFrame:
    renames = {}
    for name, dtype in df.dtypes:
        if name == "node_id":
            renames[name] = f":ID({label})"
        else:
            renames[name] = f"{name}:{_type_tag(dtype)}"
    return df.withColumnsRenamed(renames)


def redisgraph_link_header(df: DataFrame) -> DataFrame:
    renames = {}
    for name, dtype in df.dtypes:
        if name == "from_id":
            renames[name] = ":START_ID"
        elif name == "to_id":
            renames[name] = ":END_ID"
        else:
            renames[name] = f"{name}:{_type_tag(dtype)}"
    return df.withColumnsRenamed(renames)


def _write_csv(df: DataFrame, path: str) -> None:
    # quoteAll mirrors the reference's QUOTE_NONNUMERIC for string safety
    df.coalesce(1).write.mode("overwrite").option("header", True).option(
        "quoteAll", True
    ).csv(path)


def write_redisgraph_nodes_csv(df: DataFrame, path: str, label: str) -> None:
    _write_csv(redisgraph_node_header(df, label), path)


def write_redisgraph_links_csv(df: DataFrame, path: str) -> None:
    _write_csv(redisgraph_link_header(df), path)
