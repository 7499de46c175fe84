from dropbox_duckdb_playground_spark.sources.redisgraph import (
    write_redisgraph_links_csv,
    write_redisgraph_nodes_csv,
)

__all__ = [
    "write_redisgraph_links_csv",
    "write_redisgraph_nodes_csv",
]
