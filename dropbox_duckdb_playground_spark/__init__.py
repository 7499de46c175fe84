"""PySpark-native analytics engine with the capability surface of
jeffrey82221/dropbox_duckdb_playground (a DuckDB/Parquet/Dropbox ETL
framework — see SURVEY.md), re-designed Spark-first.

Subpackages
-----------
- ``session``    : tuned SparkSession factory (local + cluster profiles)
- ``engine``     : the named-table registry (object-id -> DataFrame/view)
- ``sql``        : DuckDB-dialect shim (DISTINCT ON / * EXCLUDE / HASH)
- ``operators``  : relational builders + scale ops (dedup, similarity, text)
- ``sources``    : HTTP JSON crawl, HTML listing, RedisGraph typed-CSV sink
- ``plans``      : Pipeline / SQLNode / PyNode composition + validators
- ``streaming``  : incremental (availableNow) + windowed-agg wrappers
- ``er``         : entity-resolution dataflow (block→pair→score→cluster)
- ``graph``      : MetaGraph-driven node/link extraction and grouping
"""

from dropbox_duckdb_playground_spark.engine import Engine
from dropbox_duckdb_playground_spark.session import get_spark

__all__ = ["Engine", "get_spark"]
__version__ = "0.1.0"
