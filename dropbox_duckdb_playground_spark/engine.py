"""Engine: the named-table registry.

The reference's unit of data is an *object id* bound to a Parquet file on
a filesystem (reference: batch_framework/storage.py:134-155,
batch_framework/etl.py:50-64). Here an object id is a temp view over a
lazy DataFrame; materialization is an explicit Parquet write. This
replaces `DataFrameStorage` (pandas/pyarrow/vaex) + `DuckDBBackend.register`
(batch_framework/rdb.py:83-95) with one abstraction.

SURVEY §2.1 coverage: S1 parquet scan (`register(id, path)`), S2 parquet
sink (`save`), S4 view registration (`register` + temp view), S5 CTAS
(`engine.sql(...)` then `save`), S12 copy/exists (`copy`/`__contains__`).
S6 (shipping the .duckdb DB file to remote storage) is obsolete by
design: persistence IS the Parquet write, there is no engine-state file
to ship. Paths may carry a scheme (``s3a://``, ``gs://``, ``file://``):
reads and writes go through the session's Hadoop filesystem.

Reads stay lazy — nothing is collected to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


def _join(base: str, name: str) -> str:
    """Path join that preserves URI schemes (os.path.join is correct for
    both on POSIX, but be explicit about the contract)."""
    return base.rstrip("/") + "/" + name


@dataclass
class Engine:
    """Named-table registry on one SparkSession.

    - ``register(id, df_or_path)``: bind an object id to a DataFrame or a
      Parquet path (lazy scan). Also exposed as a temp view for SQL.
    - ``table(id)``: fetch the DataFrame for an id.
    - ``save(id)``: materialize as ``<root>/<id>.parquet`` (the reference's
      storage.upload, batch_framework/storage.py:151-164).
    - ``copy(id, id_cache)``: snapshot for incremental reuse (reference:
      batch_framework/storage.py:56-74, run-level cache C1).
    """

    spark: SparkSession
    root: str | None = None
    _tables: dict[str, DataFrame] = field(default_factory=dict, init=False)

    # -- registry ----------------------------------------------------------
    def register(self, obj_id: str, source: DataFrame | str) -> DataFrame:
        df = self.spark.read.parquet(source) if isinstance(source, str) else source
        self._tables[obj_id] = df
        df.createOrReplaceTempView(obj_id)
        return df

    def table(self, obj_id: str) -> DataFrame:
        if obj_id in self._tables:
            return self._tables[obj_id]
        raise KeyError(f"object id not registered: {obj_id!r}")

    def __contains__(self, obj_id: str) -> bool:
        return obj_id in self._tables

    def ids(self) -> list[str]:
        return sorted(self._tables)

    # -- SQL ---------------------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """Run SQL over the registered views, after the DuckDB-dialect shim
        (sql/dialect.py) translates DISTINCT ON / EXCLUDE / HASH."""
        from dropbox_duckdb_playground_spark.sql.dialect import translate

        return self.spark.sql(translate(query))

    # -- persistence -------------------------------------------------------
    def _path(self, obj_id: str) -> str:
        if self.root is None:
            raise ValueError("Engine.root not set")
        return _join(self.root, f"{obj_id}.parquet")

    def _write(self, obj_id: str, out_id: str) -> str:
        """Write ``obj_id`` to ``out_id``'s Parquet path, overwriting, and
        register ``out_id`` as the scan of what was written. The scan
        takes the schema just written instead of inferring it, which
        would launch a footer-reading job; file sources read every
        column as nullable either way."""
        out = self._path(out_id)
        df = self.table(obj_id)
        df.write.mode("overwrite").parquet(out)
        self.register(out_id, self.spark.read.schema(df.schema).parquet(out))
        return out

    def save(self, obj_id: str) -> str:
        """Materialize an object id as Parquet, overwriting, and re-register
        it as the materialized scan so downstream reads prune."""
        return self._write(obj_id, obj_id)

    def copy(self, obj_id: str, cache_id: str) -> str:
        """Snapshot ``obj_id`` under ``cache_id`` (run-level cache; reference
        batch_framework/etl.py:86-127)."""
        return self._write(obj_id, cache_id)
