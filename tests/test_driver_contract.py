"""Guards for the DRIVER's correctness-gate contract.

The driver runs each catalog query in ITS OWN session (ANSI-on, Spark 4
default) and canonicalizes results with pandas ``sort_values`` over all
columns. Two output classes therefore fail at the driver even when the
values are right (round-6 reds):

1. Top-level array/map columns — pandas cannot sort list cells
   (``TypeError: unhashable type: 'list'``, q115/q117). Every catalog
   output column must be scalar-typed; serialize lists with
   ``array_join`` / ``array_to_string``.
2. ANSI runtime errors — a bare ``/`` over a possibly-zero denominator
   throws ``DIVIDE_BY_ZERO`` under ANSI (q124) even though the package
   session (ANSI-off) and DuckDB both return NULL. The engine must not
   assume its own session config.

These tests execute the whole catalog at sf0.001 under an ANSI-enabled
session and assert both properties, so the classes cannot recur.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql.types import ArrayType, MapType

from dropbox_duckdb_playground_spark.catalog import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

needs_data = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver-generated testdata absent"
)


@needs_data
def test_catalog_green_under_ansi_with_scalar_outputs(spark):
    """Run all 124 queries ANSI-on; no errors, no array/map outputs."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    assert len(qs) >= 124
    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    bad_types: list[tuple[str, str, str]] = []
    errors: list[tuple[str, str]] = []
    try:
        for name, fn in qs.items():
            try:
                df = fn(spark, SF_DIR)
                for f in df.schema.fields:
                    if isinstance(f.dataType, (ArrayType, MapType)):
                        bad_types.append((name, f.name, f.dataType.simpleString()))
                # collect the way the driver does — ANSI runtime errors
                # (divide-by-zero, cast overflow) only surface on action
                df.toPandas()
            except Exception as exc:  # noqa: BLE001 - report all offenders at once
                errors.append((name, str(exc).splitlines()[0][:200]))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
    assert not bad_types, (
        "top-level array/map output columns break the driver's pandas "
        f"canonicalizer — serialize with array_join: {bad_types}"
    )
    assert not errors, f"catalog queries failed under ANSI mode: {errors}"


@needs_data
def test_no_oracle_emits_list_or_map():
    """DESCRIBE every oracle: no top-level list/struct/map columns —
    the driver's canonicalizer cannot sort them (mirror of the Spark
    side check above, same r6 failure class)."""
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    offenders = []
    for name, sql in entrymod.oracle_sql().items():
        try:
            desc = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception:
            continue  # binding failures are test_oracle_types.py's job
        for col, typ, *_ in desc:
            t = typ.upper()
            if "[]" in t or t.startswith("STRUCT") or t.startswith("MAP"):
                offenders.append((name, col, typ))
    assert not offenders, (
        f"oracle emits unsortable composite columns: {offenders} — "
        "serialize with array_to_string(...)"
    )


@needs_data
def test_sql_rows_give_their_oracle_digest_under_ansi(spark):
    """A row registered with ``sql_row`` has no DataFrame form: Spark runs
    its oracle text through the dialect shim. Compare each with DuckDB's
    digest, ANSI-on as the driver runs, so a broken rewrite fails here."""
    from dropbox_duckdb_playground_spark import catalog
    from tools.check import frame_digest, oracle_connection

    rows = {
        name: qd
        for name, qd in catalog.REGISTRY.items()
        if getattr(qd.fn, "func", None) is catalog.run_sql
    }
    assert len(rows) >= 30
    con = oracle_connection(SF_DIR)
    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    differ = []
    try:
        for name, qd in rows.items():
            got = frame_digest(qd.fn(spark, SF_DIR).toPandas())
            if got != frame_digest(con.execute(qd.oracle).df()):
                differ.append(name)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
    assert not differ, f"Spark's digest of the oracle text differs: {differ}"


def test_query_order_is_frozen():
    """perfbench times every 16th query from the 2nd, so the catalog
    order is part of the benchmark: pin it (no Spark session needed)."""
    from dropbox_duckdb_playground_spark import catalog

    names = list(catalog.queries())
    assert len(names) == 124
    assert names[0] == "q05_cust_order_stats"
    assert names[1::16] == [
        "q06_two_key_left",
        "q22_lang_id",
        "q37_mapreduce_quality",
        "q54_table_stats",
        "q70_media_resize",
        "q86_tpch_q17",
        "q102_tpch_q11",
        "q118_percentile_cont",
    ]
