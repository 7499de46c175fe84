"""Dialect shim unit tests (reference semantics: SURVEY §8.1-8.2)."""

from __future__ import annotations

from dropbox_duckdb_playground_spark.sql.dialect import translate


def test_hash_rewrite():
    assert translate("SELECT HASH(a) FROM t") == "SELECT xxhash64(a) FROM t"
    assert translate("SELECT hash(CONCAT(a, '|', b)) FROM t") == (
        "SELECT xxhash64(CONCAT(a, '|', b)) FROM t"
    )


def test_exclude_rewrite():
    assert translate("SELECT t.* EXCLUDE (x) FROM t") == "SELECT t.* EXCEPT (x) FROM t"


def test_distinct_on_basic():
    out = translate("SELECT DISTINCT ON (k) k, v FROM t")
    assert "row_number() OVER (PARTITION BY k ORDER BY k, v)" in out
    assert out.startswith("SELECT k, v FROM (")
    assert "__rn__ = 1" in out


def test_distinct_on_alias_keys_resolved():
    out = translate("SELECT DISTINCT ON (nid) xxhash64(a) AS nid, b FROM t")
    # alias in the key list must be replaced by its expression
    assert "PARTITION BY xxhash64(a)" in out


def test_distinct_on_with_order_by():
    out = translate(
        "SELECT DISTINCT ON (k) k, v FROM t ORDER BY v DESC"
    )
    assert "ORDER BY v DESC) AS __rn__" in out
    assert out.rstrip().endswith("ORDER BY v DESC")


def test_distinct_on_executes(spark):
    df = spark.createDataFrame(
        [(1, "b"), (1, "a"), (2, "c")], ["k", "v"]
    )
    df.createOrReplaceTempView("t_dialect")
    rows = spark.sql(
        translate("SELECT DISTINCT ON (k) k, v FROM t_dialect")
    ).collect()
    got = {(r.k, r.v) for r in rows}
    assert got == {(1, "a"), (2, "c")}  # deterministic: first under (k, v)


def test_distinct_on_qualified_refs_and_unaliased_exprs(spark):
    """Qualified refs (t.col) and unaliased expressions in the DISTINCT ON
    select list must survive the rewrite: the outer select projects
    output names, not raw item text (ADVICE r1)."""
    from dropbox_duckdb_playground_spark.sql.dialect import translate

    spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "c", 5)], ["k", "v", "n"]
    ).createOrReplaceTempView("t_don")
    out = spark.sql(
        translate(
            "SELECT DISTINCT ON (t.k) t.k, t.v, n + 0 FROM t_don t ORDER BY t.k, n DESC"
        )
    )
    rows = [tuple(r) for r in out.collect()]
    assert rows == [(1, "b", 20), (2, "c", 5)]
    assert out.columns[:2] == ["k", "v"]


def test_integer_division_rewrite_is_exact_for_integers_only(spark):
    """``//`` -> ``div``: both engines truncate integer quotients toward
    zero, but DuckDB 1.0 divides non-integers exactly (7.5 // 2 = 3.75)
    where Spark's ``div`` gives 3. The catalog uses ``//`` on integers
    only."""
    import duckdb

    assert translate("SELECT (a + 50) // 100, a//b FROM t") == (
        "SELECT (a + 50) div 100, a div b FROM t"
    )
    ints = "SELECT 7 // 2 AS a, -7 // 2 AS b"
    assert spark.sql(translate(ints)).first() == tuple(duckdb.sql(ints).fetchone())
    frac = "SELECT 7.5 // 2 AS a"
    assert spark.sql(translate(frac)).first().a == 3
    assert duckdb.sql(frac).fetchone()[0] == 3.75


def test_varchar_and_json_rewrites():
    assert translate("SELECT CAST(x AS VARCHAR), CAST(y AS varchar) FROM t") == (
        "SELECT CAST(x AS STRING), CAST(y AS STRING) FROM t"
    )
    assert translate("SELECT json_extract_string(p, '$.k')::BIGINT FROM t") == (
        "SELECT get_json_object(p, '$.k')::BIGINT FROM t"
    )


def test_rewrites_leave_quoted_text_alone():
    sql = """SELECT 'http://x' AS u, 'VARCHAR // json_extract_string(' AS s, a // 2 AS "a//2" FROM t"""
    assert translate(sql) == (
        """SELECT 'http://x' AS u, 'VARCHAR // json_extract_string(' AS s, a div 2 AS "a//2" FROM t"""
    )


def test_duck_id_rewrite_gives_the_same_ids(spark):
    """The portable id's DuckDB shape becomes its Spark shape, also around
    nested parentheses and literals; any other shape is left alone."""
    import duckdb

    from dropbox_duckdb_playground_spark.sql.dialect import DUCK_ID, SPARK_ID

    x = "'doc:' || CAST((7 + 1) AS VARCHAR)"
    sql = f"SELECT {DUCK_ID.format(x=x)} AS a, {DUCK_ID.format(x=repr('a)'))} % 100 AS b"
    out = translate(sql)
    assert out == (
        f"SELECT {SPARK_ID.format(x=x.replace('VARCHAR', 'STRING'))} AS a, "
        f"{SPARK_ID.format(x=repr('a)'))} % 100 AS b"
    )
    assert spark.sql(out).first() == tuple(duckdb.sql(sql).fetchone())
    other = "SELECT (('0x' || substr(md5(a), 1, 16))::BIGINT) FROM t"
    assert translate(other) == other
