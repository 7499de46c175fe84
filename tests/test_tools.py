"""Unit tests for ``tools/`` — the oracle gate, the A/B harness and the
sf1 bench — pure-python, no Spark session, except the ``ab.py`` smoke
test, which uses the shared ``spark`` fixture."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))


def test_sf1_oracle_row_fields_partial_vs_full():
    """r10 ADVICE medium: a row whose oracle reps partially failed must
    report oracle=None + oracle_err (with the succeeded count), never a
    silent partial median; a full row carries median + spread and no
    error."""
    from sf1_bench import oracle_row_fields

    full = oracle_row_fields([1.0, 2.0, 3.0], [], reps=3)
    assert full["oracle"] == 2.0
    assert full["oracle_rep_count"] == 3
    assert "oracle_err" not in full and "oracle_spread" in full

    partial = oracle_row_fields([1.0, 2.0], ["timeout >900s"], reps=3)
    assert partial["oracle"] is None
    assert partial["oracle_rep_count"] == 2
    assert partial["oracle_reps"] == [1.0, 2.0]
    assert "timeout" in partial["oracle_err"]
    assert "[2/3 reps succeeded]" in partial["oracle_err"]

    empty = oracle_row_fields([], ["boom"], reps=3)
    assert empty["oracle"] is None and "[0/3" in empty["oracle_err"]


def test_every_tool_and_its_imports_resolve():
    """Every tools/*.py imports, and every import statement inside it,
    including the ones deferred into functions, names a module and symbol
    that exist: a dangling cross-tool import or a renamed package symbol
    fails here instead of at the next run of the tool."""
    import ast
    import importlib
    from pathlib import Path

    tools = Path(__file__).resolve().parent.parent / "tools"
    paths = sorted(tools.glob("*.py"))
    assert paths
    for path in paths:
        importlib.import_module(path.stem)
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    importlib.import_module(alias.name)
            elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
                mod = importlib.import_module(node.module)
                for alias in node.names:
                    if not hasattr(mod, alias.name):
                        importlib.import_module(f"{node.module}.{alias.name}")


def test_check_rejects_unknown_query_names(monkeypatch, capsys):
    """A misspelled name used to check nothing and exit 0; it must exit 2
    naming the unknown names, before any Spark session starts."""
    import check

    import dropbox_duckdb_playground_spark.session as session

    def no_spark(*a, **k):
        raise AssertionError("a session was started")

    monkeypatch.setattr(session, "get_spark", no_spark)
    rc = check.main(
        ["/root/testdata/sf0.001", "q01_pricing_summary", "q01_pricing_summry"]
    )
    assert rc == 2
    assert "q01_pricing_summry" in capsys.readouterr().err


def test_ab_verdict_rule():
    """A form wins only with >= 9/10 round wins AND a median gap beyond
    the first form's q3 - q1; ties count for neither side."""
    from ab import verdicts

    base = [2.0, 2.1, 1.9, 2.05, 1.95, 2.0, 2.1, 1.9, 2.0, 2.0]
    faster = [t - 0.5 for t in base]
    slower = [t + 0.5 for t in base]
    rows = verdicts([base, faster, slower, list(base)])
    assert [r["verdict"] for r in rows] == ["baseline", "wins", "loses", "no claim"]
    assert (rows[1]["wins"], rows[1]["losses"]) == (10, 0)
    assert (rows[2]["wins"], rows[2]["losses"]) == (0, 10)
    assert (rows[3]["wins"], rows[3]["losses"]) == (0, 0)  # ties
    assert rows[0]["median"] == 2.0 and rows[0]["q1"] <= 2.0 <= rows[0]["q3"]

    nine = [t - 0.5 for t in base[:9]] + [base[9] + 0.1]
    eight = [t - 0.5 for t in base[:8]] + [t + 0.1 for t in base[8:]]
    rows = verdicts([base, nine, eight])
    assert [r["wins"] for r in rows[1:]] == [9, 8]
    assert [r["verdict"] for r in rows[1:]] == ["wins", "no claim"]

    # faster in every round, but by less than the baseline's IQR
    wide = [1.0, 1.2, 1.4, 1.6, 1.8, 2.0, 2.2, 2.4, 2.6, 2.8]
    rows = verdicts([wide, [t - 0.05 for t in wide]])
    assert rows[1]["wins"] == 10 and rows[1]["verdict"] == "no claim"


def test_ab_unresolved_forms_exit_2_without_spark(monkeypatch, capsys):
    import ab

    import dropbox_duckdb_playground_spark.session as session

    def no_spark(*a, **k):
        raise AssertionError("a session was started")

    monkeypatch.setattr(session, "get_spark", no_spark)
    forms = [
        "q01_pricing_summary",
        "q01_pricing_summry",
        "dropbox_duckdb_playground_spark.catalog:no_such_query",
        "/nonexistent/forms.py:form_a",
    ]
    assert ab.main(["--sf", "/root/testdata/sf0.001", *forms]) == 2
    err = capsys.readouterr().err
    assert all(f in err for f in forms[1:])


def test_ab_smoke(spark, monkeypatch, capsys):
    """Same output through a catalog name and a module:function form ->
    one JSON line; differing outputs -> exit 1 with nothing timed."""
    import json

    import ab

    sf = "/root/testdata/sf0.001"
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        rc = ab.main(
            [
                "--sf", sf, "--pairs", "2",
                "q01_pricing_summary",
                "dropbox_duckdb_playground_spark.catalog:q01_pricing_summary",
            ]
        )
        out = capsys.readouterr().out.strip().splitlines()
        assert rc == 0 and len(out) == 1
        res = json.loads(out[0])
        assert res["pairs"] == 2 and res["sf_dir"] == sf
        a, b = res["forms"]
        for row in (a, b):
            assert len(row["times"]) == 2
            assert row["q1"] <= row["median"] <= row["q3"]
        assert a["digest"] == b["digest"] and a["rows"] == b["rows"] > 0
        assert a["verdict"] == "baseline"
        assert b["wins"] + b["losses"] <= 2 and b["verdict"] in ("wins", "loses", "no claim")
        stamp = res["stamp"]
        assert {"nproc", "SPARK_GRAFT_CPUS", "loadavg_before", "loadavg_after"} <= set(stamp)

        def not_timed(*a, **k):
            raise AssertionError("timed a form whose digest differs")

        monkeypatch.setattr(ab, "timed", not_timed)
        rc = ab.main(["--sf", sf, "q01_pricing_summary", "q02_brand_nodes"])
        assert rc == 1
        assert capsys.readouterr().out == ""
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)
