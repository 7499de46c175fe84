"""Unit tests for the measurement tooling that the round artifacts
depend on — pure-python, no Spark session, except the ``ab.py`` smoke
test, which uses the shared ``spark`` fixture."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from compare_bench import _series, compare  # noqa: E402


def test_series_flat_and_rich_shapes():
    flat = {"queries": {"q1": 1.5, "q2": -1.0, "q3": 2}}
    rich = {"queries": {"q1": {"spark": 1.5, "oracle": 0.5}, "q2": {"spark": None}}}
    assert _series(flat, "spark") == {"q1": 1.5, "q3": 2.0}
    assert _series(flat, "oracle") == {}
    assert _series(rich, "spark") == {"q1": 1.5}
    assert _series(rich, "oracle") == {"q1": 0.5}


def test_compare_flags_only_rel_and_abs(capsys):
    a = {"queries": {"q_big": 10.0, "q_small": 0.10, "q_same": 3.0}}
    b = {"queries": {"q_big": 20.0, "q_small": 0.20, "q_same": 3.1}}
    # q_big: 100% rel AND 10s abs -> flagged; q_small: 100% rel but
    # 0.1s abs -> NOT flagged (sub-noise absolute); q_same: within band
    n = compare(a, b, band=0.35, abs_floor=0.3)
    out = capsys.readouterr().out
    assert n == 1
    assert "DRIFT q_big" in out
    assert "q_small" not in out


def test_compare_agree(capsys):
    a = {"queries": {"q1": 1.0, "q2": 2.0}}
    n = compare(a, a, band=0.35, abs_floor=0.3)
    assert n == 0
    assert "all rows within band" in capsys.readouterr().out


def test_compare_bench_main_flag_bounds(monkeypatch, capsys):
    """r10 ADVICE: '--band' with a missing or non-numeric value prints
    usage and returns 2 instead of crashing with IndexError/ValueError."""
    import compare_bench

    for argv in (
        ["compare_bench.py", "a.json", "b.json", "--band"],
        ["compare_bench.py", "a.json", "b.json", "--band", "wide"],
        ["compare_bench.py", "a.json", "b.json", "--abs"],
    ):
        monkeypatch.setattr(sys, "argv", argv)
        assert compare_bench.main() == 2
        assert "Usage" in capsys.readouterr().out


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


def test_ratio_excludes_artifact_totals_on_set_mismatch(tmp_path, capsys):
    """r10 ADVICE: artifact-level oracle totals cover every oracle-
    succeeded query; when a spark failure shrinks the compared set, the
    headline min() must not pick a denominator for a different
    workload."""
    import json

    import ratio

    bench = {
        "sf": 0.1,
        "queries": {"q1": 1.0, "q2": 1.0, "q3": -1.0},  # q3 spark failed
        "oracle_queries": {"q1": 0.5, "q2": 0.5, "q3": 0.5},
        # whole-artifact totals cover q1-q3 — a different set than names
        "oracle_total_cold": 0.9,
        "oracle_total_warm": 1.5,
    }
    src = tmp_path / "bench.json"
    out = tmp_path / "RATIO.md"
    src.write_text(json.dumps(bench))
    assert ratio.main_from(str(src), str(out)) == 0
    md = out.read_text()
    # names={q1,q2}: total_s=2.0, total_o=1.0; artifact totals excluded
    # from the min() -> honest ratio 2.00x (not 2.0/0.9)
    assert "**2.00x**" in md
    headline = next(ln for ln in md.split("\n") if ln.startswith("- Spark total"))
    assert "cold" not in headline

    # same-set case: artifact totals are comparable and cold wins
    bench["queries"]["q3"] = 1.0
    src.write_text(json.dumps(bench))
    assert ratio.main_from(str(src), str(out)) == 0
    md = out.read_text()
    assert "cold 0.9s" in md and "**0.9s**" in md


def test_merge_sf1_bench_overlays_rows_and_recomputes_totals():
    from merge_sf1_bench import merge

    base = {
        "queries": {
            "q1": {"spark": 1.0, "oracle": 2.0},
            "q2": {"spark": 3.0, "oracle": None, "oracle_err": "x"},
        },
        "excluded": {"q9": "too big"},
        "spark_total": 1.0,
        "oracle_total": 2.0,
        "ratio": 0.5,
        "n_compared": 1,
    }
    part = {
        "queries": {
            "q2": {"spark": 2.5, "oracle": 5.0},  # replaces the failed row
            "q3": {"spark": 1.5, "oracle": 0.5},  # new row
        },
        "excluded": {"q9": "different reason", "q10": "also big"},
    }
    out = merge(base, [part])
    assert out["n_compared"] == 3
    assert out["spark_total"] == 5.0 and out["oracle_total"] == 7.5
    assert out["ratio"] == round(5.0 / 7.5, 3)
    assert out["excluded"]["q9"] == "too big"  # first reason kept
    assert out["excluded"]["q10"] == "also big"
    assert "merged_rows_note" in out


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
