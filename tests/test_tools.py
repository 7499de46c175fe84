"""Unit tests for ``bench.py`` and ``tools/`` — the timing loop, the
scaling table, the oracle gate and the A/B harness — pure-python, no
Spark session, except the ``ab.py`` smoke test and the empty-embeddings
gate, which use the shared ``spark`` fixture."""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))


def test_oracle_row_fields_partial_vs_full():
    """r10 ADVICE medium: a row whose oracle reps partially failed must
    report oracle=None + oracle_err (with the succeeded count), never a
    silent partial median; a full row carries median + spread and no
    error."""
    from bench import oracle_row_fields

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


def test_restart_budget_rule():
    """One session restarts before the next query once the Spark seconds
    timed since it started pass the budget; an sf0.1-like pass of 124
    rows at 3 reps restarts about 3 times, and a heavy row at once."""
    from bench import RESTART_BUDGET_S, restart_due

    assert not restart_due([])
    assert not restart_due([0.5, 0.5], budget=1.0)  # at the budget, not past it
    assert restart_due([0.5, 0.5, 0.01], budget=1.0)
    assert restart_due([RESTART_BUDGET_S + 1])

    def restarts(reps_per_query):
        n, since = 0, []
        for reps in reps_per_query:
            if restart_due(since):
                n, since = n + 1, []
            since += reps
        return n

    # sf0.1 on local[4,4]: 372 reps, 290 s
    assert restarts([[0.78] * 3] * 124) == 3
    assert restarts([[0.78] * 3] * 20) == 0
    assert restarts([[30.0] * 3, [1.0] * 3]) == 1  # a heavy sf1 row


def test_sf_label_takes_the_trailing_sf_number():
    """The label used to be basename().replace("sf", ""), which crashed
    float() on "testdata_sf1" after the whole run had been timed."""
    from bench import sf_label

    assert sf_label("/root/testdata/sf0.1") == 0.1
    assert sf_label("/root/testdata/sf0.001/") == 0.001
    assert sf_label("/some/checkout/testdata_sf1") == 1.0
    assert sf_label("/tmp/tables") is None
    assert sf_label("/data/sf1_copy") is None


def test_bench_rejects_unknown_query_names(monkeypatch, capsys):
    import bench

    import dropbox_duckdb_playground_spark.session as session

    def no_spark(*a, **k):
        raise AssertionError("a session was started")

    monkeypatch.setattr(session, "get_spark", no_spark)
    assert bench.main(["q01_pricing_summary", "q01_pricing_summry"]) == 2
    assert "q01_pricing_summry" in capsys.readouterr().err


def _bench_line(sf: float, spark: dict) -> dict:
    """A bench.py JSON line (Spark only) with the given per-query medians."""
    queries = {n: {"spark": t, "spark_reps": [t] * 3} for n, t in spark.items()}
    line = json.dumps(
        {"metric": "catalog_total_wall", "sf": sf, "master": "local[4,4]",
         "reps": 3, "restarts": 0, "queries": queries}
    )
    return json.loads(line)


def test_scaling_renders_bench_json():
    """Classification thresholds on slope10 = t(sf0.1) / t(sf0.01), the
    sf1 column grading on its own decade, and a failed cell as an error
    row that counts toward the headline."""
    from scaling import render

    sf0001 = {"flat": 1.0, "sub": 1.0, "lin": 1.0, "edge": 1.0, "super": 1.0,
              "big": 1.0, "q26_jaccard_pairs": 1.0, "broken": 1.0}
    sf001 = dict(sf0001)
    sf01 = {"flat": 1.99, "sub": 7.9, "lin": 8.0, "edge": 15.0, "super": 15.1,
            "big": 1.0, "q26_jaccard_pairs": 20.0, "broken": None}
    runs = [_bench_line(0.001, sf0001), _bench_line(0.01, sf001), _bench_line(0.1, sf01)]
    lines, n_super = render(runs, _bench_line(1.0, {"big": 16.0, "lin": 10.0}))
    rows = {ln.split(" | ")[0][2:]: ln.split(" | ") for ln in lines if ln.startswith("| ")}
    cls = {n: r[-1].rstrip(" |") for n, r in rows.items() if n != "query"}
    assert cls["flat"] == "overhead-bound"
    assert cls["sub"] == "sublinear"
    assert cls["lin"] == "linear"
    assert cls["edge"] == "linear"
    assert cls["super"] == "SUPERLINEAR"
    assert cls["big"] == "SUPERLINEAR"  # 1.0 -> 1.0 -> 16.0 at sf1
    assert rows["big"][5:7] == ["16.00", "16.00"]
    assert rows["lin"][5:7] == ["10.00", "1.25"]
    assert rows["flat"][5:7] == ["", ""]
    assert cls["q26_jaccard_pairs"].startswith("SUPERLINEAR (data-inherent")
    assert rows["broken"][1:4] == ["1.00", "1.00", "error"]
    assert cls["broken"] == "error"
    assert n_super == 4  # super, big, q26, broken
    assert "**Superlinear/error count: 4, of which 1 annotated" in "\n".join(lines)
    assert "median of 3 reps" in "\n".join(lines)


def test_empty_embeddings_give_empty_quantizer_rows(spark, tmp_path):
    """q62 (IVF), q79 (SemDeDup) and q107 (PQ) on a zero-row embeddings
    table return no rows, as their DuckDB oracles do, instead of the
    trainer raising on an empty sample."""
    import shutil

    import pyarrow.parquet as pq

    import check

    src = "/root/testdata/sf0.001"
    for f in os.listdir(src):
        shutil.copy(os.path.join(src, f), tmp_path / f)
    table = pq.read_table(os.path.join(src, "embeddings.parquet"))
    pq.write_table(table.slice(0, 0), tmp_path / "embeddings.parquet")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        names = ["q62_ivf_ann", "q79_semantic_dedup", "q107_pq_ann"]
        assert check.main([str(tmp_path), *names]) == 0
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        spark.conf.set("spark.sql.shuffle.partitions", parts)


def test_every_tool_and_its_imports_resolve():
    """bench.py and every tools/*.py import, and every import statement
    inside them, including the ones deferred into functions, names a
    module and symbol that exist: a dangling cross-tool import or a
    renamed package symbol fails here instead of at the next run of the
    tool."""
    import ast
    import importlib
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    paths = sorted((repo / "tools").glob("*.py")) + [repo / "bench.py"]
    assert len(paths) > 1
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


def test_oracle_spill_dir_is_outside_the_checkout(monkeypatch, tmp_path):
    """DuckDB spills to ``.tmp`` in the working directory by default (a
    q105 oracle rep left 8.5 GB in the repo root). Each oracle
    connection gets its own spill dir under the first SPARK_LOCAL_DIRS
    entry, removed with the connection."""
    import gc

    from check import oracle_connection

    monkeypatch.setenv("SPARK_LOCAL_DIRS", f"{tmp_path},/elsewhere")
    cons = [oracle_connection(str(tmp_path)) for _ in range(2)]
    dirs = [
        c.execute("SELECT current_setting('temp_directory')").fetchone()[0]
        for c in cons
    ]
    for d in dirs:
        assert os.path.isabs(d) and not d.startswith(REPO + os.sep)
        assert os.path.dirname(d) == str(tmp_path) and os.path.isdir(d)
    assert dirs[0] != dirs[1]
    del cons
    gc.collect()
    assert not any(os.path.exists(d) for d in dirs)


def test_oracle_memory_limit_leaves_room_for_the_driver_heap(monkeypatch, tmp_path):
    """DuckDB defaults to 80% of RAM although the process also holds the
    Spark driver heap: each oracle connection is capped at half of what
    SPARK_DRIVER_MEM leaves, and at least 1 GiB."""
    from check import oracle_connection

    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))
    for mem, heap in (("2g", 2 * 2**30), ("3072", 3 * 2**30), ("64t", 64 * 2**40)):
        monkeypatch.setenv("SPARK_DRIVER_MEM", mem)
        con = oracle_connection(str(tmp_path))
        value, unit = con.execute(
            "SELECT value FROM duckdb_settings() WHERE name = 'memory_limit'"
        ).fetchone()[0].split()
        got = float(value) * 1024 ** ["KiB", "MiB", "GiB", "TiB"].index(unit) * 1024
        want = max(2**30, (ram - heap) // 2)
        # DuckDB prints the limit cut to one decimal of the largest unit
        assert want - 0.1 * 2**30 <= got <= want, (mem, got, want)


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


def test_ab_file_form_may_define_a_dataclass(tmp_path, monkeypatch):
    """A ``file.py:function`` form loads a module that defines a dataclass
    under postponed annotations, as ``catalog.py`` does."""
    import ab

    src = tmp_path / "forms_dc.py"
    src.write_text(
        "from __future__ import annotations\n"
        "from dataclasses import dataclass\n\n\n"
        "@dataclass\nclass Row:\n    x: int\n\n\n"
        "def form(spark, sf_dir):\n    return Row(1)\n"
    )
    monkeypatch.delitem(sys.modules, "forms_dc", raising=False)
    assert ab._function(f"{src}:form")(None, None).x == 1


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
                "q03_latest_order",
                "dropbox_duckdb_playground_spark.catalog:q03_latest_order",
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
