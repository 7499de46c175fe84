"""Catalog timing loop: times catalog queries on Spark and on the DuckDB
oracle at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), any scale
factor, and prints ONE JSON line; per-row progress goes to stderr.

Usage: python bench.py [query ...]   (default: the whole catalog; an
unknown query name exits 2 before any query runs)

Per query:
1. On its first use in a session, one untimed run on sf0.001 warms the
   JVM (JIT, codegen) for its plan shape ($SPARK_GRAFT_NO_WARM=1 skips
   it).
2. $SPARK_GRAFT_BENCH_REPS rounds (default 3), each one Spark rep
   (``tools.ab.timed``: plan build plus a noop-sink write, which consumes
   every output column where count() would let Catalyst prune them),
   ``quiesce``, then one oracle rep on an in-process DuckDB connection
   over the same parquet ($SPARK_GRAFT_NO_ORACLE=1 skips the oracle).
   Interleaving the engines per query lets host drift hit both columns
   of a row alike.
3. Each engine's median and its reps. A median of 2 reps is their mean,
   so one host hiccup would poison it; a median of 3 absorbs one.

A long-lived local JVM degrades through hundreds of executions (heap,
broadcast and shuffle-tracker state that ``quiesce`` cannot release;
shuffle files do not pile up, as each execution deletes its own): late
heavy rows measured up to ~2x their fresh-session time, before
executions deleted their shuffle files. So the session restarts before
the next query once the Spark seconds timed since it started pass
RESTART_BUDGET_S.

JSON: {"metric", "value" (sum of Spark medians), "unit", "sf", "master",
"reps", "restarts", "oracle_total" (sum of oracle medians),
"queries": {name: {"loadavg", "spark", "spark_reps", "spark_spread",
"oracle", "oracle_reps", "oracle_rep_count", "oracle_spread" |
"oracle_err"}}}; a failed Spark row has "spark": null and "spark_err".
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from tools.ab import timed  # noqa: E402
from tools.check import oracle_connection, unknown_names  # noqa: E402

WARM_DIR = "/root/testdata/sf0.001"
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
# Spark seconds per session: a 124-query sf0.1 pass at 3 reps (290 s of
# Spark on local[4,4]) restarts 3 times, as the earlier every-40-queries
# rule did, and any row past ~27 s a rep (the heaviest sf1 rows) is
# followed by a restart.
RESTART_BUDGET_S = 80.0


def sf_label(sf_dir: str) -> float | None:
    """The scale factor named by the dir's trailing ``sf<number>``."""
    m = re.search(r"sf(\d+(?:\.\d+)?)$", os.path.basename(sf_dir.rstrip("/")))
    return float(m.group(1)) if m else None


def restart_due(spark_reps: list[float], budget: float = RESTART_BUDGET_S) -> bool:
    """Whether the Spark reps timed since the session started (seconds)
    have spent its budget, so the next query gets a fresh session."""
    return sum(spark_reps) > budget


def _spread(reps: list[float]) -> float:
    med = statistics.median(reps)
    return round((max(reps) - min(reps)) / max(med, 1e-9), 3)


def oracle_row_fields(
    oracle_reps: list[float], oracle_errs: list[str], reps: int = REPS
) -> dict:
    """Finalize one row's oracle fields. A row carries a median ONLY at
    the full rep count ``reps``; a partial row (any rep failed) reports
    oracle=None + oracle_err with the succeeded count — never both a
    median and an error (r10 ADVICE). Partial rep times stay under
    oracle_reps for transparency."""
    out: dict = {"oracle_rep_count": len(oracle_reps)}
    if oracle_reps:
        out["oracle_reps"] = [round(x, 3) for x in oracle_reps]
    if len(oracle_reps) == reps:
        out["oracle"] = round(statistics.median(oracle_reps), 3)
        out["oracle_spread"] = _spread(oracle_reps)
    else:
        out["oracle"] = None
        out["oracle_err"] = (
            (oracle_errs[-1] if oracle_errs else "no oracle rep")
            + f" [{len(oracle_reps)}/{reps} reps succeeded]"
        )
    return out


def main(argv: list[str] | None = None) -> int:
    names = sys.argv[1:] if argv is None else argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    unknown = unknown_names(names, qs)
    if unknown:
        print(f"unknown query names: {' '.join(unknown)}", file=sys.stderr)
        return 2
    names = names or list(qs)
    oracles = entrymod.oracle_sql()
    con = None
    if os.environ.get("SPARK_GRAFT_NO_ORACLE") != "1":
        con = oracle_connection(sf_dir)
    warm = os.path.isdir(WARM_DIR) and os.environ.get("SPARK_GRAFT_NO_WARM") != "1"

    from dropbox_duckdb_playground_spark.session import get_spark, quiesce

    spark = get_spark("bench")
    warmed: set[str] = set()
    since_start: list[float] = []
    restarts = 0
    rows: dict[str, dict] = {}
    for name in names:
        if restart_due(since_start):
            spark.stop()
            spark = get_spark("bench")
            warmed.clear()
            since_start = []
            restarts += 1
        fn = qs[name]
        if warm and name not in warmed:
            try:
                timed(spark, fn, WARM_DIR)
            except Exception:
                pass
            quiesce(spark)
            warmed.add(name)
        row: dict = {"loadavg": round(os.getloadavg()[0], 2)}
        spark_reps: list[float] = []
        oracle_reps: list[float] = []
        oracle_errs: list[str] = []
        try:
            for _ in range(REPS):
                spark_reps.append(timed(spark, fn, sf_dir))
                quiesce(spark)
                if con is None:
                    continue
                # every oracle rep runs even after one fails: the row
                # then reports the failure, not a partial median
                t0 = time.perf_counter()
                try:
                    con.execute(oracles[name]).fetchall()
                    oracle_reps.append(time.perf_counter() - t0)
                except Exception as exc:
                    oracle_errs.append(str(exc)[:200])
            row["spark"] = round(statistics.median(spark_reps), 3)
            row["spark_reps"] = spark_reps
            row["spark_spread"] = _spread(spark_reps)
        except Exception as exc:
            row["spark"] = None
            row["spark_err"] = str(exc)[:200]
            quiesce(spark)
        since_start += spark_reps
        if con is not None:
            row.update(oracle_row_fields(oracle_reps, oracle_errs))
        rows[name] = row
        print(
            f"bench {name}: spark={row['spark']} oracle={row.get('oracle')}"
            f" load={row['loadavg']}",
            file=sys.stderr,
            flush=True,
        )

    out = {
        "metric": "catalog_total_wall",
        "value": round(
            sum(r["spark"] for r in rows.values() if r["spark"] is not None), 3
        ),
        "unit": "sec",
        "sf": sf_label(sf_dir),
        "master": spark.sparkContext.master,
        "reps": REPS,
        "restarts": restarts,
    }
    if con is not None:
        out["oracle_total"] = round(
            sum(r["oracle"] for r in rows.values() if r["oracle"] is not None), 3
        )
    out["queries"] = rows
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
