"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS,4] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "reps": {name: n}, "sf": ..., "oracle_total_warm": ...,
"oracle_queries": {...}}.

Each query is executed to a noop-datasource write: unlike count(), which
lets Catalyst prune projection expressions and unused aggregates (so
narrow text queries and expression-heavy aggregates would be timed on
pruned plans), the noop sink consumes EVERY output column, so the
measured time covers the full plan Spark would run for a real consumer.

The DuckDB oracle suite is also timed on the same parquet (one cold pass
then one warm pass, warm reported per-query) so the Spark-vs-baseline
comparison is self-contained in this file's output.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# Fresh session every N queries: a single long-lived local JVM degrades
# through hundreds of executions (GC/broadcast/shuffle tracker state that
# quiesce() cannot fully release) — measured up to ~1.8x inflation on
# heavy queries late in the run, the same effect tools/scaling.py
# corrects in its sf1 batch. Restarting keeps every query's measurement
# a fresh-session steady state.
_RESTART_EVERY = 40

ORACLE_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def run_full(df) -> None:
    """Execute the complete plan, consuming all output columns."""
    df.write.format("noop").mode("overwrite").save()


def time_oracles(sf_dir: str) -> tuple[float, float, dict[str, float]]:
    """DuckDB oracle wall-times on the same parquet: (cold_total,
    warm_total, warm_per_query). Skips queries with no oracle SQL."""
    import duckdb

    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    totals = []
    per_q: dict[str, float] = {}
    for label in ("cold", "warm"):
        t_all = 0.0
        for name, sql in oracles.items():
            t0 = time.time()
            try:
                con.execute(sql).fetchall()
            except Exception as exc:
                sys.stderr.write(f"bench: oracle {name} failed: {exc}\n")
                per_q[name] = -1.0
                continue
            dt = time.time() - t0
            t_all += dt
            if label == "warm":
                per_q[name] = round(dt, 3)
        totals.append(round(t_all, 3))
    return totals[0], totals[1], per_q


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod
    from dropbox_duckdb_playground_spark.session import get_spark

    spark = get_spark("bench")
    qs = entrymod.queries()

    # warm up the JVM/codegen on the smallest sf so measured times are the
    # steady-state plan execution, not first-call JIT compilation. Every
    # query runs once through the SAME noop sink as the timed pass: the
    # heavy expression trees (simhash bit-sums, cosine folds) each JIT
    # their own generated classes.
    from dropbox_duckdb_playground_spark.session import quiesce

    warm_dir = "/root/testdata/sf0.001"
    no_warm = os.environ.get("SPARK_GRAFT_NO_WARM") == "1"
    if os.path.isdir(warm_dir) and not no_warm:
        for fn in qs.values():
            try:
                run_full(fn(spark, warm_dir))
            except Exception:
                pass
            quiesce(spark)

    # Two timed reps per query, best kept: single-JVM local mode has a
    # heavy-tailed scheduler/GC noise floor (occasional 5-20x outliers
    # on an otherwise-stable query), and the DuckDB oracle column is
    # already a second (warm) run — best-of-2 measures the same
    # steady-state throughput on both sides.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    timings: dict[str, float] = {}
    rep_counts: dict[str, int] = {}
    for qi, (name, fn) in enumerate(qs.items()):
        if qi and qi % _RESTART_EVERY == 0:
            spark.stop()
            spark = get_spark("bench")
            if os.path.isdir(warm_dir) and not no_warm:
                try:  # re-JIT this query's shape before its timed reps
                    run_full(fn(spark, warm_dir))
                except Exception:
                    pass
                quiesce(spark)
        best = -1.0
        rep_counts[name] = 0
        for _ in range(reps):
            rep_counts[name] += 1
            t0 = time.time()
            try:
                run_full(fn(spark, sf_dir))
                dt = round(time.time() - t0, 3)
                best = dt if best < 0 else min(best, dt)
            except Exception as exc:  # record failures as -1, keep benching
                sys.stderr.write(f"bench: {name} failed: {exc}\n")
                break
            # quiesce between runs (outside the timed window): release
            # this query's materialized blocks, collect Python-side plan
            # cycles so ContextCleaner can reclaim shuffles/broadcasts,
            # and absorb the GC pause they'd otherwise trigger mid-run
            quiesce(spark)
        timings[name] = best

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    out = {
        "metric": "catalog_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "reps": rep_counts,
        "sf": float(sf) if sf else None,
    }
    if os.environ.get("SPARK_GRAFT_NO_ORACLE") != "1":
        cold, warm, per_q = time_oracles(sf_dir)
        out["oracle_total_cold"] = cold
        out["oracle_total_warm"] = warm
        out["oracle_queries"] = per_q
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
