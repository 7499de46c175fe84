"""Steady-state sf1 bench — DRIFT-PROOF protocol (r10).

The r9 artifact ran every Spark row first, then every oracle row: on a
host whose background load drifted over the night, three runs of the
SAME code+data read 83.3s / 107.0s / 148.2s total while the oracle
column moved 463 -> 538 -> 448s, and per-query ratios (q106 9.67x vs
SCALING's same-night slope-1.14 reading) became committed noise. The
fix is the protocol every decision-grade comparison in this repo
already uses (tools/ab.py): INTERLEAVE the engines per query
— spark rep, oracle rep, spark rep, oracle rep, all within a ~minute
window — so host drift hits both columns of a row equally, and commit
the MEDIAN of reps plus the spread and a loadavg stamp so a reader can
see whether a row is trustworthy without archaeology.

Per query:
  1. shape-warm Spark on sf0.01 (JIT/codegen, untimed)
  2. rep loop (REPS=3): timed Spark noop-write on sf1, then a timed
     DuckDB subprocess run on the same sf1 parquet (page cache shared)
  3. record per-engine rep lists, medians, relative spread, loadavg

Prints ONE JSON line on stdout; per-row progress goes to stderr.

Usage: python tools/sf1_bench.py [query ...]   (default: all SF1_QUERIES)
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from scaling import SF1_QUERIES, VOLATILE_REPS  # noqa: E402

SF1 = os.path.join(REPO, "testdata_sf1")
SF_WARM = "/root/testdata/sf0.01"
ORACLE_TIMEOUT = 900  # seconds per oracle rep subprocess
# 3 reps, not 2: the median of TWO reps is their mean, so a single
# transient host event poisons the row (first r10 run: q91's spark reps
# read [4.8, 48.9] while a 4-rep isolation probe read 4.4/2.3/2.9/2.0 —
# the 48.9 was the host, not the plan). A true median of 3 absorbs one
# outlier rep per engine per row.
REPS = 3

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# One timed run per subprocess: the rep cadence (and hence warm/cold
# mix) is controlled by the interleaving loop below, not hidden inside
# a best-of-N here. Page cache is shared with the Spark reps that run
# seconds earlier on the same files, so rep 1 is storage-warm.
_ORACLE_RUNNER = r"""
import json, os, sys, time
import duckdb
sf1, sql = sys.argv[1], sys.stdin.read()
con = duckdb.connect()
con.execute("SET enable_progress_bar = false")
for t in %r:
    p = os.path.join(sf1, f"{t}.parquet")
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
t0 = time.time()
con.execute(sql).fetchall()
print(json.dumps({"oracle": round(time.time() - t0, 3)}))
""" % (TABLES,)


def _oracle_rep(sql: str) -> tuple[float | None, str | None]:
    try:
        r = subprocess.run(
            [sys.executable, "-c", _ORACLE_RUNNER, SF1],
            input=sql,
            capture_output=True,
            text=True,
            timeout=ORACLE_TIMEOUT,
            cwd=REPO,
        )
    except subprocess.TimeoutExpired:
        return None, f"timeout >{ORACLE_TIMEOUT}s"
    if r.returncode != 0:
        return None, r.stderr.strip()[-200:]
    payload = r.stdout.strip()
    return json.loads(payload[payload.rfind("{"):])["oracle"], None


def _spread(reps: list[float]) -> float:
    med = statistics.median(reps)
    return round((max(reps) - min(reps)) / max(med, 1e-9), 3)


def oracle_row_fields(
    oracle_reps: list[float], oracle_errs: list[str], reps: int = REPS
) -> dict:
    """Finalize one row's oracle fields. A row carries a median ONLY at
    the full rep count the artifact's protocol string claims; a partial
    row (any rep failed) reports oracle=None + oracle_err with the
    succeeded count — never both a median and an error (r10 ADVICE).
    Partial rep times stay under oracle_reps for transparency."""
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


def main() -> int:
    args = sys.argv[1:]
    import __spark_entry__ as entrymod
    from dropbox_duckdb_playground_spark.session import get_spark, quiesce

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = [q for q in SF1_QUERIES if q in qs]
    if args:
        names = [q for q in names if q in args]

    spark = get_spark("sf1bench")
    spark.sparkContext.setLogLevel("ERROR")

    def fresh_session():
        nonlocal spark
        spark.stop()
        spark = get_spark("sf1bench")
        spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, dict] = {}
    for i, name in enumerate(names):
        # same isolation cadence as tools/scaling.py: restart the JVM
        # every few heavy rows, and immediately after any >15s row, so
        # accumulated GC/shuffle-tracker state cannot inflate later rows
        if i % 6 == 0:
            fresh_session()
        fn = qs[name]
        sql = oracles.get(name)
        row: dict = {"loadavg": round(os.getloadavg()[0], 2)}
        spark_reps: list[float] = []
        oracle_reps: list[float] = []
        oracle_errs: list[str] = []
        # volatile rows (tools/scaling.VOLATILE_REPS — q105) run
        # median-of-5 so this artifact and SCALING.md agree without
        # per-round manual arbitration (r12 VERDICT #5)
        n_reps = VOLATILE_REPS.get(name, REPS)
        try:
            fn(spark, SF_WARM).write.format("noop").mode("overwrite").save()
            quiesce(spark)
            if name in VOLATILE_REPS:
                # one UNTIMED warm rep at the target scale: the first
                # sf1 execution in a JVM pays a ~100-130s one-time cost
                # on these rows (r13 probe — codegen paths the sf0.01
                # warm never compiles + first-touch heap growth); timed
                # reps must measure the settled regime
                fn(spark, SF1).write.format("noop").mode("overwrite").save()
                quiesce(spark)
            for _ in range(n_reps):
                t0 = time.time()
                fn(spark, SF1).write.format("noop").mode("overwrite").save()
                spark_reps.append(time.time() - t0)
                quiesce(spark)
                if sql is not None:
                    # keep attempting ALL reps after a failure (r10
                    # ADVICE): a transient-error row either recovers to
                    # a full median-of-REPS or is reported as failed —
                    # never a silent partial median
                    o, err = _oracle_rep(sql)
                    if err is not None:
                        oracle_errs.append(err)
                    else:
                        oracle_reps.append(o)
            row["spark"] = round(statistics.median(spark_reps), 3)
            row["spark_reps"] = [round(x, 3) for x in spark_reps]
            row["spark_spread"] = _spread(spark_reps)
            if spark_reps and max(spark_reps) > 15:
                fresh_session()
        except Exception as exc:
            row["spark"] = None
            row["spark_err"] = str(exc)[:200]
            fresh_session()
        if sql is None:
            row["oracle"] = None
            row["oracle_err"] = "rows-only query (no oracle)"
        else:
            row.update(oracle_row_fields(oracle_reps, oracle_errs, reps=n_reps))
        results[name] = row
        print(
            f"SF1BENCH {name}: spark={row.get('spark')} "
            f"oracle={row.get('oracle')} load={row['loadavg']}",
            file=sys.stderr,
            flush=True,
        )

    both = [
        (v["spark"], v["oracle"])
        for v in results.values()
        if v.get("spark") is not None and v.get("oracle") is not None
    ]
    artifact = {
        "metric": "sf1_steady_state_wall",
        "unit": "sec",
        "sf": 1,
        "protocol": (
            "interleaved per query (spark rep / oracle rep alternating in "
            f"one ~minute window), median of {REPS} reps per engine "
            f"({', '.join(f'{q}: {n}' for q, n in VOLATILE_REPS.items())}"
            " — volatile rows at higher rep count), "
            "shape-warmed Spark session, noop write vs DuckDB fetchall on "
            "the same sf1 parquet; per-row loadavg + rep spread recorded"
        ),
        "spark_total": round(sum(s for s, _ in both), 3),
        "oracle_total": round(sum(o for _, o in both), 3),
        "ratio": round(
            sum(s for s, _ in both) / max(sum(o for _, o in both), 1e-9), 3
        ),
        "n_compared": len(both),
        "queries": results,
    }
    print(json.dumps(artifact), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
