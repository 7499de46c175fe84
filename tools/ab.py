"""Interleaved A/B timing of query forms, with output digests asserted.

Usage: python tools/ab.py --sf DIR [--pairs N] FORM [FORM ...]

A FORM is a catalog query name (resolved through ``catalog.queries()``,
as ``tools/check.py`` resolves its names), or ``path/to/file.py:function``
or ``module:function`` naming a function ``(spark, sf_dir) -> DataFrame``.

Protocol:
1. One untimed round at the target sf collects every form and digests it
   with ``check.frame_digest``. A name that does not resolve exits 2 and
   differing digests exit 1, both before anything is timed.
2. N timed rounds (``--pairs``, default 10) write each form to the noop
   sink, with ``quiesce`` after every execution. The form order rotates
   each round, so two forms alternate AB/BA.
3. ONE JSON line: per form its times, median, q1, q3, digest, wins and
   losses against the first form (ties count for neither) and a verdict;
   plus a stamp (nproc, the session's SPARK_GRAFT_CPUS, loadavg before
   and after).

A form "wins" (or "loses") against the first form only when it is faster
(slower) in at least 9 of every 10 rounds AND its median differs from the
first form's by more than the first form's interquartile range q3 - q1.
Anything else is "no claim". The first form's verdict is "baseline".
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from check import frame_digest, unknown_names  # noqa: E402


def verdicts(times: list[list[float]]) -> list[dict]:
    """Per-form summary of a time table ``times[form][round]``; form 0 is
    the baseline every other form is judged against. Quartiles are
    linearly interpolated between samples."""
    base = times[0]
    quarts = [statistics.quantiles(ts, n=4, method="inclusive") for ts in times]
    b_q1, b_med, b_q3 = quarts[0]
    iqr = b_q3 - b_q1
    out = []
    for i, (ts, (q1, med, q3)) in enumerate(zip(times, quarts)):
        row = {
            "times": ts,
            "median": round(med, 4),
            "q1": round(q1, 4),
            "q3": round(q3, 4),
        }
        if i == 0:
            row["verdict"] = "baseline"
        else:
            wins = sum(t < b for t, b in zip(ts, base))
            losses = sum(b < t for t, b in zip(ts, base))
            need = 0.9 * len(ts)
            if wins >= need and b_med - med > iqr:
                verdict = "wins"
            elif losses >= need and med - b_med > iqr:
                verdict = "loses"
            else:
                verdict = "no claim"
            row.update(wins=wins, losses=losses, verdict=verdict)
        out.append(row)
    return out


def _function(form: str):
    """``file.py:func`` or ``module:func`` -> the function, or None."""
    target, _, func = form.rpartition(":")
    try:
        if target.endswith(".py") or os.sep in target:
            name = os.path.splitext(os.path.basename(target))[0]
            spec = importlib.util.spec_from_file_location(name, target)
            mod = importlib.util.module_from_spec(spec)
            # dataclasses look their module up in sys.modules
            sys.modules[name] = mod
            spec.loader.exec_module(mod)
        else:
            mod = importlib.import_module(target)
    except (ImportError, OSError) as e:
        print(f"cannot load {target}: {e}", file=sys.stderr)
        return None
    fn = getattr(mod, func, None)
    return fn if callable(fn) else None


def resolve(forms: list[str]) -> tuple[list, list[str]]:
    """(functions, unresolved forms); catalog names resolve as in check.py."""
    from dropbox_duckdb_playground_spark import catalog

    qs = catalog.queries()
    bad = unknown_names([f for f in forms if ":" not in f], qs)
    fns = [qs.get(f) if ":" not in f else _function(f) for f in forms]
    bad += [f for f, fn in zip(forms, fns) if fn is None and ":" in f]
    return fns, bad


def _labels(forms: list[str]) -> list[str]:
    seen: dict[str, int] = {}
    out = []
    for f in forms:
        seen[f] = seen.get(f, 0) + 1
        out.append(f if seen[f] == 1 else f"{f}#{seen[f]}")
    return out


def timed(spark, fn, sf_dir: str) -> float:
    """Seconds to build ``fn``'s plan and run it into the noop sink."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 4)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", required=True, help="scale-factor data dir")
    ap.add_argument("--pairs", type=int, default=10, help="timed rounds (>= 2)")
    ap.add_argument("forms", nargs="+", metavar="FORM")
    args = ap.parse_args(argv)
    if args.pairs < 2:
        ap.error("--pairs must be at least 2")

    fns, bad = resolve(args.forms)
    if bad:
        print(f"unresolved forms: {' '.join(bad)}", file=sys.stderr)
        return 2

    from dropbox_duckdb_playground_spark.session import get_spark, quiesce

    load_before = os.getloadavg()
    spark = get_spark("ab")
    labels = _labels(args.forms)
    digests = []
    for fn in fns:
        n, cols, h = frame_digest(fn(spark, args.sf).toPandas())
        digests.append((n, tuple(cols), h))
        quiesce(spark)
    if len(set(digests)) > 1:
        for label, (n, cols, h) in zip(labels, digests):
            print(f"{label}: {n} rows, {h}, columns {cols}", file=sys.stderr)
        print("digests differ: nothing timed", file=sys.stderr)
        return 1

    k = len(fns)
    times: list[list[float]] = [[] for _ in fns]
    for r in range(args.pairs):
        for i in [(r + j) % k for j in range(k)]:
            times[i].append(timed(spark, fns[i], args.sf))
            quiesce(spark)

    rows = [
        {"form": label, "rows": n, "digest": h, **row}
        for label, (n, _, h), row in zip(labels, digests, verdicts(times))
    ]
    print(
        json.dumps(
            {
                "sf_dir": args.sf,
                "pairs": args.pairs,
                "forms": rows,
                "stamp": {
                    "nproc": len(os.sched_getaffinity(0)),
                    # get_spark sizes shuffle partitions from SPARK_GRAFT_CPUS
                    "SPARK_GRAFT_CPUS": int(
                        spark.conf.get("spark.sql.shuffle.partitions")
                    ),
                    "master": spark.sparkContext.master,
                    "loadavg_before": [round(x, 2) for x in load_before],
                    "loadavg_after": [round(x, 2) for x in os.getloadavg()],
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
