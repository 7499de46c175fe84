"""Scaling-curve table: every catalog query at sf0.001 / 0.01 / 0.1,
with a growth classification — plus an sf1 column (1000x of data) from
the synthesized tables of tools/gen_sf1.py when testdata_sf1/ exists.
Each scale factor is one Spark-only ``bench.py`` run in a subprocess
(a fresh JVM; bench.py warms, reps and restarts sessions); this tool
parses the JSON lines and renders the table.

The question the curve answers is the 100 TB one: as data grows 10x,
does the query's wall time stay flat (fixed scheduling/sync overhead
dominates — it will scale until data swamps the constant), grow ~
linearly (healthy: cost is proportional work), or grow superlinearly
(a pair-explosion or spill — it will NOT survive further scale-up)?

slope10 = t(sf0.1) / t(sf0.01) — i.e. the cost multiplier for the last
10x of data. Classification: overhead-bound (< 2), sublinear (< 8),
linear (8-15), superlinear (> 15). slope1000 = t(sf1) / t(sf0.1),
same thresholds, for the rows that run at sf1.

CAVEAT on sf1 similarity rows: the driver's synthetic corpus draws
every document from ONE 31-token vocabulary, so the 3-gram shingle
space (31^3 ~ 30k) is already saturated at sf0.1. Growing the corpus
10x therefore grows every shingle posting list 10x and the CANDIDATE
PAIR count ~100x — a property of the data, not the plan: exact
all-pairs similarity on a saturated key space is quadratic on any
engine. Real corpora keep vocab growing with size (posting lists stay
short); the 100 TB guard for corpora that do saturate is the hot-key
frequency cap (`max_shingle_freq` / `MAX_BLOCK_SIZE`), measured here
via the capped variants. Since r12 the synthesized sf1 corpus adds a
Heaps-law hapax tail (gen_sf1 TAIL_MIX — 45% of docs carry 5-30%
corpus-unique tokens), which de-saturates the boilerplate gate
(q100/q120 keep non-zero rows at sf1) but leaves the templated core
dominant: the uncapped pair miners stay data-quadratic and excluded.

Usage: python tools/scaling.py [out_md] [--no-sf1]   (writes SCALING.md)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
SF1 = os.path.join(REPO, "testdata_sf1")


def classify(slope: float) -> str:
    if slope < 2.0:
        return "overhead-bound"
    if slope < 8.0:
        return "sublinear"
    if slope <= 15.0:
        return "linear"
    return "SUPERLINEAR"


# Adjudicated rows: measured superlinearity with a documented cause and
# production path — the note rides the class cell on every regeneration.
# The headline count stays INCLUSIVE of these (a new superlinear row can
# never silently vanish from the metric by being added here); the
# allowlist below pins exactly which rows may carry a baseline note.
ANNOTATED_BASELINE_ALLOWLIST = {"q26_jaccard_pairs", "q121_fuzzy_match"}
ROW_NOTES = {
    "q121_fuzzy_match": (
        " (data-inherent quadratic, measured r11: the synthetic part"
        " table saturates the (p_type, first-token) blocking key at 48"
        " blocks REGARDLESS of scale, so within-block pairs grow"
        " 4.17M at sf0.1 -> 417.7M at sf1 (100x for 10x rows) — a"
        " property of the corpus, not the plan; Spark runs the"
        " explosion 2.8x FASTER than the single-node oracle at sf1"
        " (62.2s vs 174.1s) and the capped production path for"
        " saturated keys is er/blocking.MAX_BLOCK_SIZE, exercised by"
        " q34)"
    ),
    "q26_jaccard_pairs": (
        " (data-inherent measurement baseline — explicitly uncapped"
        " via exact=True; every production consumer now runs the"
        " DEFAULT max_shingle_freq cap and is measured separately:"
        " q34/q43/q47/q64/q65/q120)"
    ),
}


def bench(sf_dir: str) -> dict:
    """The JSON line of one Spark-only ``bench.py`` run at ``sf_dir``."""
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir, "SPARK_GRAFT_NO_ORACLE": "1"}
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        stdout=subprocess.PIPE,
        text=True,
        check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def render(runs: list[dict], sf1: dict | None = None) -> tuple[list[str], int]:
    """SCALING.md's lines and its superlinear/error count, from bench.py's
    JSON at sf0.001, sf0.01 and sf0.1 (``runs``) and optionally at sf1."""
    sf1_times = {n: r["spark"] for n, r in sf1["queries"].items()} if sf1 else {}
    lines = [
        "# SCALING — measured growth of every query across 100x of data",
        "(+ an sf1 column: 1000x, synthesized via tools/gen_sf1.py)",
        "",
        f"Steady-state Spark seconds per scale factor, each the median of"
        f" {runs[0]['reps']} reps; one `bench.py` run per column"
        f" (`tools/scaling.py`, {runs[0]['master']}). `slope10` = t(sf0.1)/t(sf0.01):",
        "the wall-cost multiplier for the last 10x of data; `slope1000` =",
        "t(sf1)/t(sf0.1) where measured. A query whose",
        "slope is far below 10 is still overhead-dominated at this scale —",
        "flat cost it amortizes at 100 TB; near 10 is linear in data;",
        "well above 10 means pair explosion or spill and would NOT",
        "survive scale-up. See the module docstring for the sf1",
        "saturated-shingle-space caveat on similarity rows.",
        "",
        "| query | sf0.001 | sf0.01 | sf0.1 | slope10 | sf1 | slope1000 | class |",
        "|---|---|---|---|---|---|---|---|",
    ]
    n_super = 0
    n_annotated = 0
    for name in runs[0]["queries"]:
        ts = [run["queries"][name]["spark"] for run in runs]
        if None not in ts and min(ts[1:]) > 0:
            slope = ts[2] / ts[1]
            cls = classify(slope)
            t1 = sf1_times.get(name)
            if t1 is not None and t1 > 0:
                s1000 = t1 / ts[2]
                cls1000 = classify(s1000)
                # grade on the worst decade measured
                if cls1000 == "SUPERLINEAR":
                    cls = "SUPERLINEAR"
                sf1_cell, s1000_cell = f"{t1:.2f}", f"{s1000:.2f}"
            else:
                sf1_cell = s1000_cell = ""
            # the headline count is INCLUSIVE: adjudicated baselines
            # (ROW_NOTES, allowlist-pinned) are counted AND annotated,
            # so adding a note can never drop a row from the metric
            assert set(ROW_NOTES) <= ANNOTATED_BASELINE_ALLOWLIST, (
                f"unexpected ROW_NOTES keys: {set(ROW_NOTES) - ANNOTATED_BASELINE_ALLOWLIST}"
            )
            if cls == "SUPERLINEAR":
                n_super += 1
                if name in ROW_NOTES:
                    n_annotated += 1
            cls += ROW_NOTES.get(name, "")
            lines.append(
                f"| {name} | {ts[0]:.2f} | {ts[1]:.2f} | {ts[2]:.2f} |"
                f" {slope:.2f} | {sf1_cell} | {s1000_cell} | {cls} |"
            )
        else:
            cells = " | ".join("error" if t is None else f"{t:.2f}" for t in ts)
            lines.append(f"| {name} | {cells} | | | | | error |")
            n_super += 1
    lines += [
        "",
        f"**Superlinear/error count: {n_super}"
        + (f", of which {n_annotated} annotated measurement baseline{'s' if n_annotated != 1 else ''} (q26-style explicitly-uncapped rows; production paths are the separate capped rows)" if n_annotated else "")
        + ".**",
        "",
        "### sf1 similarity-row analysis (saturated shingle space)",
        "",
        "The corpus draws from ONE 31-token vocabulary, so the 3-gram",
        "space (~30k shingles) is saturated by sf0.1: candidate pairs for",
        "the exact inverted-index join grow QUADRATICALLY with corpus",
        "size by construction — measured 1.27M pairs at sf0.1 vs 126.1M",
        "at sf1 (99.6x work for 10x data). q26's wall time grew LESS than",
        "its work (37x vs 99.6x): time-per-candidate-pair improved, i.e.",
        "the plan is linear in generated work; the growth is in the data.",
        "DuckDB's identical algorithm pays the same quadratic — measured",
        "25.8s at sf1 vs 0.3s at sf0.1 (slope ~86x, steeper than Spark's",
        "~36x): at the scale where data finally dominates overhead, Spark",
        "runs the explosion query within 2x of the single-node baseline. Real",
        "corpora keep vocab growing with size. For corpora that do",
        "saturate (boilerplate), the production guards are the hot-key",
        "caps — measured at sf1 (r7 code): q64_jaccard_capped",
        "(max_shingle_freq) ~1.8s, q65_lsh_capped (max_bucket_size)",
        "~2.1s — both oracle-checked catalog queries in their own right.",
        "",
        "### q43 flagship: capped since round 6",
        "",
        "q43's ER-pairing stage runs the DEFAULT frequency-capped",
        "pairing (max_shingle_freq, mirrored in its oracle) since",
        "round 6, so the flagship no longer inherits q26's",
        "data-inherent quadratic: its sf1 slope1000 is in the table",
        "above (linear-or-better). The historical round-4 stage",
        "profile (uncapped pairing >90% of wall time; CC over matched",
        "pairs ~2s; event-side tabularize->semi-join->aggregate ~2.4s)",
        "is what motivated the cap-by-default switch — only q26 keeps",
        "exact=True, as the annotated measurement baseline.",
    ]
    return lines, n_super


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    out_md = args[0] if args else os.path.join(REPO, "SCALING.md")
    do_sf1 = "--no-sf1" not in sys.argv and os.path.isdir(SF1)
    runs = [bench(sf) for sf in SFS]
    lines, n_super = render(runs, bench(SF1) if do_sf1 else None)
    with open(out_md, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_md}: {len(runs[0]['queries'])} queries, {n_super} superlinear")
    return 1 if n_super else 0


if __name__ == "__main__":
    raise SystemExit(main())
