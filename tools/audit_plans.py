"""Physical-plan audit over the whole catalog — the 100 TB lens.

Builds every catalog query at the given scale factor, captures
``explain("formatted")``, and grades each plan against the scale
checklist:

- **cartesian**: `CartesianProduct` / `BroadcastNestedLoopJoin` — a plan
  that multiplies partitions never survives a scale-up.
- **row_python**: `BatchEvalPython` = row-at-a-time Python UDF in the
  plan. (Arrow-vectorized stages — `ArrowEvalPython`, `MapInPandas`,
  `FlatMapGroupsInPandas` — are the sanctioned Python path and are
  reported separately, not flagged.)
- **unpruned_scan**: a parquet scan whose ReadSchema carries a column
  the query provably never uses (heuristic: the wide `*_comment` /
  `text` / `embedding` columns appearing in scans of queries whose
  output doesn't mention them — over-reads dominate IO cost at scale).
- **global_sort / single_partition window**: `Window` with an empty
  partition spec or a global `Sort` outside top-k — serializes the job
  on one task.

Also reported per query: shuffle count (`Exchange`), broadcast count,
and Arrow-Python stages. (Codegen spans only exist on the post-AQE
executed plan — `isFinalPlan=false` pre-execution — so they are not
auditable statically; tests/test_plans.py covers codegen-relevant
shapes.)

Usage: python tools/audit_plans.py [sf_dir] [out_md]
Writes PLANS.md (default) and exits non-zero if any hard flag fires.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HARD_FLAGS = ("cartesian", "row_python")

# Documented exceptions: plans that are allowed to carry a hard-flag
# shape because that IS their contract, with the scale path named.
ALLOWED = {
    # brute-force exact kNN is the recall baseline (similarity.py
    # docstring): broadcast queries x corpus is a cross product by
    # definition. The scale paths are q36 (LSH) and the IVF operator.
    "q28_cosine_knn": "cartesian",
    # IVF assignment scores every vector, and the probe every query,
    # against the centroid table by contract; the broadcast side is
    # bounded at nlist rows (a constant ~2^4-2^16 regardless of corpus
    # size), so the product grows only linearly with data. The
    # posting-list join below them is a hash equi-join.
    "q62_ivf_ann": "cartesian",
    # SemDeDup's cluster assignment is the same bounded join as q62's:
    # the corpus crosses the broadcast nlist-row centroid table.
    "q79_semantic_dedup": "cartesian",
    # scalar-subquery idiom: crossJoin(broadcast(<1-row aggregate>)) to
    # attach the 1-row countDistinct(doc_id) corpus size to the per-term
    # document frequencies (r13 fix replacing the eager .first() scalar
    # round-trip — same family as q68 below).
    "q61_idf": "cartesian",
    # scalar-subquery idiom: crossJoin(broadcast(<1-row aggregate>)) to
    # attach the corpus token total to the frequency table. The nested-
    # loop side is exactly one row by construction — Spark's standard
    # shape for a scalar, and the per-token work stays a hash equi-join.
    "q68_unigram_logprob": "cartesian",
    # same scalar-subquery idiom as q68: the broadcast side is the
    # 1-row global average-balance aggregate (TPC-H Q22 shape).
    "q76_dormant_customers": "cartesian",
    # reuses q28's brute-force exact-kNN baseline (bounded query block
    # broadcast x corpus); q36 LSH / q62 IVF are the scale paths.
    "q91_knn_classify": "cartesian",
    # scalar-subquery idiom (q68 family): the dangling-mass scalar is a
    # 1-row aggregate crossJoined back into each PageRank iteration.
    "q92_pagerank": "cartesian",
    # the 64-bucket register spine crossJoins the 3-row column-name
    # list — both sides are constants (192 rows total), not data-sized.
    "q93_hll_distinct": "cartesian",
    # scalar-subquery idiom: the 1-row (total, count) aggregate attaches
    # to the per-part value table for the HAVING threshold (TPC-H Q11).
    "q102_tpch_q11": "cartesian",
    # scalar-subquery idiom: the 1-row (n_docs, tot_dl) corpus aggregate
    # attaches to the scored postings for the BM25 length norm.
    "q106_bm25_topk": "cartesian",
    # scalar-subquery idiom: the 1-row global (min, max) aggregate
    # attaches to every row to derive the shared histogram bin edges.
    "q108_histogram_quantiles": "cartesian",
    # same (min, max) scalar idiom for the shared z-order bucket edges.
    "q111_zorder_layout": "cartesian",
    # scalar-subquery idiom: the 1-row total-bigram count attaches to
    # the (count>=5-pruned, vocabulary-bounded) bigram table for PMI.
    # global_window: the final top-20 rank runs `Window.orderBy` with no
    # partition — a deliberate single-task step over an input already
    # pruned to count>=5 bigrams of a bounded vocabulary (catalog.py
    # q116 docstring), i.e. the serialized rows cannot grow with corpus
    # size, only with vocabulary^2 after frequency pruning.
    "q116_bigram_pmi": ("cartesian", "global_window"),
}


def _top_groups(s: str) -> list[str]:
    """Top-level ``[...]`` groups by bracket depth — unlike a flat
    regex, nested brackets inside a group (array literals, nested
    window specs) do not split or shift the group boundaries."""
    groups: list[str] = []
    depth, start = 0, -1
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]" and depth:
            depth -= 1
            if depth == 0:
                groups.append(s[start : i + 1])
    return groups


def plan_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def audit_one(name: str, p: str, out_cols: list[str]) -> dict:
    flags: list[str] = []
    if "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p:
        flags.append("cartesian")
    if "BatchEvalPython" in p:
        flags.append("row_python")
    # Unpartitioned window: a Window node's `Arguments:` line prints
    # (windowExprs, partitionSpec, orderSpec) as top-level [..] groups,
    # OMITTING empty specs — so both `partitionBy(k)` (no order) and
    # `orderBy(k)` (no partition — the real single-task funnel) print
    # exactly TWO groups. The discriminator is the LAST group: an order
    # spec carries ASC/DESC sort directions, a partition spec is bare
    # column ids. (The old regex only matched the empty
    # `windowspecdefinition()` literal and missed `Window.orderBy`
    # without partitionBy entirely.)
    for ln in p.splitlines():
        if ln.startswith("Arguments:") and "windowspecdefinition" in ln:
            groups = _top_groups(ln)
            if len(groups) <= 2 and (
                len(groups) < 2
                or re.search(r"\b(ASC|DESC)\b", groups[-1])
                or groups[-1] == "[]"
            ):
                flags.append("global_window")
                break
    # over-read heuristic: wide payload columns scanned but absent from
    # the query's own output (joins/aggs that need them internally will
    # legitimately scan them — reviewed case-by-case below)
    reads = "\n".join(ln for ln in p.splitlines() if "ReadSchema" in ln)
    for wide in ("_comment", "embedding", "text"):
        if wide in reads and not any(wide in c for c in out_cols):
            # `text`/`embedding` feed the dedup/ANN pipelines: only flag
            # the TPC-ish comment columns, which nothing here consumes
            if wide == "_comment":
                flags.append(f"overread:{wide}")
    # formatted explain names each node twice (tree line + "(N) Op"
    # detail header) — count detail headers for true node counts
    def nodes(op: str) -> int:
        return len(re.findall(rf"^\(\d+\) {op}", p, re.M))

    return {
        "flags": flags,
        "shuffles": nodes("Exchange"),
        "broadcasts": nodes("BroadcastExchange"),
        "arrow_python": sum(
            nodes(t)
            for t in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
        ),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_md = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "PLANS.md")

    from dropbox_duckdb_playground_spark import catalog
    from dropbox_duckdb_playground_spark.session import get_spark, quiesce

    spark = get_spark("audit_plans")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    flagged: dict[str, str] = {}
    for name, fn in catalog.queries().items():
        try:
            df = fn(spark, sf_dir)
            p = plan_str(df)
            info = audit_one(name, p, df.columns)
        except Exception as exc:  # keep auditing; a build error is a flag
            rows.append((name, {"flags": [f"error:{exc}"[:80]], "shuffles": -1,
                                "broadcasts": 0, "arrow_python": 0}))
            quiesce(spark)
            continue
        allowed = ALLOWED.get(name, ())
        if isinstance(allowed, str):
            allowed = (allowed,)
        info["flags"] = [
            f"{f} (allowed: see ALLOWED)" if f in allowed else f
            for f in info["flags"]
        ]
        rows.append((name, info))
        if any(f in HARD_FLAGS for f in info["flags"]):
            flagged[name] = p
        quiesce(spark)

    lines = [
        "# PLANS — physical-plan audit of every catalog query",
        "",
        f"Generated by `tools/audit_plans.py` at `{sf_dir}`. Flags:",
        "`cartesian` (partition-multiplying join), `row_python`",
        "(row-at-a-time Python UDF — Arrow stages are fine and counted",
        "separately), `overread:*` (scan reads a wide column the query",
        "never consumes), `global_window` (unpartitioned window).",
        "",
        "| query | shuffles | broadcasts | arrow-python stages | flags |",
        "|---|---|---|---|---|",
    ]
    n_hard = 0
    for name, info in rows:
        fl = ", ".join(info["flags"]) or "—"
        if any(f in HARD_FLAGS for f in info["flags"]):
            n_hard += 1
        lines.append(
            f"| {name} | {info['shuffles']} | {info['broadcasts']} |"
            f" {info['arrow_python']} | {fl} |"
        )
    lines += [
        "",
        f"**Hard flags: {n_hard}** (cartesian / row-at-a-time Python).",
        "",
        "Shuffle counts are from the pre-AQE physical plan: AQE coalesces",
        "partitions and converts eligible sort-merge joins to broadcast at",
        "runtime, so the executed plan has at most this many exchanges.",
        "Arrow-python stages are the sanctioned imperative path (union-find",
        "contraction, batched model scoring, codecs) — each is documented",
        "at its operator.",
    ]
    if flagged:
        lines.append("\n## Flagged plans\n")
        for name, p in flagged.items():
            lines.append(f"### {name}\n\n```\n{p}\n```\n")
    with open(out_md, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_md}: {len(rows)} queries, {n_hard} hard-flagged")
    return 1 if n_hard else 0


if __name__ == "__main__":
    raise SystemExit(main())
