"""sf1 correctness mirror: run tools/check.py's protocol per query at
the synthesized 1000x scale (testdata_sf1), one query per line, with a
wall-clock budget per query so one infeasible oracle cannot sink the
batch.

The candidate set is the whole catalog in ``catalog.queries()`` order,
the uncapped pair miners included: on the gen_sf1 corpus their full
result sets are small enough to collect and hash (at most ~35k rows). If a corpus regeneration re-saturates the
shingle space, re-probe the oracle COUNTs before running them here.

The transcript goes to stdout only; redirect it to keep it.

Usage: python tools/sf1_mirror.py [query ...]   (default: the whole catalog)
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dropbox_duckdb_playground_spark import catalog  # noqa: E402

SF1 = os.path.join(REPO, "testdata_sf1")
PER_QUERY_TIMEOUT = 1200  # seconds, both engines + hash compare


def main() -> int:
    names = sys.argv[1:] or list(catalog.queries())
    print("sf1 (1000x, testdata_sf1) correctness mirror — tools/sf1_mirror.py")
    print(f"per-query timeout {PER_QUERY_TIMEOUT}s; protocol = tools/check.py")
    print("(row count + column names + order-insensitive value hash vs DuckDB)")
    print()
    n_pass = n_fail = 0
    for q in names:
        t0 = time.time()
        try:
            r = subprocess.run(
                [sys.executable, os.path.join(REPO, "tools", "check.py"), SF1, q],
                capture_output=True,
                text=True,
                timeout=PER_QUERY_TIMEOUT,
                cwd=REPO,
            )
            tail = [
                ln
                for ln in r.stdout.splitlines()
                if ln.startswith(("PASS", "FAIL"))
            ]
            dt = time.time() - t0
            if tail:
                line = f"{tail[-1]}  [{dt:.0f}s total both engines]"
                n_pass += tail[-1].startswith("PASS")
                n_fail += tail[-1].startswith("FAIL")
            else:
                line = f"FAIL {q}: no verdict line (rc={r.returncode}) [{dt:.0f}s]"
                n_fail += 1
        except subprocess.TimeoutExpired:
            line = f"TIMEOUT {q}: exceeded {PER_QUERY_TIMEOUT}s"
            n_fail += 1
        print(line, flush=True)
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
