"""Local mirror of the driver's correctness gate.

Runs every catalog query on Spark and its oracle on DuckDB at the given
scale factor; compares row count, column names, and an order-insensitive
value hash (rows sorted, columns sorted by name, values stringified).

DRIVER-FAITHFUL since round 7 — two divergences from the driver's
protocol masked a combined 4 driver reds across rounds 5-6 (q54 via the
%.12g HUGEINT split, q115/q117 via unsortable array cells, q124 via the
ANSI divide-by-zero), so this mirror now reproduces both:

1. Canonicalization performs a TYPED pandas ``sort_values`` over every
   column first (the driver's ``_canon`` does exactly this), so any
   output whose cells pandas cannot sort — top-level arrays/maps, mixed
   object types — fails HERE the same way it fails THERE. The
   order-insensitive hash afterwards still string-sorts, so residual tie
   order between engines cannot flip the digest.
2. The Spark session runs with ``spark.sql.ansi.enabled=true`` — the
   driver's session is ANSI-on (Spark 4 default), while the package
   session defaults ANSI-off to match DuckDB's permissive casts. A
   query must be green under BOTH; this mirror checks the strict one.

Usage: python tools/check.py [sf_dir] [query ...]
(an unknown query name exits 2 before any query runs)
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile
import time
import traceback
import weakref

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dropbox_duckdb_playground_spark.catalog import TABLES  # noqa: E402


def norm_cell(v) -> str:
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # canonical float repr: 12 significant digits
        return f"{v:.12g}"
    return str(v)


def frame_digest(pdf) -> tuple[int, list[str], str]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    if len(pdf):
        # Driver-faithful step: typed sort over all columns. This is
        # where the driver's _canon throws "unhashable type: 'list'" on
        # array cells (r6 q115/q117) — it must throw here too.
        pdf = pdf.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    rows = ["\x1f".join(norm_cell(v) for v in row) for row in pdf.itertuples(index=False)]
    rows.sort()
    h = hashlib.md5("\x1e".join(rows).encode()).hexdigest()
    return len(pdf), cols, h


def oracle_memory_limit() -> int:
    """Bytes a DuckDB oracle connection may hold: half of the physical
    RAM that the Spark driver heap (``session.driver_mem()``) leaves, and
    at least 1 GiB. DuckDB's own default, 80% of RAM, ignores the driver
    heap in the same process."""
    from dropbox_duckdb_playground_spark.session import driver_mem, mem_bytes

    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(2**30, (ram - mem_bytes(driver_mem())) // 2)


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """One DuckDB connection with a view per catalog table in ``sf_dir``,
    capped at ``oracle_memory_limit()``.

    DuckDB spills to ``temp_directory``, which defaults to ``.tmp`` in
    the working directory; each connection gets its own directory under
    ``session.scratch_root()`` instead, removed with the connection."""
    from dropbox_duckdb_playground_spark.session import scratch_root

    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{oracle_memory_limit() // 2**20}MiB'")
    root = scratch_root()
    os.makedirs(root, exist_ok=True)
    spill = tempfile.mkdtemp(prefix="duckdb_spill_", dir=root)
    weakref.finalize(con, shutil.rmtree, spill, True)
    con.execute(f"SET temp_directory = '{spill}'")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def unknown_names(names, qs) -> list[str]:
    """The names not in the catalog ``qs``, in the order given."""
    return [n for n in names if n not in qs]


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = unknown_names(argv[1:], qs)
    if unknown:
        print(f"unknown query names: {' '.join(unknown)}", file=sys.stderr)
        return 2

    from dropbox_duckdb_playground_spark.session import get_spark

    spark = get_spark("check")
    # Driver-faithful step: the driver's session is ANSI-on (Spark 4
    # default); the package default is ANSI-off for DuckDB-permissive
    # parity. Queries must be green under both — mirror the strict one.
    spark.conf.set("spark.sql.ansi.enabled", "true")

    con = oracle_connection(sf_dir)
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
            s_n, s_cols, s_h = frame_digest(sdf)
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
            o_n, o_cols, o_h = frame_digest(odf)
        except Exception:
            print(f"FAIL {name}: oracle error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        if (s_n, s_cols, s_h) == (o_n, o_cols, o_h):
            print(f"PASS {name}: {s_n} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            print(
                f"FAIL {name}: spark(n={s_n}, cols={s_cols}, h={s_h[:8]}) "
                f"vs oracle(n={o_n}, cols={o_cols}, h={o_h[:8]})"
            )
            if s_cols == o_cols and s_n and o_n:
                # show a sample mismatch diff
                import pandas as pd

                a = sdf[sorted(sdf.columns)].astype(str)
                b = odf[sorted(odf.columns)].astype(str)
                a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
                b = b.sort_values(by=list(b.columns)).reset_index(drop=True)
                neq = (a != b).any(axis=1) if len(a) == len(b) else None
                if neq is not None and neq.any():
                    i = neq.idxmax()
                    print(f"  first diff row {i}:\n   spark : {a.iloc[i].to_dict()}\n   oracle: {b.iloc[i].to_dict()}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail on {spark.conf.get('spark.master')}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
