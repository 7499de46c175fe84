"""HTML list source (S8) + external bulk-load trigger (S11).

S8: the reference scrapes the package-name universe from the PyPI
simple index — one GET, then anchor-text extraction
(reference: examples/canon/trigger.py:28-52). The page is a single
small document, so parsing is a driver-side step that *produces* a
DataFrame (the trigger table the crawl fans out over); the distributed
part is the crawl itself (sources.http.fetch_json_table).

S11: the reference shells out to ``redisgraph-bulk-insert`` with one
``-n/-r`` flag per exported CSV (reference: examples/run_ingest.py:4-16).
We build the identical command from the typed-CSV export layout; the
flagship example prints it, and running the external tool is workload
territory.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_ANCHOR = re.compile(r"<a[^>]*>([^<]+)</a>", re.IGNORECASE)


def parse_name_listing(html: str) -> list[str]:
    """Anchor texts of a simple-index style page, in document order."""
    return [m.group(1).strip() for m in _ANCHOR.finditer(html) if m.group(1).strip()]


def name_listing_table(
    spark: SparkSession,
    url: str,
    fetcher: Callable[[str, str | None], tuple[int, str | None, str | None]] | None = None,
) -> DataFrame:
    """Fetch + parse a name-listing page into a 1-column DataFrame —
    the trigger table for the distributed crawl. ``fetcher`` is
    injectable (tests pass a fake; default is the retrying urllib
    fetcher from sources.http)."""
    if fetcher is None:
        from dropbox_duckdb_playground_spark.sources.http import default_fetcher

        fetcher = default_fetcher()
    status, body, _etag = fetcher(url, None)
    if status != 200 or body is None:
        raise RuntimeError(f"name listing fetch failed: {url} -> {status}")
    names = parse_name_listing(body)
    return spark.createDataFrame([(n,) for n in names], schema="name string")


def bulk_insert_command(
    graph_name: str,
    node_csvs: dict[str, str],
    link_csvs: dict[str, str],
    redis_url: str | None = None,
) -> list[str]:
    """argv for ``redisgraph-bulk-insert`` over the typed-CSV exports
    (labels/relations keyed to file paths, run_ingest.py:4-16)."""
    cmd = ["redisgraph-bulk-insert", graph_name]
    if redis_url:
        cmd += ["--redis-url", redis_url]
    for label, path in sorted(node_csvs.items()):
        cmd += ["-n", path]
        _ = label  # label travels inside the CSV header (:ID(label))
    for rel, path in sorted(link_csvs.items()):
        cmd += ["-r", path]
        _ = rel
    return cmd
