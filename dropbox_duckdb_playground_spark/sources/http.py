"""Distributed HTTP JSON ingestion (S7-S9) — the reference's PyPI crawl
(examples/canon/crawl.py:57-91, trigger.py:28-52) as a Spark source stage.

Design: the *url list* is a DataFrame; fetching runs in
``mapInPandas`` so a 1000-executor cluster crawls in parallel — the
Spark replacement for the reference's
ThreadPool(16) (crawl.py:130-133). Etag-conditional refresh (S9) sends
``If-None-Match`` and flags 304s so the caller keeps the cached row
(keep-first merge, operators.relational.keep_first_merge).

The HTTP client (`requests`/urllib) is gated behind import-try; tests
inject a fake fetcher. Network access is workload territory — the engine
only owns the dataflow shape.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame

FetchFn = Callable[[str, str | None], tuple[int, str | None, str | None]]
"""(url, etag) -> (status_code, body_json, new_etag)"""


#: per-request timeout and attempts of ``default_fetcher``
FETCH_TIMEOUT_S = 10.0
FETCH_RETRIES = 3


def default_fetcher() -> FetchFn:
    """urllib-based fetcher with the reference's retry×3 + 404-skip
    semantics (crawl.py:57-91)."""
    import urllib.error
    import urllib.request

    def fetch(url: str, etag: str | None) -> tuple[int, str | None, str | None]:
        last_err: Exception | None = None
        for _ in range(FETCH_RETRIES):
            try:
                req = urllib.request.Request(url)
                if etag:
                    req.add_header("If-None-Match", etag)
                with urllib.request.urlopen(req, timeout=FETCH_TIMEOUT_S) as resp:
                    return resp.status, resp.read().decode(), resp.headers.get("ETag")
            except urllib.error.HTTPError as e:
                if e.code in (304, 404):
                    return e.code, None, etag
                last_err = e
            except Exception as e:  # transient network error — retry
                last_err = e
            time.sleep(0.5)
        raise RuntimeError(f"fetch failed after {FETCH_RETRIES} tries: {url}") from last_err

    return fetch


def fetch_json_table(
    urls: DataFrame, fetcher: FetchFn | None = None, etag_col: str | None = None
) -> DataFrame:
    """urls(url[, etag]) -> (url, status, body, etag).

    status 304 rows carry body NULL — merge them against the cache with
    `keep_first_merge`. Partition count controls crawl parallelism:
    ``urls.repartition(n)`` first."""
    fetcher = fetcher or default_fetcher()
    cols = ["url"] + ([etag_col] if etag_col else [])
    slim = urls.select(*cols)

    def run(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = {"url": [], "status": [], "body": [], "etag": []}
            etags = pdf[etag_col].values if etag_col else [None] * len(pdf)
            for url, etag in zip(pdf["url"].values, etags):
                status, body, new_etag = fetcher(url, etag)
                out["url"].append(url)
                out["status"].append(status)
                out["body"].append(body)
                out["etag"].append(new_etag)
            yield pd.DataFrame(out)

    return slim.mapInPandas(
        run, schema="url string, status int, body string, etag string"
    )


def parse_json_body(fetched: DataFrame, schema: str) -> DataFrame:
    """Typed parse of fetched bodies (N1 analog): from_json with a
    declared schema — never infer on crawl output."""
    from pyspark.sql import functions as F

    return fetched.filter(F.col("body").isNotNull()).withColumn(
        "parsed", F.from_json("body", schema)
    )
