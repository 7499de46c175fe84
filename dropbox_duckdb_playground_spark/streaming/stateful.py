"""Custom stateful streaming operator (applyInPandasWithState).

The reference is batch-only; its incrementality is snapshot+diff
(SURVEY §2.12). This is the stateful-stream version of the recurring
keep-first dedup in its workload (crawl.py's keep-first merge C3),
expressed as an arbitrary-state operator so the pattern generalizes to
any training-data-pipeline stream (e.g. first-seen URL dedup at ingest).

Scale: state lives in the executor state store partitioned by key
(RocksDB-backed on a real cluster); each micro-batch touches only the
keys present in that batch. State holds one boolean per key ever seen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def first_seen_dedup(events: DataFrame, key: str, out_schema: str) -> DataFrame:
    """Emit only the FIRST row ever seen per key; drop every later
    duplicate. Streaming twin of ``keep_first_merge`` (C3).

    ``out_schema`` must name the columns to keep (key first)."""
    from pyspark.sql.types import _parse_datatype_string

    # proper schema parse — naive comma-splitting breaks on types that
    # contain commas themselves (decimal(10,2), struct<...>)
    cols = _parse_datatype_string(out_schema).fieldNames()

    def run(key_tuple, pdfs, state: GroupState):
        first = None
        for pdf in pdfs:
            if first is None and len(pdf):
                first = pdf.iloc[[0]][cols]
        if not state.exists and first is not None:
            state.update((True,))
            yield first

    return events.groupBy(key).applyInPandasWithState(
        run, out_schema, "seen boolean", "append", GroupStateTimeout.NoTimeout
    )
