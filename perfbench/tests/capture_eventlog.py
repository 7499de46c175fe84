"""Regenerate ``data/eventlog_small.json``: a real Spark event log of two
short traced passes, cut down to the events and fields the fold reads,
together with the spans recorded around them.

    python3 perfbench/tests/capture_eventlog.py

Each pass runs, inside ``catalog.build``, one count job over 8 partitions,
and inside ``catalog.exec``, a ``mapInPandas`` over 1,000 rows in 4
partitions followed by a shuffle to 2 partitions.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench.run import configure_env, start_session, stop_session  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

KEEP = {
    "SparkListenerJobStart": ("Submission Time",),
    "SparkListenerStageCompleted": ("Stage Info",),
    "SparkListenerTaskEnd": ("Task Info", "Task Metrics"),
}
STAGE_FIELDS = ("Stage ID", "Submission Time", "Completion Time", "Number of Tasks")


def _trim_plan(info: dict) -> dict:
    return {"nodeName": info["nodeName"],
            "metrics": info.get("metrics", []),
            "children": [_trim_plan(c) for c in info.get("children", ())]}


def trim(ev: dict) -> dict | None:
    kind = ev["Event"]
    if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
        return {"Event": kind, "sparkPlanInfo": _trim_plan(ev["sparkPlanInfo"])}
    if kind not in KEEP:
        return None
    out = {"Event": kind, **{k: ev[k] for k in KEEP[kind] if k in ev}}
    if kind == "SparkListenerStageCompleted":
        out["Stage Info"] = {k: ev["Stage Info"].get(k) for k in STAGE_FIELDS}
    return out


def main() -> None:
    work = tempfile.mkdtemp(prefix="perfbench-capture-")
    try:
        configure_env(work)
        log_dir = os.path.join(work, "eventlog")
        spark = start_session(work, log_dir)
        tracer = Tracer(True)
        for p in range(2):
            tracer.pass_no = p
            with tracer.span("bench.other"):
                with tracer.span("catalog.build"):
                    spark.range(0, 10_000, numPartitions=8).count()
                with tracer.span("catalog.exec"):
                    df = spark.range(0, 1000, numPartitions=4).mapInPandas(
                        lambda it: (b.assign(id=b.id * 2) for b in it), "id long")
                    df.repartition(2).write.format("noop").mode("overwrite").save()
        stop_session(spark)
        events = []
        for name in os.listdir(log_dir):
            with open(os.path.join(log_dir, name)) as fh:
                events += [t for t in (trim(json.loads(line)) for line in fh) if t]
        out = {"spans": [dataclasses.asdict(s) for s in tracer.spans], "events": events}
        with open(os.path.join(HERE, "data", "eventlog_small.json"), "w") as fh:
            json.dump(out, fh, indent=None, separators=(",", ":"))
            fh.write("\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
