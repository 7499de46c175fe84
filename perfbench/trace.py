"""Spans around the benchmark's calls into each layer, and the fold of
Spark's event log onto them.

Spans live in memory and are read when the run ends. A span records its
name, wall-clock start and end (epoch seconds, the event log's clock) and
the span it sits in. Ops run one after another, so a Spark job, stage or
task belongs to the innermost span open when it was submitted or launched.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass

MB = 2**20

# Plan nodes that ship rows to Python workers (pandas / Arrow UDFs,
# mapInPandas, batch Python UDFs).
_PYTHON_NODE = re.compile(r"EvalPython|InPandas|InArrow|PythonUDTF")
_PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    pass_no: int


class Tracer:
    """Records spans and counters for the pass set by ``pass_no``. A
    disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.pass_no = 0
        self.spans: list[Span] = []
        self.counters: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, time.time(), float("nan"), parent, self.pass_no))
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx].end = time.time()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[self.pass_no][name] += value

    def self_times(self) -> dict[int, dict[str, float]]:
        """Per pass, per span name: summed duration minus the part covered
        by child spans, reported as ``<name>_s``."""
        child_s = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child_s[sp.parent] += sp.end - sp.start
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for sp, covered in zip(self.spans, child_s):
            out[sp.pass_no][f"{sp.name}_s"] += sp.end - sp.start - covered
        return out


def read_event_log(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _walk_plan(info: dict) -> Iterable[dict]:
    yield info
    for child in info.get("children", ()):
        yield from _walk_plan(child)


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def fold_event_log(events: list[dict], spans: list[Span]) -> dict[int, dict[str, float]]:
    """Per pass, the Spark counters of the jobs, stages and tasks that
    started inside that pass's spans. Events outside every span (warm-up,
    output checks) are left out."""
    order = sorted(range(len(spans)), key=lambda i: spans[i].start)

    def innermost(t_ms: float) -> Span | None:
        t = t_ms / 1000.0
        found = None
        for i in order:
            sp = spans[i]
            if sp.start > t:
                break
            if t <= sp.end:
                found = sp  # later starts are nested deeper
        return found

    python_rows: set[int] = set()
    python_bytes: set[int] = set()
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    first_job: dict[int, float] = {}
    span_index = {id(sp): i for i, sp in enumerate(spans)}

    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            for node in _walk_plan(ev.get("sparkPlanInfo", {})):
                if _PYTHON_NODE.search(node.get("nodeName", "")):
                    for m in node.get("metrics", ()):
                        if m["name"] == "number of output rows":
                            python_rows.add(m["accumulatorId"])
                        elif m["name"] in _PYTHON_BYTES:
                            python_bytes.add(m["accumulatorId"])
        elif kind == "SparkListenerJobStart":
            sp = innermost(ev["Submission Time"])
            if sp is None:
                continue
            out[sp.pass_no]["spark.jobs"] += 1
            if sp.name == "catalog.build":
                out[sp.pass_no]["catalog.build_jobs"] += 1
            if sp.name == "catalog.exec":
                i = span_index[id(sp)]
                first_job[i] = min(first_job.get(i, float("inf")), ev["Submission Time"] / 1000.0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sp = innermost(info.get("Submission Time") or 0)
            if sp is not None:
                out[sp.pass_no]["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            sp = innermost(info["Launch Time"])
            if sp is None:
                continue
            c = out[sp.pass_no]
            c["spark.tasks"] += 1
            run_ms = tm.get("Executor Run Time", 0)
            busy_ms = (run_ms + tm.get("Executor Deserialize Time", 0)
                       + tm.get("Result Serialization Time", 0)
                       + info.get("Getting Result Time", 0))
            c["spark.sched_delay_s"] += max(0, info["Finish Time"] - info["Launch Time"] - busy_ms) / 1000
            c["spark.executor_run_s"] += run_ms / 1000
            c["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            c["spark.jvm_gc_s"] += tm.get("JVM GC Time", 0) / 1000
            c["spark.input_mb"] += tm.get("Input Metrics", {}).get("Bytes Read", 0) / MB
            sw = tm.get("Shuffle Write Metrics", {})
            c["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            sr = tm.get("Shuffle Read Metrics", {})
            c["spark.shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
            c["spark.spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
            written = tm.get("Output Metrics", {}).get("Bytes Written", 0)
            if written and sp.name != "sources.csv_write":
                # every Parquet write of the ETL dataflow goes through Engine
                c["engine.bytes_written_mb"] += written / MB
                c["engine.files_written"] += 1
            for acc in info.get("Accumulables", ()):
                if acc.get("ID") in python_rows:
                    c["spark.python_rows"] += _num(acc.get("Update"))
                elif acc.get("ID") in python_bytes:
                    c["spark.python_mb"] += _num(acc.get("Update")) / MB

    for i, t_job in first_job.items():
        out[spans[i].pass_no]["spark.plan_s"] += t_job - spans[i].start
    return out
