"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark, run one pass of each workload at a reduced
size and take about three minutes together.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench import run  # noqa: E402
from perfbench.trace import Span, Tracer, fold_event_log  # noqa: E402


def _captured():
    with open(os.path.join(HERE, "data", "eventlog_small.json")) as fh:
        data = json.load(fh)
    return data["events"], [Span(**s) for s in data["spans"]]


def test_fold_small_event_log():
    # see capture_eventlog.py for the jobs behind this log
    events, spans = _captured()
    folded = fold_event_log(events, spans)
    assert sorted(folded) == [0, 1]
    for p in (0, 1):
        c = folded[p]
        assert c["spark.jobs"] == 4
        assert c["catalog.build_jobs"] == 2
        assert c["spark.stages"] == 4
        assert c["spark.tasks"] == 8 + 1 + 4 + 2
        assert c["spark.python_rows"] == 1000
        assert c["spark.python_mb"] > 0
        assert c["spark.shuffle_write_mb"] == c["spark.shuffle_read_mb"] > 0
        assert c["spark.input_mb"] == 0
        assert c["spark.spill_mb"] == 0
        exec_span = next(s for s in spans if s.pass_no == p and s.name == "catalog.exec")
        assert 0 < c["spark.plan_s"] < exec_span.end - exec_span.start
        assert 0 < c["spark.executor_cpu_s"] <= c["spark.executor_run_s"]


def test_fold_ignores_events_outside_spans():
    events, spans = _captured()
    assert fold_event_log(events, []) == {}
    later = [Span(s.name, s.start + 3600, s.end + 3600, s.parent, s.pass_no) for s in spans]
    assert fold_event_log(events, later) == {}


def test_self_time_excludes_child_spans():
    tr = Tracer(True)
    with tr.span("outer"):
        time.sleep(0.05)
        with tr.span("inner"):
            time.sleep(0.1)
    t = tr.self_times()[0]
    assert 0.04 < t["outer_s"] < 0.09
    assert t["inner_s"] >= 0.1


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x"):
        tr.count("c", 1)
    assert tr.spans == [] and tr.counters == {}


def test_forked_copy_shares_its_pages():
    from perfbench.procstat import tree_pids, tree_pss_mb

    me = os.getpid()
    alone = tree_pss_mb(me)
    pid = os.fork()
    if pid == 0:  # child: shares the parent's pages until it writes them
        time.sleep(2)
        os._exit(0)
    try:
        time.sleep(0.3)
        assert pid in tree_pids(me)
        assert tree_pss_mb(me) < 1.5 * alone
    finally:
        os.waitpid(pid, 0)


def test_sampler_keeps_its_own_cpu_time():
    from perfbench.procstat import PeakPss

    with PeakPss(os.getpid(), interval_s=0.01) as mem:
        time.sleep(0.3)
    assert mem.peak_mb > 0
    assert 0 < mem.cpu_s < 0.3


def test_predicted_resolution_follows_the_scorer():
    from perfbench.datagen import predict_resolution

    # one person spelled two ways, and a second person
    assert predict_resolution(["John Smith", "john  smith", "Jane Doe"]) == {
        "candidate_pairs": 1, "matches": 1, "entities": 2}
    # a shared first-four-letter block: the scorer keeps the pair with the
    # same surname and rejects the one without
    same = predict_resolution(["christian smith", "christopher smith"])
    other = predict_resolution(["christian smith", "christopher garcia"])
    assert same == {"candidate_pairs": 1, "matches": 1, "entities": 1}
    assert other == {"candidate_pairs": 1, "matches": 0, "entities": 2}
    # the block-size cap drops oversized blocks before pairing
    assert predict_resolution(["ab x", "ab y", "ab z"], max_block_size=2)["candidate_pairs"] == 0


class _SleepyWorkload:
    def __init__(self, fail: bool):
        self.fail = fail

    def pass_ops(self):
        def ok(spark, tracer):
            time.sleep(0.05)

        def maybe_bad(spark, tracer):
            time.sleep(0.05)
            if self.fail:
                raise RuntimeError("forced failure")

        return [("ok", ok), ("maybe_bad", maybe_bad)]


def test_failing_op_counts_and_keeps_its_time():
    walls_ok, by_op_ok, fails_ok = run.timed_passes(None, _SleepyWorkload(False), Tracer(False), 0)
    walls, by_op, fails = run.timed_passes(None, _SleepyWorkload(True), Tracer(False), 0)
    assert fails_ok == {} and fails == {"maybe_bad": 1}
    assert run.count_failed(by_op, fails, {}) == 1
    # the failed op's time stays in the pass: wall_s cannot drop
    assert walls[0] >= 0.1 and walls_ok[0] >= 0.1
    assert by_op["maybe_bad"][0] >= 0.05


def test_failed_output_check_counts_every_run_once():
    by_op = {"a": [0.1, 0.1, 0.1], "b": [0.2, 0.2, 0.2]}
    assert run.count_failed(by_op, {}, {"a": "wrong digest"}) == 3
    assert run.count_failed(by_op, {"a": 1}, {"a": "wrong digest"}) == 3
    assert run.count_failed(by_op, {"b": 2}, {"a": "wrong digest"}) == 5


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_smoke_run_prints_every_metric(workload, trace, monkeypatch, capsys):
    monkeypatch.setattr(run, "ETL_PACKAGES", 100)
    code = run.main(["--workload", workload, "--seed", "7", "--seconds", "0",
                     "--trace", str(trace)])
    assert code == 0
    lines = capsys.readouterr().out.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    want = run.E2E_UNITS if not trace else {n: run.layer_unit(n) for n in run.PER_LAYER}
    assert {k: m["unit"] for k, m in result["metrics"].items()} == want
    assert all(isinstance(m["value"], float | int) for m in result["metrics"].values())
    for name, m in result["metrics"].items():
        assert any(line.split()[1:] == [name, f"{m['value']:.6g}", m["unit"]] for line in lines)
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
