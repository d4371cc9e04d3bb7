"""The benchmark's own tests: span self time, the event-log fold on a
tiny traced build, and failure accounting. Run with

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import os
import threading
import time

import pytest

import run
from kgbench import eventlog, traced
from kgbench.tracing import Tracer
from kgbench.workloads import Ctx, KgBatch, materialize_corpus, materialize_truth

N_DOCS = 60


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_is_span_minus_child_spans():
    clock = FakeClock()
    tr = Tracer(None, clock=clock, epoch_ms=lambda: int(clock.t * 1000))
    with tr.span("op") as op:
        clock.t = 1.0
        with tr.span("a"):
            clock.t = 3.0
            with tr.span("a.inner"):
                clock.t = 3.5
        clock.t = 4.0
        with tr.span("b"):
            clock.t = 6.0
        clock.t = 10.0
    a, inner, b = tr.spans[1:]
    assert inner.parent == tr.spans.index(a) and b.parent == 0
    assert op.duration == 10.0
    assert tr.self_time(op) == 10.0 - 2.5 - 2.0
    assert tr.self_time(a) == 2.5 - 0.5
    assert tr.self_time(b) == 2.0


def test_fold_attributes_tasks_by_job_group():
    def task_end(stage, run_ms, cpu_ns):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": 5},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Executor CPU Time": cpu_ns,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                                 "Disk Bytes Spilled": 0}}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "ner"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        # a later job reusing stage 1 keeps the group of its first job
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 3],
         "Properties": {"spark.jobGroup.id": "perfbench"}},
        task_end(0, 100, 40_000_000), task_end(0, 300, 100_000_000),
        task_end(1, 900, 0), task_end(2, 100, 0), task_end(3, 500, 0),
    ]
    tasks = eventlog.fold(events)
    ner = [t for t in tasks if t.group == "ner"]
    s = eventlog.summarize(ner)
    assert s["tasks"] == 3 and s["task_s"] == 1.3
    assert s["py_s"] == pytest.approx(1.3 - 0.14)
    assert s["shuffle_bytes"] == 21
    assert s["skew"] == 300 / 200  # stage 0; one-task stage 1 reads 1.0
    assert eventlog.untagged_share(tasks, exclude=["perfbench"]) == 100 / 1400


@pytest.fixture(scope="module")
def traced_ctx(tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("run"))
    spark, _ = run.start_session(run_dir, 2, trace=True)
    ctx = Ctx(spark, run_dir, 7, Tracer(spark.sparkContext))
    yield ctx
    run.stop_session(spark)


def test_event_log_fold_covers_every_layer(traced_ctx):
    ctx = traced_ctx
    corpus = ctx.path("corpus")
    with ctx.bench():
        materialize_corpus(ctx, corpus, N_DOCS)
    b = traced.traced_build(ctx, corpus, ctx.path("kg"), "test")
    # the event log is flushed at every job end, so it is readable live
    tasks = eventlog.fold(eventlog.read_events(os.path.join(ctx.run_dir, "eventlog")))
    groups = {t.group for t in tasks}
    for layer in [*traced.BATCH_LAYERS, "lineage.write"]:
        assert layer in groups
        s = eventlog.summarize([t for t in tasks if t.group == layer])
        assert s["tasks"] > 0 and s["task_s"] > 0, layer
    assert b["rows"]["components.nodes"] > 0
    in_op = eventlog.in_window(tasks, b["op"].start_ms, b["op"].end_ms)
    share = eventlog.untagged_share(in_op, exclude=["perfbench"])
    assert 0.0 <= share < 0.05  # every job of the traced build is in a layer


def test_fail_frac_counts_a_failed_pr_check(traced_ctx):
    ctx = traced_ctx
    corpus = ctx.path("corpus_pr")
    with ctx.bench():
        materialize_corpus(ctx, corpus, N_DOCS)
        ctx.seed = 8  # truth of another corpus: P/R falls below 0.95
        truth = materialize_truth(ctx, N_DOCS)
        ctx.seed = 7
    wl = KgBatch(ctx, corpus, truth, N_DOCS)
    journal = run.Journal(ctx.path("journal.jsonl"))
    ops = run.measure(wl, 0.0, journal, time.monotonic(), threading.Event())
    journal.close()
    assert len(ops) == 1 and not ops[0]["ok"]
    assert "triple P/R" in ops[0]["error"]
    m = run.e2e_metrics(ops, setup_s=1.0, peak_rss_mb=1.0)
    assert run.named_metrics("kg_batch", m, ops, failed=1)["fail_frac"] == 1.0
