#!/usr/bin/env python3
"""KG construction benchmark for pg_iui_ner_api_spark.

One run: start a Spark session pinned to this process's cores, build the
workload's inputs from ``--seed``, warm up, then run ops of the workload
for ``--seconds`` seconds, checking each op's output. The last line of
standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics listed in
BENCHMARK.json, measured with no span or job tagging; with ``--trace 1``
they are its per-layer metrics, from one traced run (kgbench/traced.py).
Every op record is also printed and appended to
``.perfbench/journal/<workload>-s<seed>-t<trace>.jsonl`` the moment it
completes, so a killed run still leaves every finished op readable.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --summary --seed 1    # all three workloads, by name
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("kg_batch", "kg_query", "kg_incremental")
JVM_HEAP = "2g"           # fixed heap (-Xms = -Xmx): steady RSS and GC
RUN_DEADLINE_S = 165      # all Spark jobs are cancelled past this point
NO_NEW_OP_AFTER_S = 120   # no op starts this long after process start


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--summary", action="store_true",
                   help="run every workload untraced and print each "
                        "end-to-end metric by name with its unit")
    args = p.parse_args(argv)
    if not args.summary and args.workload is None:
        p.error("--workload is required (or --summary)")
    return args


class Journal:
    """The JSON-lines record of one run, flushed per line and echoed to stdout."""

    def __init__(self, path: str):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self.f = open(path, "w")

    def write(self, rec: dict, echo: bool = True) -> None:
        line = json.dumps(rec, default=str)
        self.f.write(line + "\n")
        self.f.flush()
        if echo:
            print(line, flush=True)

    def close(self) -> None:
        self.f.close()


def journal_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(STATE, "journal", f"{workload}-s{seed}-t{trace}.jsonl")


def clear_stale_runs(runs: str) -> None:
    """Removes run directories whose process is gone (a killed run)."""
    if not os.path.isdir(runs):
        return
    for d in os.listdir(runs):
        pid = d.rsplit("-", 1)[-1]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)


def start_session(run_dir: str, cores: int, trace: bool):
    """The engine's own session factory, pinned to ``local[cores]``, with
    every file Spark writes kept inside the run directory."""
    from pg_iui_ner_api_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # no hsperfdata files under the system temp dir, from either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf |= {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + log_dir,
                 "spark.eventLog.compress": "false"}
    t0 = time.monotonic()
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.monotonic() - t0


def stop_session(spark) -> None:
    """Stops Spark, then the gateway JVM it runs in, and waits for it."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Watchdog:
    """Once the run has lasted ``seconds``, cancels every Spark job, and
    every job started after it, until ``cancel``; so a run past its
    deadline fails within seconds. ``fired`` tells the op loop to start
    no further op."""

    def __init__(self, sc, seconds: float):
        self.fired = threading.Event()
        self._done = threading.Event()
        self._timer = threading.Timer(seconds, self._fire, args=(sc,))
        self._timer.daemon = True
        self._timer.start()

    def _fire(self, sc) -> None:
        self.fired.set()
        while not self._done.is_set():
            try:
                sc.cancelAllJobs()
            except Exception:  # the session is stopping
                return
            self._done.wait(1.0)

    def cancel(self) -> None:
        self._done.set()
        self._timer.cancel()


def measure(wl, seconds: float, journal: Journal, t_start: float, stop: threading.Event):
    """Runs whole ops within a window of ``seconds``, at least one: an op
    starts only if, taking as long as the last one, it ends in time."""
    from kgbench.workloads import CheckFailed

    ops = []
    deadline = time.monotonic() + seconds
    while True:
        rec = {"kind": "op", "workload": wl.name, "i": len(ops)}
        t0 = time.monotonic()
        try:
            rec |= wl.op(len(ops))
            rec["ok"] = True
        except CheckFailed as e:
            rec |= {"ok": False, "error": str(e)}
        except Exception as e:  # an op that raises is a failed op; go on
            rec |= {"ok": False, "error": f"{type(e).__name__}: {e}"[:2000]}
            traceback.print_exc()
        now = time.monotonic()
        rec["attempt_s"] = now - t0
        journal.write(rec)
        ops.append(rec)
        if (now + rec["attempt_s"] > deadline or stop.is_set()
                or now - t_start > NO_NEW_OP_AFTER_S or not wl.has_next()):
            return ops


def e2e_metrics(ops: list[dict], setup_s: float, peak_rss_mb: float) -> dict:
    from kgbench.workloads import median

    ok = [o for o in ops if o["ok"]]
    m = {"setup_s": setup_s, "peak_rss_mb": peak_rss_mb}
    if not ok:  # every op failed: report the attempts, zero for the rest
        return m | {"docs_per_s": 0.0, "op_s": median([o["attempt_s"] for o in ops]),
                    "triple_precision": 0.0, "triple_recall": 0.0}
    for key in ("docs_per_s", "op_s", "triple_precision", "triple_recall"):
        m[key] = median([o[key] for o in ok])
    return m


def named_metrics(workload: str, m: dict, ops: list[dict], failed: int) -> dict:
    """The end-to-end metrics under the names the summary prints."""
    from kgbench.workloads import median

    out = {"setup_s": m["setup_s"], "peak_rss_mb": m["peak_rss_mb"],
           "triple_precision": m["triple_precision"],
           "triple_recall": m["triple_recall"], "fail_frac": failed / len(ops)}
    if workload == "kg_batch":
        out["kg_docs_per_s"] = m["docs_per_s"]
    elif workload == "kg_query":
        out["kg_query_s"] = m["op_s"]
    else:
        out["inc_docs_per_s"] = m["docs_per_s"]
        out["inc_compact_s"] = median([o["compact_s"] for o in ops if o["ok"]] or [0.0])
    return out


def run_e2e(args, spark, session_s: float, journal: Journal, t_start: float,
            stop: threading.Event):
    from kgbench import host
    from kgbench.tracing import Tracer
    from kgbench.workloads import (SIZES, Ctx, KgBatch, KgIncremental, KgQuery,
                                   materialize_corpus, materialize_truth)

    ctx = Ctx(spark, args.run_dir, args.seed, Tracer(None))
    t0 = time.monotonic()
    if args.workload == "kg_incremental":
        n_batches = 2 + int(args.seconds // 10)
        wl = KgIncremental(ctx, n_batches, SIZES["inc_batch"])
        n_docs = wl.n_docs
    else:
        n_docs = SIZES[args.workload]
    corpus = ctx.path("corpus")
    corpus_s = materialize_corpus(ctx, corpus, n_docs)
    truth = materialize_truth(ctx, n_docs)
    if args.workload == "kg_incremental":
        detail = wl.setup(corpus, truth)
    else:
        batch = KgBatch(ctx, corpus, truth, n_docs)
        wl = batch if args.workload == "kg_batch" else KgQuery(ctx, batch, ctx.path("kg"))
        detail = wl.setup()
    setup_s = session_s + (time.monotonic() - t0)
    journal.write({"kind": "setup", "setup_s": setup_s, "session_s": session_s,
                   "corpus_s": corpus_s, "docs": n_docs, **detail})

    proc = spark.sparkContext._gateway.proc
    with host.MemSampler(proc.pid) as mem:
        ops = measure(wl, args.seconds, journal, t_start, stop)
        peak = mem.peak_mb()
    t_verify = time.monotonic()
    setup_check = wl.finish(ops)
    journal.write({"kind": "verify", "verify_s": time.monotonic() - t_verify,
                   "setup_fold": setup_check,
                   "ops": [{k: o.get(k) for k in ("i", "ok", "error")} for o in ops]})
    failed = sum(not o["ok"] for o in ops)
    m = e2e_metrics(ops, setup_s, peak)
    correct = failed == 0 and setup_check["ok"]
    return m, len(ops), failed, correct, named_metrics(args.workload, m, ops, failed)


def run_traced(args, spark):
    """The traced tour; returns its context and raw spans and results.
    The event log is complete only once the session has stopped."""
    from kgbench import traced
    from kgbench.tracing import Tracer
    from kgbench.workloads import SIZES, Ctx, materialize_corpus, materialize_truth

    ctx = Ctx(spark, args.run_dir, args.seed, Tracer(spark.sparkContext))
    n_docs = SIZES["traced"]
    with ctx.bench():
        corpus = ctx.path("corpus")
        materialize_corpus(ctx, corpus, n_docs)
        truth = materialize_truth(ctx, n_docs)
    return ctx, traced.tour(ctx, corpus, truth, n_docs, args.workload)


def traced_metrics(args, ctx, raw: dict, session_s: float, journal: Journal) -> dict:
    from kgbench import eventlog, traced

    tasks = eventlog.fold(eventlog.read_events(os.path.join(args.run_dir, "eventlog")))
    m = traced.metrics(ctx, raw, tasks, args.workload, session_s)
    spans = [{"name": s.name, "parent": s.parent, "group": s.group,
              "duration_s": s.duration, "self_s": ctx.tracer.self_time(s)}
             for s in ctx.tracer.spans if s.name != "perfbench"]
    journal.write({"kind": "spans", "spans": spans,
                   "coverage": traced.coverage(ctx.tracer, raw, tasks)})
    return m


def emit(spec_metrics: list[dict], values: dict) -> dict:
    missing = [s["name"] for s in spec_metrics if s["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {s["name"]: {"value": values[s["name"]], "unit": s["unit"]}
            for s in spec_metrics}


def run_one(args) -> int:
    t_start = time.monotonic()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import pg_iui_ner_api_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    from kgbench import host
    from kgbench.workloads import SIZES

    pin = host.pin_to_affinity()
    runs = os.path.join(STATE, "runs")
    clear_stale_runs(runs)
    args.run_dir = os.path.join(
        runs, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(args.run_dir)
    journal = Journal(journal_path(args.workload, args.seed, args.trace))
    journal.write({"kind": "facts", **host.facts(), "pin": pin, "seed": args.seed,
                   "workload": args.workload, "seconds": args.seconds,
                   "trace": args.trace, "docs": SIZES, "jvm_heap": JVM_HEAP})
    spark = dog = None
    try:
        spark, session_s = start_session(args.run_dir, len(pin), bool(args.trace))
        dog = Watchdog(spark.sparkContext, RUN_DEADLINE_S - (time.monotonic() - t_start))
        if args.trace:
            t_tour = time.monotonic()
            ctx, raw = run_traced(args, spark)
            t_stop = time.monotonic()
            stop_session(spark)
            spark = None
            t_fold = time.monotonic()
            values = traced_metrics(args, ctx, raw, session_s, journal)
            journal.write({"kind": "trace_timing", "tour_s": t_stop - t_tour,
                           "stop_s": t_fold - t_stop,
                           "fold_s": time.monotonic() - t_fold}, echo=False)
            attempted, failed, correct, named = raw["ops"], 0, True, {}
            metrics = emit(spec["per_layer"], values)
        else:
            values, attempted, failed, correct, named = run_e2e(
                args, spark, session_s, journal, t_start, dog.fired)
            metrics = emit(spec["end_to_end"], values)
        result = {"correct": correct, "attempted": attempted,
                  "failed": failed, "metrics": metrics}
        journal.write({"kind": "result", "named": named, **result}, echo=False)
    finally:
        if dog is not None:
            dog.cancel()
        if spark is not None:
            stop_session(spark)
        journal.close()
        shutil.rmtree(args.run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "triple_precision": "ratio",
         "triple_recall": "ratio", "fail_frac": "ratio", "kg_docs_per_s": "docs/s",
         "kg_query_s": "s", "inc_docs_per_s": "docs/s", "inc_compact_s": "s"}


def summary(args) -> int:
    """Runs each workload in its own process and prints its end-to-end
    metrics by name."""
    rc, table = 0, {}
    for w in WORKLOADS:
        path = journal_path(w, args.seed, 0)
        if os.path.exists(path):
            os.remove(path)
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        proc = subprocess.run(cmd, stdout=subprocess.DEVNULL, timeout=600)
        rc = rc or proc.returncode
        recs = []
        if os.path.exists(path):
            with open(path) as f:
                recs = [json.loads(line) for line in f]
        result = next((r for r in recs if r["kind"] == "result"), None)
        if result is None:
            print(f"{w:<16} no result (exit {proc.returncode})")
            rc = rc or 1
            continue
        table[w] = result["named"]
        for name, value in result["named"].items():
            print(f"{w:<16} {name:<18} {value:>14.6g} {UNITS[name]}")
    print(json.dumps(table))
    return rc


def main(argv=None) -> int:
    args = parse_args(argv)

    def on_term(signum, frame):
        raise KeyboardInterrupt(f"signal {signum}")

    signal.signal(signal.SIGTERM, on_term)
    return summary(args) if args.summary else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
