"""The benchmark's three workloads and the correctness check of each op.

All engine work goes through its public entry points: ``cli.main``,
``plans.pipeline.run_kg_pipeline``, ``streaming.jobs`` and the layer
functions of ``operators``. Inputs come from ``synth`` with the run's
seed; the truth triples for P/R come from ``synth.synth_truth_triples``
with the same seed.

* ``kg_batch``       one op = one fresh ``cli.main`` build (CLI defaults),
                     the first in its session, as one spark-submit runs it.
* ``kg_query``       one op = ``cli.main --audit`` on a workdir built in
                     set-up: every stage resumes, then the audit runs.
* ``kg_incremental`` one op = one parquet file lands, one
                     ``stream_kg_increment`` availableNow trigger, one
                     ``compact_kg_nodes``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import statistics
import sys
import threading
import time

from pyspark.sql import functions as F

from pg_iui_ner_api_spark import cli, synth
from pg_iui_ner_api_spark.operators import components as C
from pg_iui_ner_api_spark.streaming import jobs as J

EDGE_COLS = ["doc_id", "subj", "pred", "obj"]
NODE_COLS = ["entity_id", "canonical_name"]
MIN_PR = 0.95
BENCH_GROUP = "perfbench"  # the benchmark's own jobs: inputs and checks
# Input sizes, set so that 22 runs of each workload fit the run budget
# (perfbench/README.md has the sizing measurements and the share of a
# build that its stages take).
SIZES = {
    "kg_batch": 24000,
    "kg_query": 24000,
    "traced": 6000,
    "inc_batch": 1500,
}
# The stage tables a user reads. Their row counts are compared across the
# builds of one run; intermediate tables (extraction, components) are not,
# so a change of their layout does not read as a wrong result.
OUTPUT_TABLES = ("linked_mentions", "nodes", "edges")
OP_TIMEOUT_S = 90


class CheckFailed(Exception):
    """An op's output disagreed with the expected result."""


def doc_bound(n: int) -> str:
    """doc_id of synth document ``n``: ids below it are docs 0..n-1."""
    return f"doc{n:010d}"


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class Ctx:
    """What every workload shares: the session, the run's directory, the
    seed and the span tracer."""

    def __init__(self, spark, run_dir: str, seed: int, tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_dir = run_dir
        self.seed = seed
        self.tracer = tracer
        self.n_part = self.sc.defaultParallelism

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def bench(self):
        """Tags the benchmark's own jobs so the trace can leave them out."""
        return self.tracer.span(BENCH_GROUP, group=BENCH_GROUP)


def run_cli(argv: list[str], spark) -> dict:
    """``cli.main`` with its one-line JSON summary sent to stderr, so the
    benchmark's standard output holds only its own records."""
    with contextlib.redirect_stdout(sys.stderr):
        return cli.main(argv, spark=spark)


@contextlib.contextmanager
def op_timeout(sc, seconds: float = OP_TIMEOUT_S):
    """Cancels every running Spark job if the block outlives ``seconds``;
    the op then fails with the cancellation and is marked timed out."""
    fired = threading.Event()

    def cancel():
        fired.set()
        sc.cancelAllJobs()

    timer = threading.Timer(seconds, cancel)
    timer.start()
    try:
        yield fired
    finally:
        timer.cancel()
        if fired.is_set():
            raise CheckFailed(f"timeout after {seconds:.0f} s")


def materialize_corpus(ctx: Ctx, path: str, n_docs: int) -> float:
    t0 = time.monotonic()
    synth.synth_documents(ctx.spark, n_docs, seed=ctx.seed).write.mode(
        "overwrite").parquet(path)
    return time.monotonic() - t0


def materialize_truth(ctx: Ctx, n_docs: int):
    path = ctx.path("truth")
    synth.synth_truth_triples(ctx.spark, n_docs, seed=ctx.seed).select(
        *EDGE_COLS).distinct().write.mode("overwrite").parquet(path)
    return ctx.spark.read.parquet(path).persist()


def triple_pr(edges, truth) -> tuple[float, float]:
    """Precision and recall of the edge set against the truth triples
    (one Spark action: a full outer join counted from both sides)."""
    got = edges.select(*EDGE_COLS).distinct().withColumn("_g", F.lit(1))
    row = got.join(truth.withColumn("_t", F.lit(1)), EDGE_COLS, "full_outer").agg(
        F.count("_g").alias("got"), F.count("_t").alias("truth"),
        F.count(F.when(F.col("_g").isNotNull() & F.col("_t").isNotNull(), 1)).alias("tp"),
    ).first()
    return row["tp"] / max(row["got"], 1), row["tp"] / max(row["truth"], 1)


def check_pr(p: float, r: float) -> None:
    require(p >= MIN_PR and r >= MIN_PR, f"triple P/R {p:.4f}/{r:.4f} < {MIN_PR}")


def output_counts(counts: dict) -> dict[str, int]:
    return {t: counts[t] for t in OUTPUT_TABLES}


def lineage_rows(workdir: str) -> dict[str, int]:
    """rows_out per stage from the ``_lineage/<stage>.json`` manifests."""
    out = {}
    for path in glob.glob(os.path.join(workdir, "_lineage", "*.json")):
        with open(path) as f:
            meta = json.load(f)
        out[meta["stage"]] = meta["rows_out"]
    return out


# ---------------------------------------------------------------------------
class KgBatch:
    name = "kg_batch"

    def __init__(self, ctx: Ctx, corpus: str, truth, n_docs: int):
        self.ctx, self.corpus, self.truth, self.n_docs = ctx, corpus, truth, n_docs
        self.ref_counts = None
        self.builds = 0

    def finish(self, ops: list[dict]) -> dict:
        return {"ok": True}

    def has_next(self) -> bool:
        """One build per run: the production CLI builds once per
        spark-submit, so its user waits for a build in a fresh session.
        A second build in the same session would run warm."""
        return self.builds == 0

    def build(self, workdir: str) -> tuple[dict, float]:
        t0 = time.monotonic()
        summary = run_cli(["--input", self.corpus, "--workdir", workdir],
                          self.ctx.spark)
        return summary, time.monotonic() - t0

    def setup(self) -> dict:
        return {}

    def check_build(self, summary: dict, workdir: str) -> tuple[float, float]:
        """Every stage computed, its manifest agreeing with its count, the
        output tables' counts equal to the reference, P/R on the edges.
        The first build of the run to pass every check sets the
        reference; later builds of the run (in kg_query's set-up and in
        the traced run) are compared with it."""
        actions = {e["stage"]: e["action"] for e in summary["stages"]}
        require(set(actions.values()) == {"computed"}, f"stage actions {actions}")
        counts = summary["counts"]
        manifests = lineage_rows(workdir)
        require(manifests == {s: counts[s] for s in manifests},
                f"lineage rows_out {manifests} != counts {counts}")
        require(counts["edges_by_subj"] == counts["edges"],
                f"edges_by_subj {counts['edges_by_subj']} != edges {counts['edges']}")
        out = output_counts(counts)
        require(self.ref_counts in (None, out), f"counts {out} != {self.ref_counts}")
        with self.ctx.bench():
            p, r = triple_pr(self.ctx.spark.read.parquet(f"{workdir}/edges"), self.truth)
        check_pr(p, r)
        self.ref_counts = out
        return p, r

    def op(self, i: int) -> dict:
        wd = self.ctx.path(f"build{i}")
        self.builds += 1
        try:
            with op_timeout(self.ctx.sc):
                summary, wall = self.build(wd)
            p, r = self.check_build(summary, wd)
        finally:
            shutil.rmtree(wd, ignore_errors=True)
        stage_s = sum(e["wall_ms"] for e in summary["stages"]) / 1000.0
        return {"op_s": wall, "docs_per_s": self.n_docs / wall,
                "stage_share": stage_s / wall,
                "triple_precision": p, "triple_recall": r}


class KgQuery:
    name = "kg_query"

    def __init__(self, ctx: Ctx, batch: KgBatch, workdir: str):
        self.ctx, self.batch, self.workdir = ctx, batch, workdir

    def has_next(self) -> bool:
        return True

    def finish(self, ops: list[dict]) -> dict:
        return {"ok": True}

    def setup(self) -> dict:
        """Builds the workdir (the JVM's warm-up), then one warm-up query."""
        t0 = time.monotonic()
        summary, _ = self.batch.build(self.workdir)
        self.batch.check_build(summary, self.workdir)
        t1 = time.monotonic()
        self.op(-1)
        return {"build_s": t1 - t0, "warmup_s": time.monotonic() - t1}

    def op(self, i: int) -> dict:
        b = self.batch
        with op_timeout(self.ctx.sc):
            t0 = time.monotonic()
            summary = run_cli(["--input", b.corpus, "--workdir", self.workdir,
                               "--audit"], self.ctx.spark)
            wall = time.monotonic() - t0
        actions = {e["stage"]: e["action"] for e in summary["stages"]}
        require(set(actions.values()) == {"resumed"}, f"recomputed: {actions}")
        out = output_counts(summary["counts"])
        require(out == b.ref_counts, f"counts {out} != {b.ref_counts}")
        failed = [c["rule_id"] for c in summary["audit"]["constraints"] if not c["passed"]]
        require(not failed, f"audit constraints failed: {failed}")
        with self.ctx.bench():
            p, r = triple_pr(self.ctx.spark.read.parquet(f"{self.workdir}/edges"), b.truth)
        check_pr(p, r)
        return {"op_s": wall, "docs_per_s": b.n_docs / wall,
                "triple_precision": p, "triple_recall": r}


class KgIncremental:
    """The corpus lands as a sequence of one-file batches of
    ``batch_docs`` docs; batch k holds docs k*B .. (k+1)*B-1, so after
    k batches the ingested corpus is the doc_id prefix below
    ``doc_bound(k*B)``. The reference is the batch pipeline run in
    memory over the whole staged corpus in set-up, restricted to that
    prefix (extraction, linking and triple assembly are per-document, so
    the restriction is exact for edges; the reference nodes are
    recomputed from the restricted linked mentions).

    Ops are checked together after the run (``verify``): edge batches
    are append-only, so per-batch counts from one pass over the final
    edges give every op's edge equality and P/R; the compacted nodes of
    the run's last fold are compared with the batch canonicalizer's."""

    name = "kg_incremental"

    def __init__(self, ctx: Ctx, n_batches: int, batch_docs: int):
        self.ctx = ctx
        self.batch_docs = batch_docs
        self.n_batches = n_batches
        self.n_docs = self.batch_docs * n_batches
        self.landed = 0
        self.folds: list[tuple[int, set]] = []  # (batches landed, compacted nodes)
        self.in_dir = ctx.path("inc_in")
        self.workdir = ctx.path("inc_wd")
        self.ckpt = ctx.path("inc_ckpt")

    def stage_batches(self, corpus: str) -> None:
        """Splits the first n_docs of ``corpus`` into one file per batch."""
        (self.ctx.spark.read.parquet(corpus)
         .where(F.col("doc_id") < doc_bound(self.n_docs))
         .withColumn("b", self.batch_of("doc_id"))
         .repartition(self.n_batches, "b")
         .write.partitionBy("b").mode("overwrite").parquet(self.ctx.path("inc_staged")))
        os.makedirs(self.in_dir, exist_ok=True)

    def batch_of(self, doc_id: str):
        idx = F.regexp_extract(doc_id, r"doc(\d+)", 1).cast("long")
        return (idx / self.batch_docs).cast("int")

    def set_reference(self, linked, edges) -> None:
        """Batch-pipeline linked mentions and edges over the staged docs."""
        self.ref_linked = linked
        self.ref_edges = edges.select(*EDGE_COLS)

    def setup(self, corpus: str, truth) -> dict:
        """Stages the batches, runs the batch reference in memory (the
        JVM's warm-up), then one op: the compactor's first, full fold."""
        from pg_iui_ner_api_spark.plans.pipeline import run_kg_pipeline

        self.truth = truth
        with self.ctx.bench():
            self.stage_batches(corpus)
        t0 = time.monotonic()
        docs = self.ctx.spark.read.parquet(corpus).where(
            F.col("doc_id") < doc_bound(self.n_docs))
        res = run_kg_pipeline(self.ctx.spark, docs)
        self.set_reference(res["linked_mentions"], res["edges"].persist())
        self.ref_edges.count()
        t1 = time.monotonic()
        first = self.op(-1)
        return {"reference_s": t1 - t0, "warmup_s": time.monotonic() - t1,
                "compact_full_s": first["compact_s"]}

    def land(self) -> None:
        """Moves the next staged batch file into the watched directory."""
        k = self.landed
        files = glob.glob(self.ctx.path("inc_staged", f"b={k}", "*.parquet"))
        require(len(files) >= 1, f"no staged file for batch {k}")
        for j, f in enumerate(sorted(files)):
            os.replace(f, os.path.join(self.in_dir, f"batch{k:04d}-{j}.parquet"))
        self.landed += 1

    def has_next(self) -> bool:
        return self.landed < self.n_batches

    def trigger(self):
        """One availableNow trigger; returns the finished query."""
        q = J.stream_kg_increment(self.ctx.spark, self.in_dir, self.workdir, self.ckpt)
        if not q.awaitTermination(OP_TIMEOUT_S):
            q.stop()
            raise CheckFailed(f"trigger timeout after {OP_TIMEOUT_S} s")
        return q

    def compact(self):
        return J.compact_kg_nodes(self.ctx.spark, self.workdir)

    def keep_fold(self, nodes) -> None:
        with self.ctx.bench():
            self.folds.append(
                (self.landed, {tuple(r) for r in nodes.select(*NODE_COLS).collect()}))

    def op(self, i: int) -> dict:
        self.land()
        with op_timeout(self.ctx.sc):
            t0 = time.monotonic()
            self.trigger()
            t1 = time.monotonic()
            nodes = self.compact()
            t2 = time.monotonic()
        self.keep_fold(nodes)
        return {"landed": self.landed, "op_s": t2 - t0, "trigger_s": t1 - t0,
                "compact_s": t2 - t1, "docs_per_s": self.batch_docs / (t1 - t0)}

    def verify(self) -> dict[int, dict]:
        """Checks every kept fold; returns, per number of batches landed,
        ``ok``, ``error`` and the edges' P/R on that prefix."""
        spark = self.ctx.spark
        with self.ctx.bench():
            final = doc_bound(self.landed * self.batch_docs)
            got = spark.read.parquet(f"{self.workdir}/edges_inc").select(*EDGE_COLS)
            want = self.ref_edges.where(F.col("doc_id") < final)
            k = self.batch_of("doc_id").alias("k")
            diff = {r["k"]: r["count"] for r in got.exceptAll(want).unionByName(
                want.exceptAll(got)).groupBy(k).count().collect()}
            pr = {r["k"]: r for r in (
                got.distinct().withColumn("_g", F.lit(1))
                .join(self.truth.where(F.col("doc_id") < final).withColumn("_t", F.lit(1)),
                      EDGE_COLS, "full_outer")
                .groupBy(k).agg(
                    F.count("_g").alias("got"), F.count("_t").alias("truth"),
                    F.count(F.when(F.col("_g").isNotNull() & F.col("_t").isNotNull(), 1))
                    .alias("tp"))
                .collect())}
            out = {}
            last = self.folds[-1][0]
            for landed, nodes in self.folds:
                ks = range(landed)
                errors = []
                n_diff = sum(diff.get(j, 0) for j in ks)
                if n_diff:
                    errors.append(f"incremental edges differ from batch in {n_diff} rows")
                tp, n_got, n_truth = (sum(pr[j][c] for j in ks if j in pr)
                                      for c in ("tp", "got", "truth"))
                p, r = tp / max(n_got, 1), tp / max(n_truth, 1)
                if p < MIN_PR or r < MIN_PR:
                    errors.append(f"triple P/R {p:.4f}/{r:.4f} < {MIN_PR}")
                if landed == last:
                    want_nodes = self.reference_nodes(landed)
                    if nodes != want_nodes:
                        errors.append(
                            f"compacted nodes differ from batch: {nodes ^ want_nodes}")
                out[landed] = {"ok": not errors, "error": "; ".join(errors) or None,
                               "triple_precision": p, "triple_recall": r}
        return out

    def reference_nodes(self, landed: int) -> set:
        """The batch canonicalizer's nodes over the first ``landed``
        batches. Each costs a components pass, so only the run's last
        fold is compared; the compactor's state carries every earlier
        fold into it."""
        lp = self.ref_linked.where(F.col("doc_id") < doc_bound(landed * self.batch_docs))
        return {tuple(r) for r in C.canonical_nodes(
            lp, C.canonical_components(lp)).select(*NODE_COLS).collect()}

    def finish(self, ops: list[dict]) -> dict:
        """Applies ``verify`` to the op records; returns the check of the
        set-up's fold, which no op record holds."""
        checks = self.verify()
        for o in ops:
            if o["ok"]:
                c = checks[o["landed"]]
                o.update(ok=c["ok"], triple_precision=c["triple_precision"],
                         triple_recall=c["triple_recall"])
                if c["error"]:
                    o["error"] = c["error"]
        return checks[self.folds[0][0]]
