"""The traced run: every layer of the engine called under its own span.

Spans are opened by the benchmark around each call into a layer, and
each span tags its Spark jobs with the layer's job group. Inputs of a
layer are persisted before its span opens, so a span covers that
layer's work only. After the session stops, the event log is folded
into per-layer task metrics (``eventlog``).

One traced run covers all three op kinds, so its output holds every
per-layer metric whichever workload it is started for; the workload
only selects which op ``unattributed.task_share`` and
``trace.overhead_s`` describe. For that op the run also runs its
untraced twin: the same code with a ``Tracer(None)``, which opens the
same spans but tags no job.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark import StorageLevel
from pyspark.sql import functions as F

from pg_iui_ner_api_spark import synth
from pg_iui_ner_api_spark.operators import audit, components as C, linking as L
from pg_iui_ner_api_spark.operators import ner as N, rules, triples as T
from pg_iui_ner_api_spark.plans.lineage import StageRunner
from pg_iui_ner_api_spark.plans.pipeline import run_kg_pipeline

from . import eventlog
from .tracing import Tracer
from .workloads import (
    BENCH_GROUP, SIZES, Ctx, KgBatch, KgIncremental, check_pr, lineage_rows,
    output_counts, require, triple_pr,
)

# layer -> the StageRunner stage whose _lineage manifest holds its rows_out
BATCH_LAYERS = {
    "ner": "extraction",
    "linking": "linked_mentions",
    "components.cc": "components",
    "components.nodes": "nodes",
    "triples": "edges",
}
# the audit the CLI's --audit flag runs (cli._kg_audit)
AUDIT_RULES = [
    {"id": "subj_not_null", "type": "not_null", "column": "subj"},
    {"id": "pred_not_null", "type": "not_null", "column": "pred"},
    {"id": "obj_not_null", "type": "not_null", "column": "obj"},
    {"id": "subj_in_nodes", "type": "ref", "column": "subj",
     "ref_table": "nodes", "ref_column": "entity_id"},
    {"id": "obj_in_nodes", "type": "ref", "column": "obj",
     "ref_table": "nodes", "ref_column": "entity_id"},
]
TRACE_INC_BATCHES = 4  # first fold, untraced warm-up, traced op, untraced twin


def _persisted(df):
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


def dir_bytes_files(root: str) -> tuple[int, int]:
    """Bytes and number of data files (not markers, checksums or
    manifests) under ``root``."""
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")) or n.endswith(".json"):
                continue
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


def traced_build(ctx, corpus: str, workdir: str, fingerprint: str) -> dict:
    """The batch pipeline, layer by layer, then its stage writes through
    ``StageRunner`` in the pipeline's layout (plans/pipeline.py)."""
    spark, tr, n_part = ctx.spark, ctx.tracer, ctx.n_part
    alias, embs = synth.alias_df(spark), synth.entity_emb_df(spark)
    out = {"rows": {}}
    with tr.span("op:kg_batch") as op:
        with ctx.bench():
            docs, _ = _persisted(spark.read.parquet(corpus))
        with tr.span("ner", group="ner"):
            ext, out["rows"]["ner"] = _persisted(N.extract(docs))
        with tr.span("linking", group="linking"):
            linked, out["rows"]["linking"] = _persisted(
                L.link_mentions(N.mentions_of(ext), alias, embs)
                .repartition(n_part, "doc_id"))
        with tr.span("components.cc", group="components.cc"):
            comps, out["rows"]["components.cc"] = _persisted(
                C.canonical_components(linked))
        with tr.span("components.nodes", group="components.nodes"):
            nodes, out["rows"]["components.nodes"] = _persisted(
                C.canonical_nodes(linked, comps))
        with tr.span("triples", group="triples"):
            edges, out["rows"]["triples"] = _persisted(T.assemble_triples(
                linked, N.predicates_of(ext).repartition(n_part, "doc_id")))
        with tr.span("lineage.write", group="lineage.write"):
            runner = StageRunner(spark, workdir, input_fingerprint=fingerprint)
            bk = dict(bucket_by="doc_id", n_buckets=n_part)
            runner.stage("extraction", lambda: ext, **bk)
            runner.stage("linked_mentions", lambda: linked, **bk)
            runner.stage("components", lambda: comps, persist=False)
            runner.stage("nodes", lambda: nodes, persist=False,
                         bucket_by="entity_id", n_buckets=n_part)
            runner.stage("edges", lambda: edges, persist=False, **bk)
            runner.stage("edges_by_subj", lambda: edges,
                         bucket_by="subj", n_buckets=n_part)
    out["op"] = op
    out["linked"], out["edges"] = linked, edges
    out["bytes_written"], out["files_written"] = dir_bytes_files(workdir)
    docs.unpersist()
    for df in (ext, comps, nodes):
        df.unpersist()
    return out


def check_traced_build(ctx, b: dict, reference: str, truth) -> None:
    """Each layer's rows_out against the ``_lineage`` manifests of the
    untraced ``cli.main`` build in ``reference``, and P/R of the edges."""
    want = lineage_rows(reference)
    got = {stage: b["rows"][layer] for layer, stage in BATCH_LAYERS.items()}
    require(got == {s: want.get(s) for s in got}, f"traced rows {got} != lineage {want}")
    with ctx.bench():
        check_pr(*triple_pr(b["edges"], truth))


def traced_query(ctx, corpus: str, workdir: str, fingerprint: str,
                 want_counts: dict) -> dict:
    """What ``cli.main --audit`` does on a built workdir, layer by layer."""
    spark, tr = ctx.spark, ctx.tracer
    with tr.span("op:kg_query") as op:
        with tr.span("lineage.resume", group="lineage.resume"):
            res = run_kg_pipeline(spark, spark.read.parquet(corpus), workdir=workdir,
                                  input_fingerprint=fingerprint)
            counts = {k: df.count() for k, df in res.items() if not k.startswith("_")}
        actions = {e["stage"]: e["action"] for e in res["_runner"].events}
        with tr.span("components.edges", group="components.edges"):
            ce, _ = _persisted(C.canonical_edges(
                res["edges"], res["linked_mentions"], res["components"]))
        with tr.span("audit", group="audit"):
            dq = audit.check_constraints(ce, AUDIT_RULES, {"nodes": res["nodes"]}).collect()
        with tr.span("rules", group="rules"):
            rules.schema_induction(res["edges"]).collect()
    ce.unpersist()
    require(set(actions.values()) == {"resumed"}, f"recomputed: {actions}")
    require(output_counts(counts) == want_counts,
            f"query counts {output_counts(counts)} != {want_counts}")
    require(all(r["passed"] for r in dq), "audit constraints failed")
    return {"op": op, "counts": counts}


def new_pair_frac(spark, workdir: str) -> float:
    """New (entity, surface) pairs / distinct pairs in the batches the
    next ``compact_kg_nodes`` will fold (the compactor's own delta rule:
    batches above the high-water mark in compact_state/meta.json)."""
    inc = f"{workdir}/linked_inc"
    ids = sorted(int(d.split("=", 1)[1]) for d in os.listdir(inc) if d.startswith("batch="))
    meta_path = f"{workdir}/compact_state/meta.json"
    meta = None
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
    new = [b for b in ids if meta is None or b > meta["last_batch"]]
    if not new:
        return 0.0
    dp = spark.read.parquet(*[f"{inc}/batch={b}" for b in new]).select(
        "entity_id", F.lower("word").alias("surface")).distinct()
    n = dp.count()
    if meta is None:
        return 1.0 if n else 0.0
    prev = spark.read.parquet(f"{workdir}/compact_state/pairs/v={meta['version']}")
    return dp.join(prev, ["entity_id", "surface"], "left_anti").count() / max(n, 1)


def traced_increment(ctx, inc: KgIncremental, name: str) -> dict:
    """One incremental op under spans: land, trigger, compact."""
    tr = ctx.tracer
    with ctx.bench():
        inc.land()
    with tr.span(f"op:{name}") as op:
        with tr.span("streaming.trigger") as trig:
            q = inc.trigger()
            trig.attrs["run_id"] = str(q.runId)
        with ctx.bench():
            frac = new_pair_frac(ctx.spark, inc.workdir)
        with tr.span("streaming.compact", group="streaming.compact") as comp:
            nodes = inc.compact()
    inc.keep_fold(nodes)
    state = dir_bytes_files(f"{inc.workdir}/compact_state")[0]
    return {"op": op, "trigger": trig, "compact": comp, "new_pair_frac": frac,
            "state_bytes": state}


def tour(ctx, corpus: str, truth, n_docs: int, workload: str) -> dict:
    """Traced ops of every kind in one session, plus the untraced twin of
    ``workload``'s op that ``trace.overhead_s`` compares against. Returns
    the raw material ``metrics`` turns into per-layer numbers."""
    fp = "path:" + corpus
    batch = KgBatch(ctx, corpus, truth, n_docs)
    plain = Ctx(ctx.spark, ctx.run_dir, ctx.seed, Tracer(None))
    out: dict = {"ops": 5}  # cold build, traced build, query, first fold, increment

    def with_twin(kind: str, run):
        """``run(ctx)``, the traced op. For the run's workload, the code
        path first runs once untraced to warm up (its first run in the
        session is slower), and its untraced twin ``run(plain)`` runs
        right after the traced op."""
        if kind != workload:
            return run(ctx)
        run(plain)
        res = run(ctx)
        out[f"untraced.{kind}"] = run(plain)["op"].duration
        out["ops"] += 2
        return res

    # -- kg_batch: the session's cold cli.main build warms the JVM up; its
    # manifests are the rows_out reference and its workdir is queried below
    wd = ctx.path("kg")
    t0 = time.monotonic()
    summary, _ = batch.build(wd)
    batch.check_build(summary, wd)
    out["warmup_s"] = time.monotonic() - t0

    def layered_build(c):
        """The traced build keeps its outputs: they are the batch
        reference of the increments below."""
        path = c.path("kg_traced" if c is ctx else "kg_untraced")
        b = traced_build(c, corpus, path, fp)
        check_traced_build(c, b, wd, truth)
        if c is not ctx:
            b["linked"].unpersist()
            b["edges"].unpersist()
            shutil.rmtree(path)
        return b

    out["traced_build"] = b = with_twin("kg_batch", layered_build)

    # -- kg_query on the cold build's workdir
    out["traced_query"] = with_twin(
        "kg_query", lambda c: traced_query(c, corpus, wd, fp, batch.ref_counts))

    # -- kg_incremental over the batches of the same corpus; the traced
    # build's persisted outputs are the batch reference
    inc = KgIncremental(ctx, TRACE_INC_BATCHES, SIZES["inc_batch"])
    inc.truth = truth
    with ctx.bench():
        inc.stage_batches(corpus)
    inc.set_reference(b["linked"], b["edges"])
    out["first_fold"] = traced_increment(ctx, inc, "kg_incremental.first")
    out["traced_inc"] = with_twin(
        "kg_incremental", lambda c: traced_increment(c, inc, "kg_incremental"))
    failed = [c["error"] for c in inc.verify().values() if not c["ok"]]
    require(not failed, f"incremental folds: {failed}")
    return out


def coverage(tr, raw: dict, tasks: list) -> dict:
    """How much of the traced kg_batch op its layer spans and their
    tasks take: what a change to the layers can move."""
    b = raw["traced_build"]
    layers = [*BATCH_LAYERS, "lineage.write"]
    in_op = eventlog.in_window(tasks, b["op"].start_ms, b["op"].end_ms)
    op_idx = tr.spans.index(b["op"])
    layer_s = sum(s.duration for s in tr.spans if s.parent == op_idx and s.name in layers)
    task_s = eventlog.summarize(in_op)["task_s"]
    layer_task_s = eventlog.summarize([t for t in in_op if t.group in layers])["task_s"]
    return {"op_s": b["op"].duration, "layer_span_share": layer_s / b["op"].duration,
            "task_s": task_s, "layer_task_share": layer_task_s / max(task_s, 1e-9)}


def _layer(prefix: str, tasks, self_s: float, rows: int) -> dict:
    s = eventlog.summarize(tasks)
    return {f"{prefix}.self_s": self_s, f"{prefix}.task_s": s["task_s"],
            f"{prefix}.py_s": s["py_s"], f"{prefix}.shuffle_bytes": s["shuffle_bytes"],
            f"{prefix}.spill_bytes": s["spill_bytes"], f"{prefix}.skew": s["skew"],
            f"{prefix}.rows_out": rows}


def metrics(ctx, raw: dict, tasks: list, workload: str, session_s: float) -> dict:
    """Per-layer metrics from the tour's spans and the folded event log."""
    tr = ctx.tracer
    b, q, inc = raw["traced_build"], raw["traced_query"], raw["traced_inc"]
    run_ids = {raw[k]["trigger"].attrs["run_id"]: "streaming.trigger"
               for k in ("first_fold", "traced_inc")}
    by_group: dict = {}
    for t in tasks:
        by_group.setdefault(run_ids.get(t.group, t.group), []).append(t)

    def span_of(name, within):
        return next(s for s in tr.spans if s.name == name
                    and within.start <= s.start <= within.end)

    def group_tasks(group, within):
        return eventlog.in_window(by_group.get(group, []), within.start_ms, within.end_ms)

    m: dict = {"session.start_s": session_s, "session.warmup_s": raw["warmup_s"]}
    for layer in BATCH_LAYERS:
        m.update(_layer(layer, group_tasks(layer, b["op"]),
                        tr.self_time(span_of(layer, b["op"])), b["rows"][layer]))
    m["lineage.write_s"] = tr.self_time(span_of("lineage.write", b["op"]))
    m["lineage.bytes_written"] = b["bytes_written"]
    m["lineage.files_written"] = b["files_written"]
    m["lineage.resume_s"] = tr.self_time(span_of("lineage.resume", q["op"]))
    m["components.edges.self_s"] = tr.self_time(span_of("components.edges", q["op"]))
    m["components.edges.shuffle_bytes"] = eventlog.summarize(
        group_tasks("components.edges", q["op"]))["shuffle_bytes"]
    m["audit.self_s"] = tr.self_time(span_of("audit", q["op"]))
    m["rules.self_s"] = tr.self_time(span_of("rules", q["op"]))

    trig = eventlog.summarize(group_tasks("streaming.trigger", inc["trigger"]))
    m["streaming.trigger_s"] = inc["trigger"].duration
    m["streaming.task_s"] = trig["task_s"]
    m["streaming.py_s"] = trig["py_s"]
    m["streaming.compact_s"] = inc["compact"].duration
    m["streaming.compact_full_s"] = raw["first_fold"]["compact"].duration
    m["streaming.state_bytes"] = inc["state_bytes"]
    m["streaming.new_pair_frac"] = inc["new_pair_frac"]

    op = {"kg_batch": b["op"], "kg_query": q["op"], "kg_incremental": inc["op"]}[workload]
    m["unattributed.task_share"] = eventlog.untagged_share(
        eventlog.in_window(tasks, op.start_ms, op.end_ms), exclude=[BENCH_GROUP])
    m["trace.overhead_s"] = op.duration - raw[f"untraced.{workload}"]
    return m

