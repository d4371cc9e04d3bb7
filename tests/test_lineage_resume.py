"""Checkpoint/lineage/resume tests (north_rule: any stage can resume)."""

import json
import os

from pg_iui_ner_api_spark import synth
from pg_iui_ner_api_spark.plans.pipeline import run_kg_pipeline

N = 60


def _events(res):
    return {e["stage"]: e["action"] for e in res["_runner"].events}


def test_materialize_then_resume(spark, tmp_path):
    wd = str(tmp_path / "wd")
    docs = synth.synth_documents(spark, N, partitions=2)
    fp = f"synth:{N}:42"

    r1 = run_kg_pipeline(spark, docs, workdir=wd, input_fingerprint=fp)
    assert all(a == "computed" for a in _events(r1).values())
    e1 = sorted(
        tuple(r) for r in r1["edges"].select("doc_id", "subj", "pred", "obj").collect()
    )

    # full restart: every stage resumes from its checkpoint
    r2 = run_kg_pipeline(spark, docs, workdir=wd, input_fingerprint=fp)
    assert all(a == "resumed" for a in _events(r2).values())
    e2 = sorted(
        tuple(r) for r in r2["edges"].select("doc_id", "subj", "pred", "obj").collect()
    )
    assert e1 == e2


def test_mid_pipeline_crash_resume(spark, tmp_path):
    wd = str(tmp_path / "wd")
    docs = synth.synth_documents(spark, N, partitions=2)
    fp = f"synth:{N}:42"
    run_kg_pipeline(spark, docs, workdir=wd, input_fingerprint=fp)

    # simulate a crash after the linking stage: later stage outputs lost
    for stage in ("components", "nodes", "edges"):
        os.rename(os.path.join(wd, stage), os.path.join(wd, stage + ".lost"))
    r = run_kg_pipeline(spark, docs, workdir=wd, input_fingerprint=fp)
    acts = _events(r)
    assert acts["extraction"] == "resumed"
    assert acts["linked_mentions"] == "resumed"
    assert acts["components"] == "computed"
    assert acts["edges"] == "computed"


def test_fingerprint_change_forces_recompute(spark, tmp_path):
    wd = str(tmp_path / "wd")
    docs = synth.synth_documents(spark, N, partitions=2)
    run_kg_pipeline(spark, docs, workdir=wd, input_fingerprint="fp-a")
    r = run_kg_pipeline(spark, docs, workdir=wd, input_fingerprint="fp-b")
    assert all(a == "computed" for a in _events(r).values())


def test_lineage_manifest_contents(spark, tmp_path):
    wd = str(tmp_path / "wd")
    docs = synth.synth_documents(spark, N, partitions=2)
    run_kg_pipeline(spark, docs, workdir=wd, input_fingerprint="fp")
    with open(os.path.join(wd, "_lineage", "extraction.json")) as f:
        meta = json.load(f)
    assert meta["stage"] == "extraction"
    assert meta["rows_out"] > 0
    assert meta["wall_ms"] >= 0
    assert len(meta["partitions"]) >= 1
    assert sum(p["rows"] for p in meta["partitions"]) == meta["rows_out"]


def test_components_stage_is_entity_sized(spark, tmp_path):
    """The components stage holds one (entity_id, node, component) row
    per distinct linked entity — never one row per mention."""
    wd = str(tmp_path / "wd")
    docs = synth.synth_documents(spark, N, partitions=2)
    res = run_kg_pipeline(spark, docs, workdir=wd, input_fingerprint="fp")
    with open(os.path.join(wd, "_lineage", "components.json")) as f:
        meta = json.load(f)
    n_entities = res["linked_mentions"].select("entity_id").distinct().count()
    assert meta["rows_out"] == n_entities
    assert res["components"].columns == ["entity_id", "node", "component"]


def test_workdir_none_unpersist_releases_caches(spark):
    """ADVICE r1: workdir=None mode persisted MEMORY_AND_DISK and never
    released, accumulating blocks across pipeline runs in one session.
    unpersist() must leave no cached RDDs behind."""
    from pg_iui_ner_api_spark.plans.lineage import StageRunner

    base = int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())
    runner = StageRunner(spark, workdir=None)
    df = runner.stage("s1", lambda: spark.range(1000).selectExpr("id", "id * 2 AS v"))
    df.count()  # materialize the cache
    assert int(spark.sparkContext._jsc.sc().getPersistentRDDs().size()) > base
    runner.unpersist()
    assert int(spark.sparkContext._jsc.sc().getPersistentRDDs().size()) == base
