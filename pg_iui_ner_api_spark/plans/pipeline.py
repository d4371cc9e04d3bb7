"""End-to-end KG construction pipeline (north_star).

    documents ──extract──> mentions + predicates      (1 corpus scan)
       mentions ──link──> linked_mentions             (broadcast joins)
       linked  ──canonicalize──> components, nodes    (iterative CC)
       linked + predicates ──assemble──> edges        (co-keyed joins)

Canonicalization is entity-sized: ``components`` holds one
``(entity_id, node, component)`` row per distinct linked entity, and
``nodes`` is voted from per-entity counts over it — the same helpers
(operators/components.py) the incremental compactor
(streaming/jobs.py::compact_kg_nodes) folds deltas through, so the two
paths cannot drift apart.

Partitioning contract: one explicit doc_id hash partitioning
(north_rule), placed AFTER the map-only linking stage — extraction and
linking are both map-only, so the first exchange the corpus ever sees
carries linked mentions with the fat ``ctx`` column already consumed
and dropped, plus the narrow predicate rows. Shuffling before linking
(round-2 shape) moved every ctx string through the wire for nothing —
the re-placement cut the 200k-doc downstream wall 36.3 -> 16.6 s in a
paired A/B (byte-identical outputs). Every later shuffle keys on a
doc_id-prefixed composite or on small per-mention keys, and the two
dimension joins broadcast. Stage materialization + lineage + resume via
plans.lineage.StageRunner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import components as C, linking as L, ner as N, triples as T
from ..synth import alias_df as _alias_df, entity_emb_df as _emb_df
from .lineage import StageRunner


def run_kg_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    alias_df: DataFrame | None = None,
    entity_emb_df: DataFrame | None = None,
    workdir: str | None = None,
    run_id: str = "run0",
    input_fingerprint: str = "",
    doc_partitions: int | None = None,
) -> dict[str, DataFrame]:
    alias = alias_df if alias_df is not None else _alias_df(spark)
    embs = entity_emb_df if entity_emb_df is not None else _emb_df(spark)
    runner = StageRunner(spark, workdir, run_id=run_id, input_fingerprint=input_fingerprint)
    n_part = doc_partitions or spark.sparkContext.defaultParallelism

    def _extract() -> DataFrame:
        # map-only: no shuffle here — ctx strings stay in their input
        # partition until linking consumes them (see module docstring)
        return N.extract(documents)

    # Materialized stages are written BUCKETED (workdir mode): mentions/
    # linked/edges co-bucketed on doc_id, nodes on entity_id, plus an
    # edges_by_subj twin, so every downstream re-join — incremental batch
    # against the existing graph, mentions⋈edges provenance lookups,
    # nodes⋈edges entity expansion — reads co-located pre-sorted buckets
    # with ZERO Exchange instead of re-shuffling 10^12-document tables.
    bk = dict(bucket_by="doc_id", n_buckets=n_part)
    extraction = runner.stage("extraction", _extract, **bk)
    mentions = N.mentions_of(extraction)
    # the ONE explicit doc_id hash partitioning (north_rule): applied to
    # the ctx-free streams feeding triple assembly. In workdir mode the
    # bucketed stage write hash-partitions identically, so this is
    # satisfied-by-construction there (no double exchange).
    predicates = N.predicates_of(extraction).repartition(n_part, "doc_id")

    linked = runner.stage(
        "linked_mentions",
        lambda: L.link_mentions(mentions, alias, embs).repartition(n_part, "doc_id"),
        **bk,
    )
    comps = runner.stage("components", lambda: C.canonical_components(linked),
                         persist=False)
    nodes = runner.stage("nodes", lambda: C.canonical_nodes(linked, comps),
                         persist=False, bucket_by="entity_id", n_buckets=n_part)
    edges = runner.stage("edges", lambda: T.assemble_triples(linked, predicates),
                         persist=False, **bk)
    out = {}
    if runner.workdir is not None:
        # entity-keyed twin of the edge table: re-bucket (one shuffle at
        # write time) so graph-side joins against nodes are co-located
        out["edges_by_subj"] = runner.stage(
            "edges_by_subj", lambda: edges, bucket_by="subj", n_buckets=n_part
        )

    return out | {
        "extraction": extraction,
        "mentions": mentions,
        "predicates": predicates,
        "linked_mentions": linked,
        "components": comps,
        "nodes": nodes,
        "edges": edges,
        "_runner": runner,
    }
