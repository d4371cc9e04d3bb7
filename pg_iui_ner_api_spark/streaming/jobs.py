"""Structured Streaming jobs (SURVEY.md §2.9).

The reference's streaming-shaped ops are batch loops: sentence
sessionization with carried state (W1, process_input_file.py:36-62) and
count-based batch flushing (W2, lines 47-50), plus a polling scheduler
(W3/W4). Their engine equivalents:

  * ``stream_extract_mentions`` — the NER hot path as an incremental
    job: ``readStream`` over the documents table directory, the same
    mapInPandas extraction operator as batch (operator code is shared —
    one implementation, two execution modes), ``writeStream`` append.
    New corpus partitions landing in the directory are processed
    exactly once per trigger; with ``availableNow`` the job drains the
    backlog and stops, which is how a 100 TB backfill runs without a
    separate batch code path.
  * ``stream_windowed_event_counts`` — event-time tumbling window with
    a watermark for late data (W2's time-based twin; the driver
    testdata ``events`` table has real timestamps).

Checkpointing: Spark's own streaming checkpoint (offset log + state
store) supplies exactly-once per sink; the batch pipeline's lineage
manifest (plans/lineage.py) is the batch-mode analogue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import schema as S
from ..operators import ner as N


def stream_documents(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming scan of a documents parquet directory (append table)."""
    r = spark.readStream.schema(S.DOCUMENTS)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return r.parquet(input_dir)


def stream_extract_mentions(spark: SparkSession, input_dir: str, output_dir: str,
                            checkpoint_dir: str, available_now: bool = True):
    """documents stream -> mentions parquet, exactly once per file.

    Returns the StreamingQuery; callers awaitTermination (availableNow
    drains and stops — the backfill/test mode) or leave it running as a
    continuous ingestion job.
    """
    docs = stream_documents(spark, input_dir)
    mentions = N.mentions_of(N.extract(docs))
    writer = (
        mentions.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_event_counts(events: DataFrame, window: str = "1 hour",
                                 watermark: str = "2 hours") -> DataFrame:
    """Event-time tumbling counts with late-data watermark (W2).

    ``events`` is a streaming DataFrame with (ts timestamp, event_type
    string, value double); output one row per (window, event_type) once
    the watermark passes the window end.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "sum_value")
    )


def stream_sliding_event_stats(events: DataFrame, window: str = "1 hour",
                               slide: str = "15 minutes",
                               watermark: str = "2 hours") -> DataFrame:
    """Event-time SLIDING window stats with late-data watermark — the
    overlapping-window companion to the tumbling counts above (a rate
    monitor wants "last hour, every 15 minutes", not hour-aligned
    buckets). Each event lands in window/slide overlapping panes;
    Spark's window() generator expands the panes IN-ROW, so the only
    shuffle is the pane-keyed aggregation, and the watermark bounds
    state to the panes still open. Emits once per closed pane
    (append mode), so downstream sinks see each pane exactly once."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type", "n", "avg_value", "max_value",
        )
    )


SESSION_OUT = ("user_id long, session_id long, n_events long, "
               "t_start timestamp, t_end timestamp")
_SESSION_STATE = "session_id long, n_events long, t_start double, t_end double"

# After a timeout closes the trailing session, the NEXT session ordinal is
# retained (n_events == 0 marks "ordinal-only" state) so a reappearing user
# continues the batch contract's contiguous per-user session_id sequence
# instead of restarting at 0. The retained state self-expires once event
# time passes last_ts + RETENTION * gap with no new activity, bounding the
# state store: idle users cost one ordinal row for a window, never forever.
_ORDINAL_RETENTION = 10


def stream_sessionize(events: DataFrame, gap_seconds: int = 1800,
                      watermark: str = "2 hours") -> DataFrame:
    """Streaming gap-based sessionization — the custom STATEFUL operator
    (W1's true streaming twin; batch form in operators/sessionize.py).

    Implemented with ``applyInPandasWithState``: per user the state
    carries (open session ordinal, event count, start, last ts). A
    session CLOSES — and is emitted — when a later event for the same
    user arrives more than ``gap_seconds`` after the last one, or when
    the event-time timeout fires (watermark passes last_ts + gap), so
    trailing sessions drain without needing a successor event. This is
    the engine form of the reference parser's carried sentence state
    (process_input_file.py:36-62): state lives in Spark's checkpointed
    state store, so a restarted job resumes mid-corpus.

    A micro-batch group's events arrive as MULTIPLE Arrow chunks when the
    group exceeds ``spark.sql.execution.arrow.maxRecordsPerBatch``; all
    chunks are concatenated and sorted ONCE before the gap scan, so
    boundaries are correct regardless of chunking. Cross-batch stragglers
    older than the watermark are handled by the watermark contract
    (dropped), the standard approximation for streaming sessionization.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdf_iter, state):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            sid, n, ts0, ts1 = state.get
            if n == 0:
                # ordinal-retention window expired with no new events
                state.remove()
                return
            # Emit the trailing session but KEEP the next ordinal so the
            # per-user session_id sequence stays contiguous if the user
            # reappears (see _ORDINAL_RETENTION note above). If the
            # retention window already lies behind the watermark (timeout
            # fired late), retaining is pointless — drop the state.
            retention_ms = int((ts1 + gap_seconds * _ORDINAL_RETENTION) * 1000)
            if retention_ms <= state.getCurrentWatermarkMs():
                state.remove()
            else:
                state.update((sid + 1, 0, float(ts1), float(ts1)))
                state.setTimeoutTimestamp(retention_ms)
            yield pd.DataFrame({
                "user_id": [user_id], "session_id": [sid], "n_events": [n],
                "t_start": [pd.Timestamp(ts0, unit="s")],
                "t_end": [pd.Timestamp(ts1, unit="s")],
            })
            return
        sid, n, ts0, ts1 = state.get if state.exists else (0, 0, None, None)
        if n == 0:
            ts0 = ts1 = None  # ordinal-only state: no open session yet
        closed: list[tuple] = []
        # One global event-time sort across ALL Arrow chunks: per-chunk
        # sorting would process a >maxRecordsPerBatch group out of order
        # at the chunk seams and mis-place session boundaries.
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        for t in pdf["ts"].sort_values():
            te = t.timestamp()
            if ts1 is not None and te - ts1 > gap_seconds:
                closed.append((sid, n, ts0, ts1))
                sid, n, ts0 = sid + 1, 0, None
            if ts0 is None:
                ts0 = te
            n += 1
            ts1 = te
        state.update((sid, n, float(ts0), float(ts1)))
        # close the trailing session once event time passes last+gap
        state.setTimeoutTimestamp(int((ts1 + gap_seconds) * 1000))
        if closed:
            yield pd.DataFrame({
                "user_id": [user_id] * len(closed),
                "session_id": [c[0] for c in closed],
                "n_events": [c[1] for c in closed],
                "t_start": [pd.Timestamp(c[2], unit="s") for c in closed],
                "t_end": [pd.Timestamp(c[3], unit="s") for c in closed],
            })

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, SESSION_OUT, _SESSION_STATE, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_stream_sessionize(spark: SparkSession, input_dir: str, output_dir: str,
                          checkpoint_dir: str, gap_seconds: int = 1800,
                          watermark: str = "2 hours"):
    """File-source variant: drain the events directory with availableNow;
    re-running with the same checkpoint resumes the per-user state."""
    ev = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        ).parquet(input_dir)
    )
    sessions = stream_sessionize(ev, gap_seconds, watermark)
    return (
        sessions.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def run_windowed_event_counts(spark: SparkSession, input_dir: str, output_dir: str,
                              checkpoint_dir: str):
    """File-source streaming variant over an events parquet directory."""
    ev = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        ).parquet(input_dir)
    )
    counts = stream_windowed_event_counts(ev)
    return (
        counts.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def run_sliding_event_stats(spark: SparkSession, input_dir: str, output_dir: str,
                            checkpoint_dir: str, window: str = "1 hour",
                            slide: str = "15 minutes"):
    """File-source streaming variant of the sliding-window stats."""
    ev = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        ).parquet(input_dir)
    )
    stats = stream_sliding_event_stats(ev, window=window, slide=slide)
    return (
        stats.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Incremental KG maintenance (continuous ingestion of the north-star
# pipeline). The reference ingests new corpus files on a 2-minute
# scheduler loop (sync_functions.py:114, process-registry locked); the
# engine twin is a streaming query over the documents directory.
#
# Every hot-path stage — extraction, linking, triple assembly — is
# strictly PER-DOCUMENT, so a micro-batch's output equals the batch
# pipeline's output restricted to that batch's documents: incremental
# append needs no cross-batch state. Only canonicalization (connected
# components over the whole mention graph) is cross-document; it runs
# as a separate periodic COMPACTION pass over the accumulated
# linked-mention log — the same split warehouse pipelines use for
# "append fast paths + periodic global rebuild".
# ---------------------------------------------------------------------------


def stream_kg_increment(spark: SparkSession, input_dir: str, workdir: str,
                        checkpoint_dir: str, alias_df=None, entity_emb_df=None,
                        available_now: bool = True,
                        max_files_per_trigger: int | None = None):
    """documents stream -> linked mentions + edges, idempotently appended.

    foreachBatch (triple assembly's as-of window is not expressible
    inside a single streaming query) writing each micro-batch to its own
    ``batch=<id>`` partition with overwrite: a replayed batch id rewrites
    the same partition, so the file-source checkpoint + partition
    overwrite give effective exactly-once without a transactional sink.
    Output layout:

      workdir/linked_inc/batch=<id>/   linked-mention log (compaction input)
      workdir/edges_inc/batch=<id>/    edge increments (graph append)
    """
    from ..operators import linking as L, triples as T
    from ..synth import alias_df as _alias_df, entity_emb_df as _emb_df

    alias = alias_df if alias_df is not None else _alias_df(spark)
    embs = entity_emb_df if entity_emb_df is not None else _emb_df(spark)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        ext = N.extract(batch_df).persist()
        try:
            linked = L.link_mentions(N.mentions_of(ext), alias, embs)
            edges = T.assemble_triples(linked, N.predicates_of(ext))
            linked.write.mode("overwrite").parquet(
                f"{workdir}/linked_inc/batch={batch_id}")
            edges.write.mode("overwrite").parquet(
                f"{workdir}/edges_inc/batch={batch_id}")
        finally:
            ext.unpersist()

    writer = (
        stream_documents(spark, input_dir, max_files_per_trigger)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_kg_nodes(
    spark: SparkSession, workdir: str, incremental: bool = True
) -> DataFrame:
    """Periodic global canonicalization — INCREMENTAL in the delta.

    Connected components is the one cross-document stage, so it cannot
    run per micro-batch; but it also must not re-read the whole
    accumulated log per compaction (r4 VERDICT #4: at a 10^12-doc log
    the full reread is the scale-killer in an otherwise incremental
    path). The compactor keeps three DIMENSION-sized state tables under
    ``workdir/compact_state`` and folds only the batches newer than its
    high-water mark:

      * ``pairs``  — distinct (entity_id, surface) bipartite pairs; the
        delta's NEW pairs (one anti-join) are the only CC input;
      * ``assign`` — the bipartite (node, component) assignment,
        maintained by :func:`operators.components.incremental_components`
        (cost ∝ delta + touched components, never history);
      * ``votes``  — additive (entity, name, kind, cnt) counts
        (:func:`entity_vote_counts`); the node table is rebuilt from
        these marginals (:func:`canonical_nodes_from_votes`) without
        touching any corpus-sized table.

    State versions are written to ``v=<high-water batch>`` dirs and the
    meta file is updated LAST, so a crash mid-compaction resumes from
    the previous consistent version. Output equals the batch pipeline's
    nodes over the same corpus (pinned by test_stream_kg), and a full
    rebuild (``incremental=False`` or no state) produces identical
    state.
    """
    import json
    import os
    import shutil

    from ..operators import components as C

    inc_dir = f"{workdir}/linked_inc"
    batch_ids = sorted(
        int(d.split("=", 1)[1])
        for d in (os.listdir(inc_dir) if os.path.isdir(inc_dir) else [])
        if d.startswith("batch=")
    )
    state_dir = f"{workdir}/compact_state"
    meta_path = os.path.join(state_dir, "meta.json")
    meta = None
    if incremental and os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
    new_ids = [b for b in batch_ids if meta is None or b > meta["last_batch"]]
    if not new_ids:
        if meta is None:
            raise ValueError(
                f"compact_kg_nodes: no linked batches under {inc_dir} "
                "and no prior compaction state to return"
            )
        return spark.read.parquet(f"{workdir}/nodes")

    delta = spark.read.parquet(
        *[f"{inc_dir}/batch={b}" for b in new_ids]
    )
    dv = C.entity_vote_counts(delta)
    dp = C.block_pairs(delta)
    if meta is not None:
        v = meta["version"]
        prev_votes = spark.read.parquet(f"{state_dir}/votes/v={v}")
        prev_pairs = spark.read.parquet(f"{state_dir}/pairs/v={v}")
        prev_assign = spark.read.parquet(f"{state_dir}/assign/v={v}")
        votes = (
            prev_votes.unionByName(dv)
            .groupBy("entity_id", "canonical_name", "link_kind")
            .agg(F.sum("cnt").alias("cnt"))
        )
        new_pairs = dp.join(prev_pairs, ["entity_id", "surface"], "left_anti")
        pairs = prev_pairs.unionByName(new_pairs)
        assign = C.incremental_components(prev_assign, C.block_edges(new_pairs))
    else:
        votes, pairs = dv, dp
        assign = C.connected_components(C.block_edges(dp))
    ent_comp = C.entity_components(pairs, assign)
    nodes = C.canonical_nodes_from_votes(votes, ent_comp)

    hwm = max(new_ids)
    for name, df in (("votes", votes), ("pairs", pairs), ("assign", assign)):
        df.write.mode("overwrite").parquet(f"{state_dir}/{name}/v={hwm}")
    nodes.write.mode("overwrite").parquet(f"{workdir}/nodes")
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"last_batch": hwm, "version": hwm}, f)
    os.replace(tmp, meta_path)
    for name in ("votes", "pairs", "assign"):
        root = f"{state_dir}/{name}"
        for d in os.listdir(root):
            if d.startswith("v=") and d != f"v={hwm}":
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return spark.read.parquet(f"{workdir}/nodes")


def stream_dedup_exact(spark: SparkSession, input_dir: str, output_dir: str,
                       checkpoint_dir: str, available_now: bool = True,
                       max_files_per_trigger: int | None = None):
    """Streaming exact dedup: continuous-ingest twin of
    ``operators/dedup.dedup_exact`` — only the FIRST document bearing a
    given normalized-content fingerprint is emitted, across micro-batch
    boundaries.

    ``dropDuplicates`` on the 16-byte md5 fingerprint keeps the seen-set
    in the streaming state store (checkpointed, survives restarts), so a
    duplicate arriving hours after the original is still dropped —
    state is keyed by digest, not text, so the store grows at
    16 B + overhead per distinct document, never by payload size. No
    watermark: dedup is global over the run by design (a watermark
    would bound state but re-admit late duplicates); bounded-state
    dedup is ``dropDuplicatesWithinWatermark`` at the same seam.
    """
    from ..functions.text import fingerprint

    reader = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    docs = reader.parquet(input_dir)
    deduped = docs.withColumn("fp", fingerprint(F.col("text"))).dropDuplicates(["fp"])
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_fuse_triples(spark: SparkSession, input_dir: str, workdir: str,
                        checkpoint_dir: str, available_now: bool = True,
                        max_files_per_trigger: int | None = None):
    """Continuous knowledge fusion: the streaming twin of
    ``operators/fusion.fuse_triples``.

    Noisy-or fusion is algebraically DECOMPOSABLE — sum(ln(1-s)), count,
    max, min all merge associatively — so each micro-batch writes only
    its per-triple PARTIAL aggregates (narrow rows: the triple key + four
    numbers) to an idempotent ``batch=<id>`` overwrite partition, exactly
    the stream_kg_increment pattern. The per-batch shuffle is batch-sized,
    never corpus-sized; merging is deferred to
    :func:`compact_fused_triples`.

    The one non-mergeable statistic is the EXACT distinct-document count,
    so each batch also logs its deduped ``(triple, doc_id)`` key set —
    the honest cost of exactness (the 100 TB swap is an
    approx_count_distinct sketch column in the partials, same layout).

      workdir/fuse_partials/batch=<id>/   per-triple partial aggregates
      workdir/fuse_docs/batch=<id>/       per-batch distinct (triple, doc)
    """
    reader = spark.readStream.schema(
        "subj string, pred string, obj string, score double, doc_id string"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    triples = reader.parquet(input_dir)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        s = F.least(F.col("score").cast("double"), F.lit(1.0 - 1e-9))
        partials = batch_df.groupBy("subj", "pred", "obj").agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.max("score").alias("max_score"),
            F.min("score").alias("min_score"),
            F.sum(F.log(F.lit(1.0) - s)).alias("log_one_minus"),
        )
        docs = batch_df.select("subj", "pred", "obj", "doc_id").distinct()
        partials.write.mode("overwrite").parquet(
            f"{workdir}/fuse_partials/batch={batch_id}")
        docs.write.mode("overwrite").parquet(
            f"{workdir}/fuse_docs/batch={batch_id}")

    writer = (
        triples.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_fused_triples(spark: SparkSession, workdir: str) -> DataFrame:
    """Merge the accumulated fusion partials into the canonical fused
    table — same schema as ``fuse_triples`` (subj, pred, obj, n_mentions,
    n_docs, max_score, min_score, noisy_or). Equals the batch operator
    over the union corpus (pinned by test_streaming; noisy_or up to
    float-sum reassociation)."""
    parts = spark.read.parquet(f"{workdir}/fuse_partials").drop("batch")
    docs = spark.read.parquet(f"{workdir}/fuse_docs").drop("batch")
    merged = parts.groupBy("subj", "pred", "obj").agg(
        F.sum("n_mentions").alias("n_mentions"),
        F.max("max_score").alias("max_score"),
        F.min("min_score").alias("min_score"),
        (F.lit(1.0) - F.exp(F.sum("log_one_minus"))).alias("noisy_or"),
    )
    nd = docs.groupBy("subj", "pred", "obj").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return merged.join(nd, ["subj", "pred", "obj"]).select(
        "subj", "pred", "obj", "n_mentions", "n_docs",
        "max_score", "min_score", "noisy_or",
    )


def stream_token_counts(spark: SparkSession, input_dir: str, workdir: str,
                        checkpoint_dir: str, available_now: bool = True,
                        max_files_per_trigger: int | None = None):
    """Continuous heavy-hitters feed: the streaming twin of
    ``operators/sketches.heavy_hitters``.

    Token counts are fully DECOMPOSABLE (sums merge associatively), so
    each micro-batch writes only its per-token partial counts — one
    narrow (tok, cnt) row per distinct token in the batch — to an
    idempotent ``batch=<id>`` overwrite partition, exactly the
    stream_fuse_triples pattern: the file-source checkpoint + partition
    overwrite give effective exactly-once, a replayed batch id rewrites
    its own partition, and the per-batch shuffle is batch-sized, never
    corpus-sized. Thresholding is deferred to
    :func:`compact_heavy_hitters`, which merges the partial log and
    applies the exact integer frequency test — so the streamed result
    equals the batch operator over the union corpus (pinned by
    test_streaming).

      workdir/tok_inc/batch=<id>/   per-batch (tok, cnt) partials
    """
    from ..functions.text import normalize_ws, tokens

    reader = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    docs = reader.parquet(input_dir)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        counts = (
            batch_df.select(
                F.explode(tokens(normalize_ws(F.col("text")))).alias("tok")
            )
            .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
        )
        counts.write.mode("overwrite").parquet(
            f"{workdir}/tok_inc/batch={batch_id}")

    writer = (
        docs.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_heavy_hitters(spark: SparkSession, workdir: str,
                          num: int = 1, den: int = 1000) -> DataFrame:
    """Merge the accumulated token-count partials and apply the exact
    integer frequency test ``cnt * den >= total * num`` — identical
    output contract to ``operators/sketches.heavy_hitters`` over the
    union of all streamed batches."""
    c = spark.read.parquet(f"{workdir}/tok_inc").drop("batch")
    merged = c.groupBy("tok").agg(F.sum("cnt").alias("cnt"))
    total = merged.agg(F.sum("cnt").alias("total"))
    return (
        merged.join(F.broadcast(total))
        .where(F.col("cnt") * F.lit(int(den)) >= F.col("total") * F.lit(int(num)))
        .select("tok", "cnt")
    )


def stream_dedup_url(spark: SparkSession, input_dir: str, output_dir: str,
                     checkpoint_dir: str, url_col: str = "url",
                     available_now: bool = True,
                     max_files_per_trigger: int | None = None):
    """Streaming canonical-URL dedup: the continuous-crawl twin of
    ``functions/web.dedup_by_url`` — only the FIRST page bearing a
    given canonical URL is emitted, across micro-batch boundaries
    (re-crawls of the same page behind tracking params / fragments /
    case-variant hosts arrive days later; the state store remembers).

    Same state discipline as :func:`stream_dedup_exact`: state is keyed
    by the canonical URL string, never the payload, so the store grows
    with distinct pages only. The canonical URL is added as a column so
    downstream consumers join on it without re-deriving.
    """
    from ..functions.web import canonicalize_url

    reader = spark.readStream.schema(
        f"doc_id string, {url_col} string, text string"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    pages = reader.parquet(input_dir)
    deduped = pages.withColumn(
        "canonical_url", canonicalize_url(F.col(url_col))
    ).dropDuplicates(["canonical_url"])
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dq_audit(spark: SparkSession, input_dir: str, workdir: str,
                    checkpoint_dir: str, rules, schema: str,
                    available_now: bool = True,
                    max_files_per_trigger: int | None = None):
    """Continuous data-quality monitoring: the streaming twin of
    ``operators/audit.check_constraints``.

    Row-local rules (not_null / accepted_values / range / regex) are
    fully DECOMPOSABLE — n_checked and n_violations are plain sums — so
    each micro-batch writes its per-rule partial counts to an
    idempotent ``batch=<id>`` overwrite partition (the
    stream_token_counts pattern: checkpoint + partition overwrite =
    effective exactly-once, replayed batches rewrite themselves).
    ``unique`` and ``ref`` rules are NOT batch-decomposable (both
    quantify across batches) and are rejected here — run them in the
    periodic batch audit instead; the split mirrors how production
    monitors separate per-record from cross-record checks.

      workdir/dq_inc/batch=<id>/   per-batch per-rule partial counts

    :func:`compact_dq_audit` merges the log into the exact batch-audit
    result over the union of all streamed batches (pinned by
    test_streaming).
    """
    from ..operators.audit import _ROW_LOCAL, check_constraints

    bad = [r["id"] for r in rules if r["type"] not in _ROW_LOCAL]
    if bad:
        raise ValueError(
            f"rules not decomposable over micro-batches: {bad} "
            "(unique/ref quantify across batches — use the batch audit)"
        )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    src = reader.parquet(input_dir)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        res = check_constraints(batch_df, rules).drop("passed")
        res.write.mode("overwrite").parquet(
            f"{workdir}/dq_inc/batch={batch_id}")

    writer = (
        src.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_dq_audit(spark: SparkSession, workdir: str) -> DataFrame:
    """Merge the streamed per-batch partials into the exact audit
    result over the union corpus — identical output contract to the
    batch ``check_constraints`` (row-local rules)."""
    p = spark.read.parquet(f"{workdir}/dq_inc").drop("batch")
    return (
        p.groupBy("rule_id", "rule_type", "column_name")
        .agg(
            F.sum("n_checked").alias("n_checked"),
            F.sum("n_violations").alias("n_violations"),
        )
        .withColumn("passed", F.col("n_violations") == 0)
    )
