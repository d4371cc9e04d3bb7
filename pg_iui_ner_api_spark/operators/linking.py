"""Entity linking: candidate generation + embedding rerank (SURVEY.md J3/M5).

Stage shape:

    mentions  ⋈ broadcast(alias_dict)  on lower(word)=lower(alias)   # J3
      emb_sim = cosine(encode(ctx), entity_emb)   # Arrow-batched
                vectorized pandas UDF; entity matrix held per worker
      score   = 0.7*emb_sim + 0.3*prior
      links   = argmax per mention (max_by)     # one shuffle on mention_id

Scale properties:

  * The alias dictionary and entity-embedding table are small dimensions
    (≤ millions of rows in production): both join broadcast, so the
    100 TB mention table never shuffles here.
  * Only a narrow (mention_id, word, ctx) projection flows through the
    candidate join and the per-mention argmax; the fat mention row is
    joined back once at the end. No embedding vector is ever shuffled
    or Arrow-transferred — the stand-in encoder is Column algebra, and
    a real transformer encoder would slot in as an Arrow-batched
    scalar-iterator pandas UDF at the same seam (per-worker model
    singleton, cf. operators/tagger.HFTagger).
  * AQE skew-join splitting covers hub surfaces ('Acme') in the
    candidate join.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..synth import VOCAB


def _bow_count_matrix(ctx_list, vocab, V):
    """Dense BoW count matrix + L2 norms for the DISTINCT context
    strings of an Arrow batch, plus the row -> distinct-index map.

    Fully vectorized (one regex pass over a \\x00-joined blob,
    searchsorted row mapping, bincount fill); mentions of the same
    sentence share one ctx string, so tokenizing per DISTINCT ctx
    (np.unique) does the regex/bincount work once per sentence instead
    of once per mention. None contexts become all-zero rows (norm 0).
    Returns (C_uniq, norms_uniq, inv) with C_uniq[inv[i]] the BoW row
    of ctx_list[i]."""
    import re

    import numpy as np

    texts = np.array(
        [c.lower() if c is not None else "" for c in ctx_list], dtype=object
    )
    uniq, inv = np.unique(texts, return_inverse=True)
    n = len(uniq)
    lens = np.fromiter((len(t) for t in uniq), np.int64, count=n)
    starts = np.zeros(n, np.int64)
    if n > 1:
        np.cumsum(lens[:-1] + 1, out=starts[1:])
    blob = "\x00".join(uniq)
    pos, toks = [], []
    ap_p, ap_t = pos.append, toks.append
    for m in re.finditer(r"\w+", blob):
        ap_p(m.start())
        ap_t(m.group(0))
    vidx = pd.Series(toks, dtype=object).map(vocab)
    ok = vidx.notna().to_numpy()
    rows = np.searchsorted(starts, np.array(pos, np.int64)[ok], side="right") - 1
    vi = vidx.to_numpy()[ok].astype(np.int64)
    keep = vi < V  # vocab entries beyond the embedding dim contribute 0
    rows, vi = rows[keep], vi[keep]
    C = np.bincount(rows * V + vi, minlength=n * V).reshape(n, V).astype(np.float64)
    norms = np.sqrt(np.einsum("ij,ij->i", C, C))
    return C, norms, inv


def _entity_matrix(emb_map):
    """(id -> column index, n_e x V matrix) from the broadcast dict;
    deterministic column order."""
    import numpy as np

    ids = sorted(emb_map)
    col = {e: i for i, e in enumerate(ids)}
    mat = np.stack([emb_map[e] for e in ids]) if ids else np.zeros((0, 1))
    return col, mat


def _cosine_rows(C, norms, emb_mat, rows_flat, eidx_flat):
    """cos(context BoW of distinct-ctx row ``rows_flat[i]``, embedding
    column ``eidx_flat[i]``) for every flattened (row, candidate) pair.
    ``eidx_flat`` holds PRE-RESOLVED embedding column indexes (-1 =
    unknown entity) — the string->index lookup happens once at dim build
    time JVM-side, so no per-candidate dict access or string transfer
    here. Small entity dims go through one BLAS matmul (rows x V @
    V x n_e); large dims gather only the referenced pairs."""
    import numpy as np

    eidx = np.asarray(eidx_flat, dtype=np.int64)
    known = eidx >= 0
    safe_norm = np.where(norms > 0, norms, 1.0)
    sims = np.zeros(len(eidx))
    if emb_mat.shape[0] <= 4096:
        P = (C @ emb_mat.T) / safe_norm[:, None]
        sims[known] = P[rows_flat[known], eidx[known]]
    else:  # pragma: no cover - production-size dim path, same math
        r, e = rows_flat[known], eidx[known]
        sims[known] = np.einsum("ij,ij->i", C[r], emb_mat[e]) / safe_norm[r]
    sims[norms[rows_flat] == 0] = 0.0
    return sims


def candidates(mentions: DataFrame, alias_df: DataFrame) -> DataFrame:
    """Mention surface -> candidate entities. Broadcast hash join (J3)."""
    a = F.broadcast(
        alias_df.select(
            F.lower("alias").alias("alias_norm"),
            "alias",
            "entity_id",
            "kind",
            "canonical_name",
            "prior",
        )
    )
    return mentions.join(a, F.lower(mentions.word) == a.alias_norm, "inner")


def fuzzy_candidates(mentions: DataFrame, alias_df: DataFrame,
                     fuzzy_prior_discount: float = 0.5) -> DataFrame:
    """Typo-tolerant candidate generation: exact broadcast candidates
    (J3) UNION deletion-neighborhood distance-1 matches for surfaces the
    dictionary misses — recall for OCR/typo corpora where 'Acm' must
    still reach the 'Acme' entity. Fuzzy hits carry ``match_dist`` = 1
    and a discounted prior (the rerank stays the tiebreaker).

    Scale shape: the alias dim expands to its deletion variants AT DIM
    BUILD TIME (|alias|·(len+1) rows — still dim-sized, still
    broadcast); only mentions with NO exact hit (the OOV minority) take
    the fuzzy path, exploding in-row to |word|+1 variants before the
    broadcast join, with an exact ``levenshtein`` verify and a
    dropDuplicates on (mention_id, entity_id). The corpus-side shuffle
    this dedupe costs is over the OOV slice only; exact-hit mentions
    stay map-only.
    """
    from .similarity import _deletion_variants

    exact = candidates(mentions, alias_df).withColumn("match_dist", F.lit(0))

    surfaces = F.broadcast(
        alias_df.select(F.lower("alias").alias("alias_norm")).distinct()
    )
    oov = mentions.join(
        surfaces, F.lower(mentions.word) == surfaces.alias_norm, "left_anti"
    )
    var_dim = F.broadcast(
        alias_df.select(
            F.lower("alias").alias("alias_norm"),
            "alias", "entity_id", "kind", "canonical_name",
            (F.col("prior") * fuzzy_prior_discount).alias("prior"),
        ).withColumn("var", F.explode(_deletion_variants(F.col("alias_norm"))))
    )
    m_var = oov.withColumn(
        "var", F.explode(_deletion_variants(F.lower("word")))
    )
    fuzzy = (
        m_var.join(var_dim, "var")
        .where(F.levenshtein(F.lower("word"), F.col("alias_norm")) <= 1)
        .drop("var")
        .dropDuplicates(["mention_id", "entity_id"])
        .withColumn("match_dist", F.lit(1))
    )
    return exact.unionByName(fuzzy.select(*exact.columns))


def rerank(cands: DataFrame, entity_emb_df: DataFrame) -> DataFrame:
    """Dense rerank (M5): cosine(encode(ctx), entity_emb) as an
    Arrow-batched scalar pandas UDF — the north_star's prescribed shape
    ("dense-embedding rerank ... in Arrow batches").

    Why not pure Column algebra: the BoW cosine over the context tokens
    was first built with JVM higher-order functions, but Catalyst
    inlines projected subexpressions into every lambda reference
    (CollapseProject has no common-subexpression elimination), so the
    tokenizer re-ran per aggregate element — measured ~20 µs/row
    interpreted. The vectorized numpy path runs ~2-4 µs/row and ships
    only (ctx, entity_id) through Arrow; the entity-embedding matrix is
    held per worker (a dim — at production scale it ships via
    SparkFiles/broadcast exactly like the NER model, S4/S5).
    """
    import numpy as np

    # L2-normalize entity embeddings up front so the UDF's dot/||ctx|| is a
    # true cosine even if a real encoder hands us un-normalized vectors
    # (the synth dim is already unit-norm, so scores are unchanged there).
    emb_map = {}
    for r in entity_emb_df.collect():
        v = np.asarray(r["emb"], dtype=np.float64)
        emb_map[r["entity_id"]] = v / (np.linalg.norm(v) or 1.0)
    # Ship the dim via a Spark broadcast variable (one torrent transfer per
    # executor) instead of closure capture (re-pickled into every task) —
    # this is the code path the 100 TB story claims.
    bc_emb = entity_emb_df.sparkSession.sparkContext.broadcast(emb_map)
    vocab = dict(VOCAB)
    holder: dict = {}  # per-worker (entity column map, matrix) cache

    @F.pandas_udf("double")
    def bow_cos(ctx: pd.Series, eid: pd.Series) -> pd.Series:
        import numpy as np

        if "col" not in holder:
            holder["col"], holder["mat"] = _entity_matrix(bc_emb.value)
        col, mat = holder["col"], holder["mat"]
        V = mat.shape[1]
        C, norms, inv = _bow_count_matrix(ctx.tolist(), vocab, V)
        eidx = np.fromiter(
            (col.get(e, -1) for e in eid.tolist()), np.int64, count=len(eid)
        )
        sims = _cosine_rows(C, norms, mat, inv, eidx)
        return pd.Series(sims)

    return (
        cands.withColumn("emb_sim", bow_cos("ctx", "entity_id"))
        .withColumn("link_score", 0.7 * F.col("emb_sim") + 0.3 * F.col("prior"))
    )


def links(scored: DataFrame, carry_cols: list[str] | None = None) -> DataFrame:
    """Top-1 candidate per mention. Single shuffle on mention_id; ties break
    deterministically on entity_id so reruns are byte-identical.

    ``carry_cols`` ride along inside the argmax struct (identical for
    every candidate of a mention), which is what lets link_mentions skip
    a join-back shuffle entirely.
    """
    fields = [
        F.col("entity_id"),
        F.col("kind").alias("link_kind"),
        F.col("canonical_name"),
        F.col("link_score"),
    ] + [F.col(c) for c in (carry_cols or [])]
    best = F.max_by(
        F.struct(*fields), F.struct(F.col("link_score"), F.col("entity_id"))
    ).alias("best")
    return scored.groupBy("mention_id").agg(best).select("mention_id", "best.*")


def _with_scored(
    mentions: DataFrame, alias_df: DataFrame, entity_emb_df: DataFrame
) -> DataFrame:
    """Shared core of :func:`link_mentions` / :func:`scored_candidates`:
    the mention rows joined to the broadcast candidate dim with a
    ``scored`` array column — one struct (link_score, entity_id,
    link_kind, canonical_name) per candidate, link_score = 0.7 *
    ctx-BoW cosine + 0.3 * prior, the cosine computed ONCE per mention
    in one Arrow crossing. Map-only."""
    import numpy as np

    emb_map = {}
    for r in entity_emb_df.collect():
        v = np.asarray(r["emb"], dtype=np.float64)
        emb_map[r["entity_id"]] = v / (np.linalg.norm(v) or 1.0)
    bc_emb = entity_emb_df.sparkSession.sparkContext.broadcast(emb_map)
    # resolve entity_id -> embedding-matrix column ONCE at dim-build time
    # (same sorted order as _entity_matrix): candidate arrays then carry
    # small ints through Arrow instead of id strings, and the UDF does
    # zero per-candidate dict lookups. -1 = entity without an embedding
    # (scores 0.0, exactly as the old id-string miss path did).
    from ..synth import local_dim_df

    spark = entity_emb_df.sparkSession
    idx_dim = F.broadcast(
        local_dim_df(
            spark, [(e, i) for i, e in enumerate(sorted(emb_map))],
            ["entity_id", "eidx"],
        ).select("entity_id", F.col("eidx").cast("int").alias("eidx"))
    )
    cand_dim = F.broadcast(
        alias_df.join(idx_dim, "entity_id", "left")
        .na.fill({"eidx": -1})
        .groupBy(F.lower("alias").alias("alias_norm")).agg(
            F.collect_list(
                F.struct("entity_id", "kind", "canonical_name", "prior", "eidx")
            ).alias("cands")
        )
    )
    vocab = dict(VOCAB)
    holder: dict = {}  # per-worker (entity column map, matrix) cache

    @F.pandas_udf("array<double>")
    def bow_cos_multi(ctx: pd.Series, eidxs: pd.Series) -> pd.Series:
        import numpy as np

        if "mat" not in holder:
            _, holder["mat"] = _entity_matrix(bc_emb.value)
        mat = holder["mat"]
        V = mat.shape[1]
        es_list = eidxs.tolist()
        if not es_list:
            return pd.Series([], dtype=object)
        n_cands = np.fromiter(
            (0 if es is None else len(es) for es in es_list),
            np.int64, count=len(es_list),
        )
        C, norms, inv = _bow_count_matrix(ctx.tolist(), vocab, V)
        rows_flat = np.repeat(inv, n_cands)
        flat_eidx = np.fromiter(
            (e for es in es_list if es is not None for e in es),
            np.int64, count=int(n_cands.sum()),
        )
        sims = _cosine_rows(C, norms, mat, rows_flat, flat_eidx)
        return pd.Series(np.split(sims, np.cumsum(n_cands)[:-1]))

    with_cands = mentions.join(
        cand_dim, F.lower(mentions.word) == cand_dim.alias_norm, "inner"
    )
    sims = bow_cos_multi("ctx", F.col("cands.eidx"))
    scored = F.zip_with(
        "cands", sims,
        lambda cand, sim: F.struct(
            (0.7 * sim + 0.3 * cand["prior"]).alias("link_score"),
            cand["entity_id"].alias("entity_id"),
            cand["kind"].alias("link_kind"),
            cand["canonical_name"].alias("canonical_name"),
        ),
    )
    return with_cands.withColumn("scored", scored).drop("alias_norm", "cands")


def link_mentions(mentions: DataFrame, alias_df: DataFrame, entity_emb_df: DataFrame) -> DataFrame:
    """mentions + alias dict + embeddings -> linked mentions, MAP-ONLY.

    Returns the mention rows augmented with (entity_id, canonical_name,
    link_kind, link_score); mentions whose surface is out-of-dictionary
    are dropped (NIL linking — same behavior as the reference, which only
    ever emits entities its label space knows). The ctx column is
    consumed here and dropped from the output — downstream stages never
    carry it.

    Plan shape (round 2): a surface has only a handful of candidate
    entities, so the alias dict is pre-grouped per normalized surface
    into a candidate ARRAY and broadcast; each mention row then scores
    its candidates in-row (one Arrow crossing computes the BoW context
    vector ONCE per mention and dots it against every candidate) and
    takes the argmax with array_max — same (link_score, entity_id) tie
    rule as the old max_by. ZERO shuffles: round 1 shuffled the corpus
    twice here (groupBy(mention_id) argmax + join-back), which at 10^12
    documents was the pipeline's largest avoidable exchange. Measured at
    1M docs: linking stage 45.2 s -> map-only (see BASELINE.md r2).
    """
    best = F.array_max(F.col("scored"))
    return (
        _with_scored(mentions, alias_df, entity_emb_df)
        .withColumn("best", best)
        .drop("ctx", "scored")
        .withColumn("entity_id", F.col("best.entity_id"))
        .withColumn("link_kind", F.col("best.link_kind"))
        .withColumn("canonical_name", F.col("best.canonical_name"))
        .withColumn("link_score", F.col("best.link_score"))
        .drop("best")
    )


def scored_candidates(
    mentions: DataFrame, alias_df: DataFrame, entity_emb_df: DataFrame
) -> DataFrame:
    """Per-candidate rows carrying the SAME score
    :func:`link_mentions` argmaxes over: the mention columns +
    (entity_id, link_kind, canonical_name, link_score), one row per
    (mention, candidate). Still map-only — the explode is in-row and
    the fan-out is the per-surface candidate count (a handful). The
    collective linker's candidate surface."""
    return (
        _with_scored(mentions, alias_df, entity_emb_df)
        .select("*", F.explode("scored").alias("c"))
        .drop("ctx", "scored")
        .withColumn("entity_id", F.col("c.entity_id"))
        .withColumn("link_kind", F.col("c.link_kind"))
        .withColumn("canonical_name", F.col("c.canonical_name"))
        .withColumn("link_score", F.col("c.link_score"))
        .drop("c")
    )


# ---------------------------------------------------------------------------
# Collective entity linking: document-level coherence rerank
# ---------------------------------------------------------------------------
def coherence_rerank(
    candidates: DataFrame,
    edges: DataFrame,
    *,
    lam: float = 1.0,
    max_cands_per_mention: int = 8,
    max_mentions_per_doc: int = 64,
) -> DataFrame:
    """Collective entity disambiguation (the Milne-Witten/Ratinov
    "document coherence" family): each mention's candidate entities are
    reranked by how related they are to the OTHER mentions' candidates
    in the same document, using the KG's own relatedness edges — the
    stage that turns independent per-mention linking (the reference's
    per-request shape) into document-level joint inference.

    Inputs: ``candidates`` (doc_id, mention_id, entity_id, prior) with
    multiple candidate rows per mention; ``edges`` (u, v) undirected
    entity-relatedness pairs (any orientation; deduped and symmetrized
    here). Output: the WINNING candidate per mention —
    ``(doc_id, mention_id, entity_id, prior, coherence, score)`` where
    ``coherence`` = number of DISTINCT other mentions in the document
    offering at least one candidate related to this candidate by an
    edge (distinct-mention counting so a neighbor with many related
    candidates votes once), ``score = round(prior + lam*coherence, 6)``,
    winner by (score DESC, entity_id ASC) — fully deterministic.

    Scale shape: caps bound the quadratic doc-local pair fan-out the
    same way the wedge operators cap hubs — per mention the top
    ``max_cands_per_mention`` candidates by (prior DESC, entity ASC),
    per document the first ``max_mentions_per_doc`` mentions by id
    (windows over mention/doc-sized groups, never corpus-wide); a
    capped doc contributes <= (m*c)^2 pairs. The relatedness test is
    one equi-join of the pair table against the canonical edge set on
    (entity, entity) ids — hash join, ids only, no text anywhere. The
    drop side is :func:`coherence_dropped` (never silent).
    """
    from pyspark.sql import Window

    if max_cands_per_mention < 1 or max_mentions_per_doc < 1:
        raise ValueError("caps must be >= 1")
    c = candidates.select("doc_id", "mention_id", "entity_id", "prior")
    wc = Window.partitionBy("doc_id", "mention_id").orderBy(
        F.col("prior").desc(), F.col("entity_id").asc()
    )
    c = c.withColumn("_rk", F.row_number().over(wc)).where(
        F.col("_rk") <= max_cands_per_mention
    ).drop("_rk")
    wm = Window.partitionBy("doc_id").orderBy(F.col("mention_id").asc())
    keep_m = (
        c.select("doc_id", "mention_id").distinct()
        .withColumn("_rm", F.row_number().over(wm))
        .where(F.col("_rm") <= max_mentions_per_doc)
        .drop("_rm")
    )
    c = c.join(keep_m, ["doc_id", "mention_id"], "left_semi").localCheckpoint()

    sym = (
        edges.select("u", "v")
        .where(F.col("u") != F.col("v"))
        .unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    a = c.select("doc_id", "mention_id", "entity_id")
    b = c.select(
        "doc_id",
        F.col("mention_id").alias("other_mention"),
        F.col("entity_id").alias("other_entity"),
    )
    pairs = a.join(b, "doc_id").where(
        F.col("mention_id") != F.col("other_mention")
    )
    hits = pairs.join(
        sym,
        (pairs.entity_id == sym.u) & (pairs.other_entity == sym.v),
    )
    coh = hits.groupBy("doc_id", "mention_id", "entity_id").agg(
        F.count_distinct("other_mention").alias("coherence")
    )
    scored = c.join(coh, ["doc_id", "mention_id", "entity_id"], "left").select(
        "doc_id",
        "mention_id",
        "entity_id",
        "prior",
        F.coalesce("coherence", F.lit(0)).cast("long").alias("coherence"),
    ).withColumn(
        "score",
        F.round(F.col("prior") + F.lit(float(lam)) * F.col("coherence"), 6),
    )
    win = scored.groupBy("doc_id", "mention_id").agg(
        F.min(
            F.struct(
                (-F.col("score")).alias("ns"),
                F.col("entity_id"),
                F.col("prior"),
                F.col("coherence"),
                F.col("score"),
            )
        ).alias("_w")
    )
    return win.select(
        "doc_id",
        "mention_id",
        F.col("_w.entity_id").alias("entity_id"),
        F.col("_w.prior").alias("prior"),
        F.col("_w.coherence").alias("coherence"),
        F.col("_w.score").alias("score"),
    )


def coherence_dropped(
    candidates: DataFrame,
    *,
    max_cands_per_mention: int = 8,
    max_mentions_per_doc: int = 64,
) -> DataFrame:
    """The never-silent companion of :func:`coherence_rerank`:
    ``(doc_id, n_mentions_dropped, n_cand_rows_dropped)`` per document
    the caps touched (either cap; docs untouched by both are absent)."""
    from pyspark.sql import Window

    c = candidates.select("doc_id", "mention_id", "entity_id", "prior")
    wc = Window.partitionBy("doc_id", "mention_id").orderBy(
        F.col("prior").desc(), F.col("entity_id").asc()
    )
    ranked = c.withColumn("_rk", F.row_number().over(wc))
    wm = Window.partitionBy("doc_id").orderBy(F.col("mention_id").asc())
    m_ranked = (
        c.select("doc_id", "mention_id").distinct()
        .withColumn("_rm", F.row_number().over(wm))
    )
    dropped_m = m_ranked.where(F.col("_rm") > max_mentions_per_doc).groupBy(
        "doc_id"
    ).agg(F.count(F.lit(1)).alias("n_mentions_dropped"))
    kept_m = m_ranked.where(F.col("_rm") <= max_mentions_per_doc).drop("_rm")
    dropped_c = (
        ranked.join(kept_m, ["doc_id", "mention_id"], "left_semi")
        .where(F.col("_rk") > max_cands_per_mention)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_cand_rows_dropped"))
    )
    zero = F.lit(0).cast("long")
    return (
        dropped_m.join(dropped_c, "doc_id", "full")
        .select(
            "doc_id",
            F.coalesce("n_mentions_dropped", zero).alias("n_mentions_dropped"),
            F.coalesce("n_cand_rows_dropped", zero).alias("n_cand_rows_dropped"),
        )
    )


def link_mentions_coherent(
    mentions: DataFrame,
    alias_df: DataFrame,
    entity_emb_df: DataFrame,
    *,
    lam: float = 0.05,
    max_doc_entities: int = 64,
    max_cands_per_mention: int = 8,
    max_mentions_per_doc: int = 64,
) -> DataFrame:
    """Two-pass COLLECTIVE linking: the production wiring of
    :func:`coherence_rerank`. Pass 1 runs the independent
    :func:`link_mentions` (broadcast candidates + ctx-BoW rerank); its
    document-level co-linked entity graph — which entities pass 1
    placed together in documents, hub-capped — becomes the relatedness
    prior; pass 2 reranks every mention's candidates by
    ``pass-1 link_score + lam * coherence`` against that graph and
    takes the deterministic winner. The prior is the FULL pass-1 score
    (:func:`scored_candidates`), not the raw alias prior, and ``lam``
    defaults small (0.05): coherence breaks near-ties the context
    model can't separate, it does not override a confident context
    signal (lam=0.5 over raw priors measured 0.925 triple precision on
    the synth corpus vs >= 0.95 with this formulation).

    Output schema == :func:`link_mentions` (mention columns +
    entity_id, link_kind, canonical_name, link_score), so the coherent
    linker is a drop-in stage swap: the triple-parity gate is pinned
    >= 0.95 through it in ``tests/test_linking.py``.

    Scale shape: pass 1 is the existing map-only stage; the relatedness
    graph is one hub-capped co-occurrence build over (doc_id,
    entity_id) pairs (dimension-tending output); pass 2 adds
    :func:`coherence_rerank`'s capped doc-local pair join. Nothing new
    is corpus-quadratic.
    """
    from .graph import cooccurrence_edges

    pass1 = link_mentions(mentions, alias_df, entity_emb_df)
    ent_edges = cooccurrence_edges(
        pass1.select("doc_id", "entity_id"), "doc_id", "entity_id",
        max_group=max_doc_entities,
    ).select(F.col("src").alias("u"), F.col("dst").alias("v"))

    cands = scored_candidates(mentions, alias_df, entity_emb_df)
    slim = (
        cands.groupBy("doc_id", "mention_id", "entity_id")
        .agg(F.max("link_score").alias("prior"))
    )
    win = coherence_rerank(
        slim, ent_edges, lam=lam,
        max_cands_per_mention=max_cands_per_mention,
        max_mentions_per_doc=max_mentions_per_doc,
    ).select(
        "doc_id", "mention_id", "entity_id",
        F.col("score").alias("coh_score"),
    )
    # the alias dim may hold several (surface, entity) rows differing in
    # kind/name: keep the highest-scored one, ties to the smallest
    # (link_kind, canonical_name) — never partition order
    cols = ["doc_id", "span_idx", "entity_group", "word", "start", "end",
            "score", "sentence_id", "entity_id", "coh_score"]
    return (
        cands.join(win, ["doc_id", "mention_id", "entity_id"])
        .groupBy("mention_id")
        .agg(F.min(F.struct(
            (-F.col("link_score")).alias("nls"), "link_kind",
            "canonical_name", *cols,
        )).alias("_w"))
        .select(
            "_w.doc_id", "_w.span_idx", "mention_id", "_w.entity_group",
            "_w.word", "_w.start", "_w.end", "_w.score", "_w.sentence_id",
            "_w.entity_id", "_w.link_kind", "_w.canonical_name",
            F.col("_w.coh_score").alias("link_score"),
        )
    )
