"""Entity linking: candidate generation + embedding rerank (SURVEY.md J3/M5).

Stage shape (map-only, no join, no exchange):

    dims     ──toArrow──> prepared dimension, one broadcast per call
    mentions ──arrow_udf(lower(word), ctx)──> best candidate   # one crossing
      candidates = the alias rows of lower(word)   (hash lookup in-batch)
      emb_sim    = cosine(BoW(ctx), entity_emb)    (per distinct ctx)
      score      = 0.7*emb_sim + 0.3*prior
      link       = segmented argmax, array_max's (score, entity_id,
                   link_kind, canonical_name) order

Scale properties:

  * The alias dictionary and entity-embedding table are small dimensions
    (≤ millions of rows in production). Each call collects both once as
    Arrow and broadcasts one prepared dimension: the L2-normalized entity
    matrix, the alias rows grouped by lowered surface, and a tie rank.
    The mention table never shuffles or joins here.
  * Each Arrow batch gathers its mentions' candidates flat, scores them
    in one vectorized pass and returns the winner, dropping ``ctx`` on
    the way out. No embedding vector is ever shuffled or
    Arrow-transferred — the stand-in encoder is a BoW over the context,
    and a real transformer encoder would slot in at the same seam
    (per-worker model singleton, cf. operators/tagger.HFTagger).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import arrow_udf

from ..synth import VOCAB

# entity dims up to this size score through one BLAS matmul per batch;
# larger ones gather only the referenced (context, entity) pairs
MATMUL_MAX_ENTITIES = 4096

# the scorer's struct fields, in array_max's comparison order, and the
# order link_mentions appends them in
_LINK = ("link_score", "entity_id", "link_kind", "canonical_name")
_OUT = ("entity_id", "link_kind", "canonical_name", "link_score")
_SCORED = ("struct<link_score double, entity_id string, link_kind string,"
           " canonical_name string>")


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


def _cosine_rows(C, norms, emb_mat, rows_flat, eidx_flat):
    """cos(context BoW of distinct-ctx row ``rows_flat[i]``, embedding
    column ``eidx_flat[i]``) for every flattened (row, candidate) pair.
    ``eidx_flat`` holds PRE-RESOLVED embedding column indexes (-1 =
    unknown entity) — the string->index lookup happens once at dim build
    time, so no per-candidate dict access or string transfer here.
    Entity dims up to ``MATMUL_MAX_ENTITIES`` go through one BLAS matmul
    (rows x V @ V x n_e); larger ones gather only the referenced pairs."""
    eidx = np.asarray(eidx_flat, dtype=np.int64)
    known = eidx >= 0
    safe_norm = np.where(norms > 0, norms, 1.0)
    sims = np.zeros(len(eidx))
    if emb_mat.shape[0] <= MATMUL_MAX_ENTITIES:
        P = (C @ emb_mat.T) / safe_norm[:, None]
        sims[known] = P[rows_flat[known], eidx[known]]
    else:
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
    broadcast join, with an exact ``levenshtein`` verify and one row
    per (mention_id, entity_id): the one with the smallest (alias, kind,
    canonical_name, prior), whatever the input order. The corpus-side
    shuffle this dedupe costs is over the OOV slice only; exact-hit
    mentions stay map-only.
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
    hits = (
        m_var.join(var_dim, "var")
        .where(F.levenshtein(F.lower("word"), F.col("alias_norm")) <= 1)
        .drop("var")
    )
    key = ["mention_id", "entity_id"]
    pick = ["alias", "kind", "canonical_name", "prior"]
    rest = [c for c in hits.columns if c not in key + pick]
    fuzzy = (
        hits.groupBy(*key)
        .agg(F.min(F.struct(*pick, *rest)).alias("_w"))
        .select(*key, "_w.*")
        .withColumn("match_dist", F.lit(1))
    )
    return exact.unionByName(fuzzy.select(*exact.columns))


class _Dim(NamedTuple):
    """The linking dimensions prepared for the scorer. Candidate rows are
    grouped by lowered surface: those of ``surfaces[i]`` are rows
    ``offsets[i]:offsets[i + 1]`` of the per-candidate columns."""

    surfaces: pa.Array       # distinct lower(alias)
    offsets: np.ndarray      # int64, len(surfaces) + 1
    eidx: np.ndarray         # int64 row of ``emb``, -1 = no embedding
    prior: np.ndarray        # float64, NaN where null
    prior_ok: np.ndarray     # bool, prior not null
    rank: np.ndarray         # int64 position in (entity_id, link_kind,
                             # canonical_name) order, nulls first
    entity_id: pa.Array
    link_kind: pa.Array
    canonical_name: pa.Array
    emb: np.ndarray          # L2-normalized, one row per entity id, sorted


def _prepare(alias_df: DataFrame, entity_emb_df: DataFrame):
    """Collect both dimensions once as Arrow and broadcast them as one
    :class:`_Dim`. Spark lowers the aliases, so Python's ``str.lower``
    never decides a match; Arrow sorts and ranks the strings in UTF-8
    byte order, as Spark compares them."""
    et = entity_emb_df.select("entity_id", "emb").toArrow()
    ids = et.column("entity_id").to_numpy()
    emb = et.column("emb").combine_chunks()
    lens = pc.list_value_length(emb).to_numpy(zero_copy_only=False)
    V = int(lens[0]) if len(lens) else 0
    if not (lens == V).all():
        raise ValueError("every entity embedding must have the same length")
    mat = pc.list_flatten(emb).to_numpy(zero_copy_only=False)
    mat = mat.astype(np.float64).reshape(len(lens), V)
    known = ~pd.isna(ids)
    ent_ids, first = np.unique(ids[known], return_index=True)
    mat = mat[known][first]
    norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
    mat = mat / np.where(norms > 0, norms, 1.0)[:, None]

    at = (
        alias_df.select(
            F.lower("alias").alias("surface"),
            "entity_id",
            F.col("kind").alias("link_kind"),
            "canonical_name",
            F.col("prior").cast("double").alias("prior"),
        )
        .where(F.col("surface").isNotNull())
        .toArrow()
    )
    at = at.take(pc.sort_indices(at, sort_keys=[("surface", "ascending")]))
    at = at.cast(pa.schema([(c, pa.float64() if c == "prior" else pa.string())
                            for c in at.column_names]))
    surf = at.column("surface").to_numpy()
    # first row of each surface's run (none when there are no aliases)
    starts = np.flatnonzero(np.r_[True, surf[1:] != surf[:-1]])[: len(surf)]
    order = pc.sort_indices(
        at, sort_keys=[("entity_id", "ascending"), ("link_kind", "ascending"),
                       ("canonical_name", "ascending")],
        null_placement="at_start",
    ).to_numpy()
    rank = np.empty(len(order), np.int64)
    rank[order] = np.arange(len(order))
    col = {c: at.column(c).combine_chunks() for c in at.column_names}
    dim = _Dim(
        surfaces=pa.array(surf[starts], pa.string()),
        offsets=np.r_[starts, len(surf)].astype(np.int64),
        eidx=pc.fill_null(
            pc.index_in(col["entity_id"], value_set=pa.array(ent_ids, pa.string())), -1
        ).to_numpy().astype(np.int64),
        prior=col["prior"].to_numpy(zero_copy_only=False).astype(np.float64),
        prior_ok=col["prior"].is_valid().to_numpy(zero_copy_only=False),
        rank=rank,
        entity_id=col["entity_id"],
        link_kind=col["link_kind"],
        canonical_name=col["canonical_name"],
        emb=mat,
    )
    return entity_emb_df.sparkSession.sparkContext.broadcast(dim)


def _scatter(values: np.ndarray, where: np.ndarray) -> np.ndarray:
    """``values`` placed at the True positions of ``where``, zeros elsewhere."""
    out = np.zeros(len(where), values.dtype)
    out[where] = values
    return out


def _scorer(bc_dim, best: bool):
    """The one Arrow UDF of the stage, ``(lower(word), ctx)`` -> the
    scored candidates of each mention, null for a surface with none:
    the winner as a ``_SCORED`` struct (``best``), or every candidate as
    an array of them. Per batch: one flat gather of the candidates, one
    BoW row per distinct ctx, :func:`_cosine_rows`, ``0.7 * sim + 0.3 *
    prior``, and for ``best`` a segmented argmax in array_max's order —
    larger score, then entity_id, link_kind, canonical_name, a null
    field first. Nondeterministic in Spark's eyes only, so that the
    optimizer never pushes the caller's null filter below the
    projection, which would run the UDF twice."""
    vocab = dict(VOCAB)

    def score(surface: pa.Array, ctx: pa.Array) -> pa.Array:
        d = bc_dim.value
        g = pc.fill_null(pc.index_in(surface, value_set=d.surfaces), -1)
        g = g.to_numpy().astype(np.int64)
        has = g >= 0
        gh = g[has]
        n_c = d.offsets[gh + 1] - d.offsets[gh]
        # flat gather: the candidate rows of every mention that has any,
        # mention by mention; ``ends`` closes each mention's segment
        ends = np.cumsum(n_c)
        pos = np.arange(ends[-1] if len(ends) else 0) + np.repeat(
            d.offsets[gh] - (ends - n_c), n_c
        )
        C, norms, inv = _bow_count_matrix(
            ctx.filter(pa.array(has)).to_pylist(), vocab, d.emb.shape[1]
        )
        sims = _cosine_rows(C, norms, d.emb, np.repeat(inv, n_c), d.eidx[pos])
        link_score = 0.7 * sims + 0.3 * d.prior[pos]
        ok = d.prior_ok[pos]
        if best:
            seg = np.repeat(np.arange(len(gh)), n_c)
            win = np.lexsort((d.rank[pos], link_score, ok, seg))[ends - 1]
            pos = pa.array(_scatter(pos[win], has), mask=~has)
            link_score = _scatter(link_score[win], has)
            ok = _scatter(ok[win], has)
        fields = [pa.array(link_score, pa.float64(), mask=~ok),
                  d.entity_id.take(pos), d.link_kind.take(pos),
                  d.canonical_name.take(pos)]
        if best:
            return pa.StructArray.from_arrays(fields, names=_LINK, mask=pa.array(~has))
        return pa.ListArray.from_arrays(
            pa.array(np.r_[0, np.cumsum(_scatter(n_c, has))].astype(np.int32)),
            pa.StructArray.from_arrays(fields, names=_LINK),
            mask=pa.array(~has),
        )

    ret = _SCORED if best else f"array<{_SCORED}>"
    return arrow_udf(score, ret).asNondeterministic()


def _link(mentions: DataFrame, bc_dim) -> DataFrame:
    """:func:`link_mentions` over a prepared dimension."""
    cols = [c for c in mentions.columns if c != "ctx"]
    return (
        mentions.withColumn("_best", _scorer(bc_dim, True)(F.lower("word"), "ctx"))
        .where(F.col("_best").isNotNull())
        .select(*cols, *[f"_best.{c}" for c in _OUT])
    )


def _with_scored(mentions: DataFrame, bc_dim) -> DataFrame:
    """The mention rows that have at least one candidate, with a
    ``scored`` array column: one ``_SCORED`` struct per candidate,
    scored exactly as :func:`link_mentions` scores it. Map-only."""
    scored = _scorer(bc_dim, False)(F.lower("word"), "ctx")
    return mentions.withColumn("scored", scored).where(F.col("scored").isNotNull())


def _candidate_rows(mentions: DataFrame, bc_dim) -> DataFrame:
    """:func:`scored_candidates` over a prepared dimension."""
    return (
        _with_scored(mentions, bc_dim)
        .select("*", F.explode("scored").alias("c"))
        .drop("ctx", "scored")
        .select("*", *[f"c.{c}" for c in _OUT])
        .drop("c")
    )


def link_mentions(mentions: DataFrame, alias_df: DataFrame, entity_emb_df: DataFrame) -> DataFrame:
    """mentions + alias dict + embeddings -> linked mentions, MAP-ONLY.

    Returns the mention rows augmented with (entity_id, link_kind,
    canonical_name, link_score); mentions whose surface is
    out-of-dictionary are dropped (NIL linking — same behavior as the
    reference, which only ever emits entities its label space knows).
    The ctx column is consumed here and dropped from the output —
    downstream stages never carry it.

    Plan shape: the dimensions are prepared once per call (see
    :func:`_prepare`) and one Arrow UDF scores every candidate of a
    mention and returns the winner (:func:`_scorer`), so the plan is
    the mention scan, one ArrowEvalPython and a null filter: no join
    and ZERO exchanges. The ``(link_score, entity_id)`` tie rule is the
    one ``array_max`` gave when the candidates were struct arrays.
    """
    return _link(mentions, _prepare(alias_df, entity_emb_df))


def scored_candidates(
    mentions: DataFrame, alias_df: DataFrame, entity_emb_df: DataFrame
) -> DataFrame:
    """Per-candidate rows carrying the SAME score
    :func:`link_mentions` argmaxes over: the mention columns +
    (entity_id, link_kind, canonical_name, link_score), one row per
    (mention, candidate). Still map-only — the explode is in-row and
    the fan-out is the per-surface candidate count (a handful). The
    collective linker's candidate surface."""
    return _candidate_rows(mentions, _prepare(alias_df, entity_emb_df))


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

    e = edges.select("u", "v").where(F.col("u") != F.col("v"))
    sym = (
        e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
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
    :func:`link_mentions` (prepared dimension + ctx-BoW rerank); its
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

    bc_dim = _prepare(alias_df, entity_emb_df)
    pass1 = _link(mentions, bc_dim)
    ent_edges = cooccurrence_edges(
        pass1.select("doc_id", "entity_id"), "doc_id", "entity_id",
        max_group=max_doc_entities,
    ).select(F.col("src").alias("u"), F.col("dst").alias("v"))

    cands = _candidate_rows(mentions, bc_dim)
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
    # an alias dictionary may list one (surface, entity) pair several
    # times with different kind/name: keep the smallest (link_kind,
    # canonical_name), never whichever row a partition sees first
    cols = ["doc_id", "span_idx", "mention_id", "entity_group", "word",
            "start", "end", "score", "sentence_id", "entity_id"]
    w = (
        cands.join(win, ["doc_id", "mention_id", "entity_id"])
        .groupBy("mention_id")
        .agg(F.min(F.struct("link_kind", "canonical_name", "coh_score", *cols))
             .alias("_w"))
    )
    return w.select(
        *[F.col(f"_w.{c}").alias(c)
          for c in cols + ["link_kind", "canonical_name"]],
        F.col("_w.coh_score").alias("link_score"),
    )
