"""Entity-linking tests: candidate gen + embedding rerank,
including the ambiguous-alias case the rerank exists for."""

import pyspark.sql.functions as F

from pg_iui_ner_api_spark import synth
from pg_iui_ner_api_spark.operators import linking, ner


def _linked_for_texts(spark, texts):
    docs = spark.createDataFrame(
        [
            {
                "doc_id": f"t{i}",
                "spans": [{"kind": "text", "text": t, "media_ref": None, "offset": 0}],
            }
            for i, t in enumerate(texts)
        ],
        schema=__import__("pg_iui_ner_api_spark.schema", fromlist=["DOCUMENTS"]).DOCUMENTS,
    )
    mentions = ner.mentions_of(ner.extract(docs))
    return linking.link_mentions(mentions, synth.alias_df(spark), synth.entity_emb_df(spark))


def test_ambiguous_alias_resolved_by_context(spark):
    linked = _linked_for_texts(
        spark,
        [
            "Hopper works for Phoenix, the company.",       # -> ORG
            "Acme Corp, the company, is located in Phoenix.",  # -> LOC
        ],
    ).collect()
    by_doc = {}
    for r in linked:
        by_doc.setdefault(r["doc_id"], {})[r["word"]] = r["entity_id"]
    assert by_doc["t0"]["Phoenix"] == "ORG:phoenix_sys"
    assert by_doc["t1"]["Phoenix"] == "LOC:phoenix_az"


def test_every_gazetteer_alias_links_to_itself(spark):
    rows = synth.alias_table()
    texts = [f"{alias} works for Initech, the company." for alias, *_ in rows]
    linked = _linked_for_texts(spark, texts).collect()
    # every doc has >= 1 linked mention; surfaces link to a holder of
    # that alias
    holders = {}
    for alias, eid, *_ in rows:
        holders.setdefault(alias.lower(), set()).add(eid)
    assert len({r["doc_id"] for r in linked}) == len(texts)
    for r in linked:
        assert r["entity_id"] in holders[r["word"].lower()], r


def test_unknown_surface_is_dropped(spark):
    linked = _linked_for_texts(spark, ["Bob works for Nobody Inc."])
    assert linked.where(F.col("word").isin("Bob", "Nobody Inc.")).count() == 0


def test_rerank_is_arrow_vectorized(spark):
    # guard: the rerank must be Arrow-batched (ArrowEvalPython), never a
    # row-at-a-time Python UDF (BatchEvalPython) — the north_star's
    # "dense-embedding rerank in Arrow batches, no per-row Python"
    linked = _linked_for_texts(spark, ["Hopper works for Phoenix, the company."])
    plan = linked._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BatchEvalPython") == 0
    assert plan.count("ArrowEvalPython") == 1


def test_link_mentions_matches_independent_score(spark):
    """Every linked mention's (entity_id, link_score) equals the score
    computed here straight from the synth dimensions: 0.7 * cosine(BoW of
    the mention's context, entity embedding) + 0.3 * alias prior, argmax
    over the surface's holders with the larger entity_id winning ties."""
    import numpy as np

    texts = [
        "Hopper works for Phoenix, the company.",
        "Acme Corp, the company, is located in Phoenix.",
        "Globex hired Turing in Paris.",
    ]
    docs = spark.createDataFrame(
        [
            {
                "doc_id": f"t{i}",
                "spans": [{"kind": "text", "text": t, "media_ref": None, "offset": 0}],
            }
            for i, t in enumerate(texts)
        ],
        schema=__import__("pg_iui_ner_api_spark.schema", fromlist=["DOCUMENTS"]).DOCUMENTS,
    )
    mentions = ner.mentions_of(ner.extract(docs))
    linked = {
        r["mention_id"]: r
        for r in linking.link_mentions(
            mentions, synth.alias_df(spark), synth.entity_emb_df(spark)
        ).collect()
    }
    embs = {e: np.asarray(v, np.float64) for e, v in synth.entity_embeddings()}
    holders = {}
    for alias, eid, _kind, _name, prior in synth.alias_table():
        holders.setdefault(alias.lower(), []).append((eid, prior))

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return float(a @ b / (na * nb)) if na and nb else 0.0

    n_checked = 0
    for m in mentions.select("mention_id", "word", "ctx").collect():
        cands = holders.get(m["word"].lower())
        if not cands:
            assert m["mention_id"] not in linked
            continue
        ctx = synth.embed_text(m["ctx"]).astype(np.float64)
        score, eid = max(
            (0.7 * cos(ctx, embs[e]) + 0.3 * prior, e) for e, prior in cands
        )
        got = linked[m["mention_id"]]
        assert got["entity_id"] == eid, (m["word"], m["ctx"])
        assert abs(got["link_score"] - score) <= 1e-6, (m["word"], got["link_score"], score)
        n_checked += 1
    assert n_checked == len(linked) >= 6


def test_fuzzy_candidates_recover_typo_surfaces(spark):
    """'Acm' (typo) must reach the Acme entity through the fuzzy path
    with match_dist=1 and a discounted prior; exact surfaces must be
    untouched (match_dist=0, full prior); unrelated words still miss."""
    from pg_iui_ner_api_spark import synth as S

    aliases = S.alias_df(spark)
    some_alias = S.alias_table()[0][0]           # a real gazetteer surface
    typo = some_alias[:-1] if len(some_alias) > 2 else some_alias + "x"
    mentions = spark.createDataFrame(
        [
            (0, some_alias, "ctx a"),
            (1, typo, "ctx b"),
            (2, "zzzzqqqq", "ctx c"),
        ],
        "mention_id long, word string, ctx string",
    )
    got = linking.fuzzy_candidates(mentions, aliases).collect()
    by_m = {}
    for r in got:
        by_m.setdefault(r["mention_id"], []).append(r)
    assert all(r["match_dist"] == 0 for r in by_m[0])
    assert 1 in by_m and all(r["match_dist"] == 1 for r in by_m[1])
    # the typo reaches at least one holder of the original alias
    holders = {eid for a, eid, *_ in S.alias_table() if a == some_alias}
    assert holders & {r["entity_id"] for r in by_m[1]}
    # fuzzy priors are discounted relative to the exact row's prior
    exact_prior = {r["entity_id"]: r["prior"] for r in by_m[0]}
    for r in by_m[1]:
        if r["entity_id"] in exact_prior:
            assert r["prior"] == exact_prior[r["entity_id"]] * 0.5
    assert 2 not in by_m
    # no duplicate (mention, entity) pairs from shared deletion variants
    for rs in by_m.values():
        eids = [r["entity_id"] for r in rs]
        assert len(eids) == len(set(eids))


def test_coherence_rerank_flips_wrong_prior(spark):
    """m1's prior favors the wrong sense; the KG edge between the right
    sense and m2's entity flips the decision (collective linking)."""
    from pg_iui_ner_api_spark.operators.linking import coherence_rerank

    cands = spark.createDataFrame(
        [("d1", 1, 100, 0.9),   # wrong sense, high prior
         ("d1", 1, 200, 0.5),   # right sense, related to m2's entity
         ("d1", 2, 300, 1.0)],
        ["doc_id", "mention_id", "entity_id", "prior"],
    )
    edges = spark.createDataFrame([(200, 300)], ["u", "v"])
    got = {r.mention_id: (r.entity_id, r.coherence, r.score)
           for r in coherence_rerank(cands, edges).collect()}
    assert got[1] == (200, 1, 1.5)       # 0.5 + 1*1 beats 0.9 + 0
    assert got[2] == (300, 1, 2.0)       # symmetric edge counts both ways


def test_coherence_rerank_tie_breaks_to_smaller_entity(spark):
    from pg_iui_ner_api_spark.operators.linking import coherence_rerank

    cands = spark.createDataFrame(
        [("d1", 1, 7, 0.5), ("d1", 1, 3, 0.5)],
        ["doc_id", "mention_id", "entity_id", "prior"],
    )
    edges = spark.createDataFrame([], "u long, v long")
    [r] = coherence_rerank(cands, edges).collect()
    assert (r.entity_id, r.coherence, r.score) == (3, 0, 0.5)


def test_coherence_rerank_distinct_mention_votes(spark):
    """A neighbor mention with MANY related candidates still votes once
    (distinct-mention counting)."""
    from pg_iui_ner_api_spark.operators.linking import coherence_rerank

    cands = spark.createDataFrame(
        [("d1", 1, 10, 0.0),
         ("d1", 2, 20, 0.9), ("d1", 2, 21, 0.8), ("d1", 2, 22, 0.7)],
        ["doc_id", "mention_id", "entity_id", "prior"],
    )
    edges = spark.createDataFrame(
        [(10, 20), (10, 21), (10, 22)], ["u", "v"]
    )
    got = {r.mention_id: r.coherence
           for r in coherence_rerank(cands, edges).collect()}
    assert got[1] == 1


def test_coherence_rerank_ignores_self_loops(spark):
    """A self-loop edge relates no two distinct entities, so it must
    not change any score (through either orientation)."""
    from pg_iui_ner_api_spark.operators.linking import coherence_rerank

    cands = spark.createDataFrame(
        [("d1", 1, 10, 0.5), ("d1", 1, 20, 0.6), ("d1", 2, 10, 0.4)],
        ["doc_id", "mention_id", "entity_id", "prior"],
    )

    def run(edges):
        e = spark.createDataFrame(edges, "u long, v long")
        return sorted(tuple(r) for r in coherence_rerank(cands, e).collect())

    assert run([(10, 10)]) == run([]) == [
        ("d1", 1, 20, 0.6, 0, 0.6), ("d1", 2, 10, 0.4, 0, 0.4),
    ]


def test_coherence_rerank_caps_and_dropped_report(spark):
    """The candidate cap keeps the top-prior candidates (deterministic
    order) and the companion report counts exactly what fell."""
    from pg_iui_ner_api_spark.operators.linking import (
        coherence_dropped,
        coherence_rerank,
    )

    rows = [("d1", 1, e, e / 10.0) for e in range(1, 6)]  # 5 cands
    rows += [("d1", m, 100 + m, 0.5) for m in range(2, 6)]  # 4 more mentions
    cands = spark.createDataFrame(
        rows, ["doc_id", "mention_id", "entity_id", "prior"]
    )
    edges = spark.createDataFrame([], "u long, v long")
    out = coherence_rerank(
        cands, edges, max_cands_per_mention=2, max_mentions_per_doc=3
    ).collect()
    # mentions 4, 5 dropped by the doc cap; m1 keeps top-2 priors (5, 4)
    assert {r.mention_id for r in out} == {1, 2, 3}
    m1 = next(r for r in out if r.mention_id == 1)
    assert m1.entity_id == 5  # highest prior among kept
    rep = {r.doc_id: (r.n_mentions_dropped, r.n_cand_rows_dropped)
           for r in coherence_dropped(
               cands, max_cands_per_mention=2, max_mentions_per_doc=3
           ).collect()}
    assert rep == {"d1": (2, 3)}  # 2 mentions; m1 lost 3 of 5 cand rows


def test_coherence_rerank_validation(spark):
    from pg_iui_ner_api_spark.operators.linking import coherence_rerank

    cands = spark.createDataFrame(
        [("d1", 1, 1, 0.5)], ["doc_id", "mention_id", "entity_id", "prior"]
    )
    edges = spark.createDataFrame([], "u long, v long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        coherence_rerank(cands, edges, max_cands_per_mention=0)


def test_coherent_linking_drop_in_parity(spark):
    """link_mentions_coherent is a drop-in stage swap: same schema and
    mention coverage as the independent linker, and the triple-parity
    gate still holds >= 0.95 through it (incl. the deliberately
    ambiguous 'phoenix' alias, now resolved by document coherence)."""
    from pg_iui_ner_api_spark import synth
    from pg_iui_ner_api_spark.operators import ner as N, triples as T
    from pg_iui_ner_api_spark.operators.linking import (
        link_mentions,
        link_mentions_coherent,
    )

    n_docs = 200
    docs = synth.synth_documents(spark, n_docs, partitions=4).cache()
    ext = N.extract(docs).cache()
    m = N.mentions_of(ext)
    alias, embs = synth.alias_df(spark), synth.entity_emb_df(spark)
    base = link_mentions(m, alias, embs)
    coh = link_mentions_coherent(m, alias, embs).cache()
    assert coh.columns == base.columns
    assert coh.count() == base.count()
    assert coh.select("mention_id").distinct().count() == coh.count()

    edges = T.assemble_triples(coh, N.predicates_of(ext))
    got = {tuple(r) for r in
           edges.select("doc_id", "subj", "pred", "obj").collect()}
    truth = synth.synth_truth_triples(spark, n_docs)
    want = {tuple(r) for r in
            truth.select("doc_id", "subj", "pred", "obj").collect()}
    tp = len(got & want)
    p = tp / max(len(got), 1)
    r = tp / max(len(want), 1)
    assert p >= 0.95, f"coherent precision {p:.4f} < 0.95"
    assert r >= 0.95, f"coherent recall {r:.4f} < 0.95"


def test_coherent_linking_duplicate_alias_is_deterministic(spark):
    """An alias dictionary listing one (surface, entity) pair twice with
    different canonical names gives every mention the row with the
    smaller (link_kind, canonical_name), under 1 and 4 input
    partitions alike."""
    from pg_iui_ner_api_spark.operators.linking import link_mentions_coherent

    docs = synth.synth_documents(spark, 60, partitions=2)
    m = ner.mentions_of(ner.extract(docs)).cache()
    alias = synth.alias_df(spark)
    dup = alias.where(F.col("alias") == "Paris").withColumn(
        "canonical_name", F.lit("City of Paris")
    )
    alias = alias.unionByName(dup)
    embs = synth.entity_emb_df(spark)

    def run(n):
        out = link_mentions_coherent(m.repartition(n), alias, embs)
        return sorted(tuple(r) for r in out.collect())

    one, four = run(1), run(4)
    assert one == four
    paris = [r for r in one if r[9] == "LOC:paris"]
    assert paris and all(r[11] == "City of Paris" for r in paris)
    m.unpersist()


_ALIAS_DDL = ("alias string, entity_id string, kind string, "
              "canonical_name string, prior double")
_HAND_ALIASES = [
    ("Twin", "E:a", "ORG", "A", 0.5),
    ("Twin", "E:b", "ORG", "B", 0.5),
    ("Dup", "E:d", None, "Dup Co", 0.5),
    ("Dup", "E:d", "ORG", None, 0.5),
    ("Nul", "E:z", "ORG", "Z", None),
    ("Nul", "E:n", "ORG", "N", 0.1),
    ("Only", "E:o", "LOC", "O", None),
    ("Lodz", "LOC:Lodz", "LOC", "Lodz", 0.5),
    ("Lodz", "LOC:Łódź", "LOC", "Łódź", 0.5),
]


def _hand_dims(spark):
    """Hand-built dimensions whose contexts share no vocabulary token with
    any embedding, so every cosine is 0 and link_score = 0.3 * prior:
    the argmax is decided by the priors and the tie rule alone. Losers
    are listed before winners, so a first-max argmax picks them."""
    embs = [(e, [1.0, 0.5, 0.0, 0.25])
            for e in sorted({a[1] for a in _HAND_ALIASES})]
    return (
        synth.local_dim_df(spark, _HAND_ALIASES, _ALIAS_DDL),
        synth.local_dim_df(spark, embs, "entity_id string, emb array<float>"),
    )


def test_link_mentions_tie_rule_on_hand_built_dims(spark):
    """The argmax keeps array_max's order over (link_score, entity_id,
    link_kind, canonical_name): a larger score wins, a tie goes to the
    larger entity_id, then link_kind, then canonical_name in UTF-8 byte
    order, and a null field sorts first (a null prior gives a null score,
    which loses to every non-null one). A surface with no candidate is
    dropped; a lower-cased surface still matches."""
    alias, embs = _hand_dims(spark)
    words = ["TWIN", "Dup", "Nul", "Only", "Lodz", "Ghost"]
    mentions = spark.createDataFrame(
        [(f"m{i}", w, "zzz qqq") for i, w in enumerate(words)],
        "mention_id string, word string, ctx string",
    )
    linked = linking.link_mentions(mentions, alias, embs)
    assert linked.columns == ["mention_id", "word", "entity_id", "link_kind",
                              "canonical_name", "link_score"]
    got = {r["word"]: tuple(r)[2:] for r in linked.collect()}
    assert got == {
        "TWIN": ("E:b", "ORG", "B", 0.7 * 0.0 + 0.3 * 0.5),
        "Dup": ("E:d", "ORG", None, 0.7 * 0.0 + 0.3 * 0.5),
        "Nul": ("E:n", "ORG", "N", 0.7 * 0.0 + 0.3 * 0.1),
        "Only": ("E:o", "LOC", "O", None),
        "Lodz": ("LOC:Łódź", "LOC", "Łódź", 0.7 * 0.0 + 0.3 * 0.5),
    }

    # the per-candidate surface scores every candidate with the same score
    from collections import Counter

    cands = linking.scored_candidates(mentions, alias, embs).collect()
    assert Counter(
        (r["word"].lower(), r["entity_id"], r["link_kind"], r["canonical_name"],
         r["link_score"]) for r in cands
    ) == Counter(
        (a.lower(), e, k, n, None if p is None else 0.7 * 0.0 + 0.3 * p)
        for a, e, k, n, p in _HAND_ALIASES
    )


def test_fuzzy_candidates_pick_is_order_independent(spark):
    """One entity with two aliases within edit distance 1 of an OOV
    surface gives one fuzzy row, the one with the smallest (alias, kind,
    canonical_name, prior), at 1 and at 5 partitions with the inputs in
    reverse order."""
    aliases = [
        ("Acme", "E:x", "ORG", "Acme Corp", 0.9),
        ("Acmi", "E:x", "ORG", "Acmi Ltd", 0.4),
        ("Globex", "E:g", "ORG", "Globex", 0.8),
    ]
    words = [(f"m{i}", w, f"ctx {i}")
             for i, w in enumerate(["Acm", "Acme", "Globe", "Acmi", "Acm"] * 4)]

    def run(alias_rows, word_rows, n):
        m = spark.createDataFrame(
            word_rows, "mention_id string, word string, ctx string"
        ).repartition(n)
        out = linking.fuzzy_candidates(m, synth.local_dim_df(spark, alias_rows, _ALIAS_DDL))
        return sorted(out.where(F.col("match_dist") == 1).collect())

    one = run(aliases, words, 1)
    assert one == run(aliases[::-1], words[::-1], 5)
    acm = [r for r in one if r["word"] == "Acm"]
    assert len(acm) == 8
    assert {(r["alias"], r["entity_id"], r["canonical_name"], r["prior"])
            for r in acm} == {("Acme", "E:x", "Acme Corp", 0.45)}


def test_gather_path_links_like_builtin_dims(spark, tmp_path):
    """An entity dimension padded past ``MATMUL_MAX_ENTITIES`` (so
    ``_cosine_rows`` gathers pairs instead of one matmul) links exactly
    like the built-in one. The padding is low-prior distractor holders
    of every real surface plus unmatched fillers, all with embeddings
    only in the padding dimensions ``[len(VOCAB), EMB_DIM)``, where every
    context vector is zero: a distractor scores at most 0.3 * 0.3, below
    every real holder."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(5)
    lo = len(synth.VOCAB)

    def pad_vector():
        v = np.zeros(synth.EMB_DIM, np.float32)
        v[lo:] = rng.random(synth.EMB_DIM - lo) + 0.05
        return (v / np.linalg.norm(v)).tolist()

    aliases = [tuple(r) for r in synth.alias_table()]
    embs = list(synth.entity_embeddings())
    for s in sorted({a for a, *_ in aliases}):
        for j in range(4):
            eid = f"DST:{s.lower()}:{j}"
            aliases.append((s, eid, "MISC", f"{s} ({j})", 0.01 + 0.07 * j))
            embs.append((eid, pad_vector()))
    for i in range(linking.MATMUL_MAX_ENTITIES + 100 - len(embs)):
        aliases.append((f"filler entity {i}", f"FILL:{i}", "ORG", f"Filler {i}", 0.5))
        embs.append((f"FILL:{i}", pad_vector()))
    assert len(embs) > linking.MATMUL_MAX_ENTITIES
    cols = ["alias", "entity_id", "kind", "canonical_name", "prior"]
    pq.write_table(pa.table(dict(zip(cols, zip(*aliases)))), str(tmp_path / "a.parquet"))
    pq.write_table(
        pa.table({"entity_id": [e for e, _ in embs],
                  "emb": pa.array([v for _, v in embs], pa.list_(pa.float32()))}),
        str(tmp_path / "e.parquet"),
    )

    docs = synth.synth_documents(spark, 120, partitions=2)
    m = ner.mentions_of(ner.extract(docs)).cache()

    def linked(alias, embs_df):
        rows = linking.link_mentions(m, alias, embs_df).collect()
        return {r["mention_id"]: r for r in rows}

    want = linked(synth.alias_df(spark), synth.entity_emb_df(spark))
    got = linked(spark.read.parquet(str(tmp_path / "a.parquet")),
                 spark.read.parquet(str(tmp_path / "e.parquet")))
    m.unpersist()
    assert want and got.keys() == want.keys()
    for k, w in want.items():
        g = got[k]
        assert g[:-1] == w[:-1]
        assert abs(g["link_score"] - w["link_score"]) <= 1e-12
