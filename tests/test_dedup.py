"""Dedup-family operator tests: exact, n-gram Jaccard, MinHash LSH,
SimHash, embedding near-dup — engine vs straightforward Python oracles."""

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from pg_iui_ner_api_spark.operators import dedup as D

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
    (2, "The  quick   Brown fox jumps over the lazy DOG"),       # ws/case dup of 0
    (3, "the quick brown fox jumps over the sleepy dog"),        # near dup
    (4, "completely different text about spark dataframes here"),
    (5, "another unrelated document mentioning query engines"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _norm(t: str) -> str:
    return re.sub(r"\s+", " ", t).strip().lower()


def _shingles(t: str, n=3) -> set:
    toks = _norm(t).split(" ")
    if len(toks) <= n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _h64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_dedup_exact_groups(docs_df):
    rows = {r["keep_id"]: r["n_dups"] for r in D.dedup_exact(docs_df).collect()}
    # docs 0,1,2 collapse to keeper 0; the rest are singletons
    assert rows[0] == 3
    assert rows[3] == rows[4] == rows[5] == 1


def test_ngram_jaccard_pairs(docs_df):
    got = {(r["da"], r["db"]): r["jaccard"] for r in
           D.ngram_jaccard_pairs(docs_df, n=3, threshold=0.3).collect()}
    # exact dups have jaccard 1.0
    assert got[(0, 1)] == 1.0 and got[(0, 2)] == 1.0 and got[(1, 2)] == 1.0
    # near-dup 0-3: oracle value
    a, b = _shingles(DOCS[0][1]), _shingles(DOCS[3][1])
    expect = round(len(a & b) / len(a | b), 6)
    assert got[(0, 3)] == pytest.approx(expect)
    # unrelated docs don't pair
    assert (4, 5) not in got and (0, 4) not in got


def test_minhash_signature_matches_oracle(docs_df):
    sigs = {r["doc_id"]: r["sig"] for r in
            D.minhash_signatures(docs_df, num_hashes=8).collect()}
    for doc_id, text in DOCS:
        shs = [_h64(s) % D.MINHASH_P for s in _shingles(text)]
        want = [
            min((a * h + b) % D.MINHASH_P for h in shs)
            for a, b in D._minhash_coeffs(8)
        ]
        assert sigs[doc_id] == want, doc_id


def test_minhash_lsh_finds_dups(docs_df):
    pairs = {(r["da"], r["db"]) for r in
             D.minhash_lsh_pairs(docs_df, num_hashes=8, bands=4).collect()}
    assert {(0, 1), (0, 2), (1, 2)} <= pairs
    assert (4, 5) not in pairs


def test_simhash_collision_on_dups(docs_df):
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash(docs_df, bits=32).collect()}
    assert sh[0] == sh[1] == sh[2]
    assert sh[0] != sh[4]
    groups = {tuple(r["docs"]) for r in D.simhash_dup_groups(docs_df, bits=32).collect()}
    assert (0, 1, 2) in groups


def test_embedding_near_dups_blocked_vs_exact(spark):
    import random

    rng = random.Random(3)
    base = [rng.gauss(0, 1) for _ in range(16)]
    vecs = [(0, base), (1, [x + rng.gauss(0, 0.01) for x in base])]  # near-dup pair
    for i in range(2, 30):
        vecs.append((i, [rng.gauss(0, 1) for _ in range(16)]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    exact = {(r["va"], r["vb"]) for r in
             D.embedding_near_dups(df, threshold=0.95, planes=0).collect()}
    blocked = {(r["va"], r["vb"]) for r in
               D.embedding_near_dups(df, threshold=0.95, planes=4, dim=16).collect()}
    assert (0, 1) in exact
    # sign-LSH recall: the true near-dup pair survives blocking
    assert (0, 1) in blocked
    assert blocked <= exact


def test_jaccard_verified_subset_with_exact_values(docs_df):
    """Every LSH-verified pair carries the exact full-shingle Jaccard and
    appears in the exhaustive ngram_jaccard output; the exact dups are
    always recalled (they collide in every band)."""
    exact = {(r["da"], r["db"]): r["jaccard"] for r in
             D.ngram_jaccard_pairs(docs_df, n=3, threshold=0.3).collect()}
    verified = {(r["da"], r["db"]): r["jaccard"] for r in
                D.jaccard_verified_pairs(docs_df, n=3, threshold=0.3,
                                         num_hashes=16, bands=4).collect()}
    assert set(verified) <= set(exact)
    for pair, j in verified.items():
        assert j == pytest.approx(exact[pair])
    # identical docs share all bands -> guaranteed recall
    assert (0, 1) in verified and (0, 2) in verified and (1, 2) in verified


def test_ngram_jaccard_reports_dropped_hub_shingles(spark):
    """No silent caps: shingles over df_cap must be listed with their df."""
    hub = "alpha beta gamma"
    docs = [(i, f"{hub} unique{i} tail{i} filler{i}") for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs, dropped = D.ngram_jaccard_pairs_report(df, n=3, threshold=0.9, df_cap=3)
    drops = {r["sh"]: r["df"] for r in dropped.collect()}
    assert drops.get("alpha beta gamma") == 6
    # with the hub dropped no pair reaches 0.9
    assert pairs.count() == 0
    # with a high cap nothing is dropped
    _, dropped_hi = D.ngram_jaccard_pairs_report(df, n=3, threshold=0.9, df_cap=1000)
    assert dropped_hi.count() == 0


def test_simhash_near_pairs_matches_brute_force(spark):
    """Banded Hamming-k pairs == brute-force pairs (recall 1.0 by
    pigeonhole), verified against a pure-Python all-pairs oracle."""
    import itertools

    docs = [(i, f"w{i % 4} common alpha beta w{i % 3} gamma delta tok{i % 5} "
                f"epsilon zeta w{i % 2}") for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sims = {r["doc_id"]: r["simhash"] for r in D.simhash(df, bits=16).collect()}
    want = {
        (a, b): bin(sims[a] ^ sims[b]).count("1")
        for a, b in itertools.combinations(sorted(sims), 2)
        if bin(sims[a] ^ sims[b]).count("1") <= 3
    }
    got = {(r["da"], r["db"]): r["hamming"]
           for r in D.simhash_near_pairs(df, bits=16, k=3).collect()}
    assert got == want
    # Hamming-0-only groups miss the near (distance 1..k) pairs
    assert any(h > 0 for h in want.values())


def test_fuzzy_dedup_transitive_clusters(spark):
    """fuzzy_dedup == union-find over the operator's own LSH pairs,
    verified with an independent pure-Python union-find; transitivity
    (A~B, B~C => one cluster even if A,C share no band) must hold."""
    # chain of near-identical docs: each differs from the next by one token
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    docs = []
    for i in range(4):
        w = list(base)
        w[0] = f"tok{i}"          # drift accumulates along the chain
        w[min(i, len(w) - 1)] = f"tok{i}"
        docs.append((i, " ".join(w)))
    docs += [(10, "entirely different content about query engines"),
             (11, "another unrelated standalone document entirely")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    pairs = {(r["da"], r["db"])
             for r in D.minhash_lsh_pairs(df, num_hashes=8, bands=4).collect()}
    parent = {i: i for i, _ in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i, _ in docs}

    got = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in D.fuzzy_dedup(df, num_hashes=8, bands=4).collect()}
    assert {k: v[0] for k, v in got.items()} == want
    assert all(keep == (cid == d) for d, (cid, keep) in got.items())
    # the chain must actually have collapsed transitively (>=3 docs in
    # cluster 0) and the unrelated docs must keep themselves
    assert sum(1 for c, _ in got.values() if c == 0) >= 3
    assert got[10] == (10, True) and got[11] == (11, True)


def test_fuzzy_dedup_verified_threshold_prunes(spark):
    """threshold= routes candidates through exact-Jaccard verify: a band
    collision below the threshold must NOT merge clusters."""
    docs = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "completely different words appear in this document here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r["cluster_id"]
           for r in D.fuzzy_dedup(df, num_hashes=8, bands=4,
                                  threshold=0.8).collect()}
    assert got == {0: 0, 1: 0, 2: 2}


def test_semantic_dedup_clusters_paraphrase_vectors(spark):
    """Exact variant vs a pure-Python cosine+union-find oracle; vectors
    3,4 are near-dups of each other but share nothing with 0-2."""
    import itertools
    import math

    vecs = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.99, 0.1, 0.0, 0.0],      # near 0
        2: [0.97, 0.2, 0.05, 0.0],     # near 0 and 1
        3: [0.0, 0.0, 1.0, 0.0],
        4: [0.0, 0.05, 0.99, 0.0],     # near 3
        5: [0.0, 1.0, 0.0, 0.3],       # isolated
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()], "vec_id long, embedding array<double>"
    )

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    parent = {k: k for k in vecs}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in itertools.combinations(sorted(vecs), 2):
        if cos(vecs[a], vecs[b]) >= 0.95:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    want = {k: find(k) for k in vecs}

    got = {r["vec_id"]: (r["cluster_id"], r["keep"]) for r in
           D.semantic_dedup(df, threshold=0.95, planes=0).collect()}
    assert {k: v[0] for k, v in got.items()} == want
    assert want[1] == 0 and want[4] == 3 and want[5] == 5  # oracle sanity
    assert all(keep == (cid == k) for k, (cid, keep) in got.items())


# ---------------------------------------------------------------------------
# decontamination + line dedup (round 3)
# ---------------------------------------------------------------------------
def _brute_shingles(text, n=3):
    toks = text.strip().lower().split()
    if len(toks) <= n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def test_decontaminate_matches_bruteforce(spark):
    from pg_iui_ner_api_spark.operators.dedup import decontaminate

    docs = [
        ("d1", "alpha beta gamma delta epsilon"),     # shares 'alpha beta gamma'
        ("d2", "zeta eta theta iota kappa"),          # clean
        ("d3", "one two three alpha beta gamma"),     # shares 1 shingle
        ("d4", "short text"),                          # <=n tokens: 1 shingle
    ]
    bench = [("secret eval prompt alpha beta gamma",), ("short text",)]
    ddf = spark.createDataFrame(docs, "doc_id string, text string")
    bdf = spark.createDataFrame(bench, "text string")
    got = {r["doc_id"]: (r["n_overlap"], r["n_shingles"], r["contamination"])
           for r in decontaminate(ddf, bdf, n=3).collect()}

    bench_sh = set().union(*(_brute_shingles(t) for (t,) in bench))
    expect = {}
    for did, text in docs:
        sh = _brute_shingles(text)
        ov = len(sh & bench_sh)
        if ov >= 1:
            expect[did] = (ov, len(sh), round(ov / len(sh), 6))
    assert got == expect
    assert "d2" not in got and "d4" in got  # whole-doc shingle hit


def test_dedup_lines_matches_bruteforce(spark):
    from pg_iui_ner_api_spark.operators.dedup import dedup_lines

    docs = [
        ("a", "keep me\ncookie banner\nunique a"),
        ("b", "cookie banner\nunique b\n\nkeep me"),   # both dup lines dropped
        ("c", "cookie banner"),                          # everything dropped
        ("d", ""),                                       # empty doc
        ("e", "\t\nkeep me\n\t"),                        # tab-only lines are
        ("f", "\t"),                                     # CONTENT (trim is
    ]                                                    # space-only), deduped
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = {r["doc_id"]: (r["text_clean"], r["n_kept"], r["n_dropped"])
           for r in dedup_lines(df).collect()}

    # brute force: first occurrence ordered by (doc_id, pos); blanks kept.
    # blank = space-only trim, mirroring Spark/DuckDB trim() semantics
    # (str.strip() would also strip tabs and diverge)
    seen, keep = set(), {}
    for did, text in sorted(docs):
        for pos, ln in enumerate(text.split("\n")):
            if ln.strip(" ") == "":
                keep.setdefault(did, []).append((pos, ln))
            elif ln not in seen:
                seen.add(ln)
                keep.setdefault(did, []).append((pos, ln))
    expect = {}
    for did, text in docs:
        rows = sorted(keep.get(did, []))
        nk = sum(1 for _, ln in rows if ln.strip(" ") != "")
        total_nb = sum(1 for ln in text.split("\n") if ln.strip(" ") != "")
        expect[did] = ("\n".join(ln for _, ln in rows), nk, total_nb - nk)
    assert got == expect
    assert got["c"] == ("", 0, 1)
    # empty text splits to one blank line, which is structural
    assert got["d"] == ("", 0, 0)
    # tab-only line: content, deduped corpus-wide — e keeps its first tab
    # line ("keep me" and the second tab are dups), f loses its only line
    assert got["e"] == ("\t", 1, 2)
    assert got["f"] == ("", 0, 1)


def test_decontaminate_ignores_blank_texts(spark):
    from pg_iui_ner_api_spark.operators.dedup import decontaminate

    docs = [("d1", ""), ("d2", "   "), ("d3", "real words here now")]
    bench = [("",), ("\t ",), ("unrelated benchmark prompt text",)]
    ddf = spark.createDataFrame(docs, "doc_id string, text string")
    bdf = spark.createDataFrame(bench, "text string")
    # blank benchmark rows must not flag blank corpus docs via the ""
    # whole-doc fallback shingle
    assert decontaminate(ddf, bdf, n=3).count() == 0


def test_dedup_lines_and_decontaminate_null_text(spark):
    from pg_iui_ner_api_spark.operators.dedup import decontaminate, dedup_lines

    df = spark.createDataFrame([("a", "x\ny"), ("b", None)],
                               "doc_id string, text string")
    got = {r["doc_id"]: (r["text_clean"], r["n_kept"], r["n_dropped"])
           for r in dedup_lines(df).collect()}
    assert got == {"a": ("x\ny", 2, 0), "b": ("", 0, 0)}
    bench = spark.createDataFrame([("x q r s t",), (None,)], "text string")
    assert decontaminate(df, bench, n=3).count() == 0


# ---------------------------------------------------------------------------
# repeated_spans (ExactSubstr-style)
# ---------------------------------------------------------------------------
def test_repeated_spans_basic_and_merge(spark):
    """Two docs sharing a 7-token run: with k=3 the five duplicated gram
    starts (0..4 in doc B's run) merge into ONE maximal span covering
    the whole run in each doc."""
    from pg_iui_ner_api_spark.operators.dedup import repeated_spans
    from pg_iui_ner_api_spark.synth import local_dim_df

    shared = "w1 w2 w3 w4 w5 w6 w7"
    df = local_dim_df(
        spark,
        [
            (1, f"{shared} uniqA uniqB uniqC"),
            (2, f"pre1 pre2 {shared}"),
            (3, "всё unique here nothing repeats at all"),
        ],
        "doc_id int, text string",
    )
    got = {
        (r["doc_id"], r["tok_start"], r["tok_end"], r["n_grams"])
        for r in repeated_spans(df, k=3).collect()
    }
    assert got == {(1, 0, 6, 5), (2, 2, 8, 5)}


def test_repeated_spans_self_repetition_counts(spark):
    """A gram occurring twice INSIDE one doc is duplicated (paper
    semantics); both occurrences are reported, adjacency-merged when
    they touch."""
    from pg_iui_ner_api_spark.operators.dedup import repeated_spans
    from pg_iui_ner_api_spark.synth import local_dim_df

    df = local_dim_df(
        spark,
        [(1, "a b c xx yy zz a b c")],
        "doc_id int, text string",
    )
    got = sorted(
        (r["tok_start"], r["tok_end"]) for r in repeated_spans(df, k=3).collect()
    )
    assert got == [(0, 2), (6, 8)]


def test_repeated_spans_short_and_null_docs_silent(spark):
    from pg_iui_ner_api_spark.operators.dedup import repeated_spans

    df = spark.sql(
        "SELECT * FROM VALUES (1, 'one two'), (2, CAST(NULL AS STRING)), "
        "(3, '') AS t(doc_id, text)"
    )
    assert repeated_spans(df, k=3).count() == 0


def test_repeated_spans_gap_splits_islands(spark):
    """Duplicated grams separated by MORE than k unique tokens stay two
    spans (no false merge across the gap)."""
    from pg_iui_ner_api_spark.operators.dedup import repeated_spans
    from pg_iui_ner_api_spark.synth import local_dim_df

    df = local_dim_df(
        spark,
        [
            (1, "p q r u1 u2 u3 u4 u5 s t v"),
            (2, "p q r x1 x2 x3 x4 x5 s t v"),
        ],
        "doc_id int, text string",
    )
    got = sorted(
        (r["doc_id"], r["tok_start"], r["tok_end"])
        for r in repeated_spans(df, k=3).collect()
    )
    assert got == [(1, 0, 2), (1, 8, 10), (2, 0, 2), (2, 8, 10)]


def test_dedup_against_incremental_batch(spark):
    existing = spark.createDataFrame(
        [("e1", "alpha beta"), ("e2", "gamma delta")],
        "doc_id string, text string",
    )
    new = spark.createDataFrame(
        [
            ("n1", "ALPHA   beta"),   # dup of existing e1 (normalized)
            ("n2", "fresh content"),  # genuinely new
            ("n3", "fresh  CONTENT"), # in-batch dup of n2, higher id
            ("n4", "gamma delta"),    # dup of existing e2
            ("n5", "another one"),
        ],
        "doc_id string, text string",
    )
    got = {r["keep_id"]: r["n_batch_dups"]
           for r in D.dedup_against(new, existing).collect()}
    assert got == {"n2": 2, "n5": 1}


def test_dedup_against_empty_existing_reduces_to_exact(spark, docs_df):
    empty = docs_df.limit(0)
    via_against = {(r["keep_id"], r["n_batch_dups"])
                   for r in D.dedup_against(docs_df, empty).collect()}
    via_exact = {(r["keep_id"], r["n_dups"])
                 for r in D.dedup_exact(docs_df).collect()}
    assert via_against == via_exact


# ---------------------------------------------------------------------------
# boilerplate_strip
# ---------------------------------------------------------------------------
def test_boilerplate_strip_removes_high_df_lines_everywhere(spark):
    from pg_iui_ner_api_spark.operators.dedup import boilerplate_strip

    hdr = "COOKIE BANNER"
    docs = spark.createDataFrame(
        [
            (1, f"{hdr}\nunique one\n\nFOOT"),
            (2, f"{hdr}\nunique two\nFOOT"),
            (3, f"{hdr}\nunique three\nFOOT"),
            (4, "no template here\nFOOT"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in boilerplate_strip(docs, min_docs=3).collect()}
    # hdr (df=3) and FOOT (df=4) stripped from EVERY doc, uniques kept,
    # blank line preserved as structure
    assert out[1].text_clean == "unique one\n"
    assert out[1].n_kept == 1 and out[1].n_dropped == 2
    assert out[2].text_clean == "unique two"
    assert out[4].text_clean == "no template here"
    assert out[4].n_dropped == 1


def test_boilerplate_strip_df2_survives_and_group_scoping(spark):
    from pg_iui_ner_api_spark.operators.dedup import boilerplate_strip

    docs = spark.createDataFrame(
        [
            (1, "a", "twice\nx"),
            (2, "a", "twice\ny"),
            (3, "a", "site a nav\nz"),
            (4, "a", "site a nav\nw"),
            (5, "b", "site a nav\nv"),
        ],
        "doc_id long, source string, text string",
    )
    # corpus-wide: 'site a nav' has df=3 -> stripped; 'twice' df=2 kept
    glob = {r.doc_id: r for r in boilerplate_strip(docs, min_docs=3).collect()}
    assert glob[1].text_clean == "twice\nx"
    assert glob[3].text_clean == "z" and glob[5].text_clean == "v"
    # per-source scoping: within source a df=2, within b df=1 -> all kept
    scoped = {
        r.doc_id: r
        for r in boilerplate_strip(docs, min_docs=3, group_col="source").collect()
    }
    assert scoped[3].text_clean == "site a nav\nz"
    assert scoped[5].text_clean == "site a nav\nv"
    # repeated occurrences INSIDE one doc count that doc once
    one = spark.createDataFrame(
        [(1, "r\nr\nr"), (2, "q")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in
           boilerplate_strip(one, min_docs=3).collect()}
    assert got[1].text_clean == "r\nr\nr"  # df=1, not 3


def test_boilerplate_strip_all_lines_dropped_doc_survives_empty(spark):
    from pg_iui_ner_api_spark.operators.dedup import boilerplate_strip

    docs = spark.createDataFrame(
        [(i, "tpl") for i in range(5)], "doc_id long, text string"
    )
    rows = boilerplate_strip(docs, min_docs=3).collect()
    assert len(rows) == 5
    assert all(r.text_clean == "" and r.n_dropped == 1 for r in rows)


# ---------------------------------------------------------------------------
# leakage_safe_split
# ---------------------------------------------------------------------------
def test_leakage_safe_split_cluster_members_share_split(spark):
    from pg_iui_ner_api_spark.operators.dedup import (
        fuzzy_dedup,
        leakage_safe_split,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (10, base),
            (11, base + " tail"),           # near-dup of 10
            (12, base.replace("dog", "cat")),  # near-dup of 10
            (99, "completely different words about spark shuffles"),
        ]
        + [(100 + i, f"filler doc number {i} with its own words {i*7}")
           for i in range(30)],
        "doc_id long, text string",
    )
    out = leakage_safe_split(docs, num_hashes=8, bands=4).collect()
    by_doc = {r.doc_id: r for r in out}
    assert len(out) == 34
    # the near-dup trio shares one cluster_id, hence one split
    trio = {by_doc[i].cluster_id for i in (10, 11, 12)}
    assert trio == {10}
    assert len({by_doc[i].split for i in (10, 11, 12)}) == 1
    # cluster ids match fuzzy_dedup's (same params), split names valid
    fd = {r.doc_id: r.cluster_id
          for r in fuzzy_dedup(docs, num_hashes=8, bands=4).collect()}
    assert {r.doc_id: r.cluster_id for r in out} == fd
    assert {r.split for r in out} <= {"train", "dev", "test"}


def test_leakage_safe_split_stable_under_append(spark):
    from pg_iui_ner_api_spark.operators.dedup import leakage_safe_split

    rows = [(i, f"doc {i} words {i * 3} more {i * 11}") for i in range(40)]
    small = spark.createDataFrame(rows[:20], "doc_id long, text string")
    big = spark.createDataFrame(rows, "doc_id long, text string")
    s1 = {r.doc_id: r.split
          for r in leakage_safe_split(small, num_hashes=8, bands=4).collect()}
    s2 = {r.doc_id: r.split
          for r in leakage_safe_split(big, num_hashes=8, bands=4).collect()}
    # unclustered docs keep their split when the corpus grows
    assert all(s2[d] == s for d, s in s1.items())


# ---------------------------------------------------------------------------
# content-defined chunking
# ---------------------------------------------------------------------------
def _chunks(spark, rows, **kw):
    from pg_iui_ner_api_spark.operators.dedup import cdc_chunks

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    return sorted(
        (r.doc_id, r.chunk_idx, r.n_tokens, r.chunk_hash)
        for r in cdc_chunks(df, **kw).collect()
    )


WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon").split()


def test_cdc_chunks_tile_the_document(spark):
    text = " ".join(WORDS * 3)
    got = _chunks(spark, [("d", text)], window=3, modulus=4)
    assert sum(c[2] for c in got) == len(WORDS) * 3
    assert [c[1] for c in got] == list(range(len(got)))
    assert all(c[2] >= 1 for c in got)


def test_cdc_shift_robust(spark):
    """Prepending tokens must leave the tail chunks hash-identical —
    the property fixed-size chunking lacks."""
    base = " ".join(WORDS * 4)
    shifted = "inserted junk tokens " + base
    a = _chunks(spark, [("a", base)], window=3, modulus=4)
    b = _chunks(spark, [("b", shifted)], window=3, modulus=4)
    tail_a = {c[3] for c in a}
    tail_b = {c[3] for c in b}
    shared = tail_a & tail_b
    # all but the first boundary-disturbed chunk(s) re-align
    assert len(shared) >= len(tail_a) - 2
    assert shared  # non-vacuous


def test_cdc_short_and_empty_docs(spark):
    got = _chunks(spark, [("s", "one two"), ("e", ""), ("w", "   ")],
                  window=4, modulus=4)
    # short doc -> one whole-doc chunk; empty/whitespace -> nothing
    assert [c[0] for c in got] == ["s"]
    assert got[0][1:3] == (0, 2)


def test_cdc_dup_report(spark):
    from pg_iui_ner_api_spark.operators.dedup import cdc_dup_chunks

    text = " ".join(WORDS * 3)
    df = spark.createDataFrame(
        [("a", text), ("b", text), ("c", "totally different words here")],
        ["doc_id", "text"],
    )
    rep = {r.chunk_hash: (r.n_docs, r.n_occurrences)
           for r in cdc_dup_chunks(df, window=3, modulus=4).collect()}
    a_hashes = {c[3] for c in _chunks(spark, [("a", text)],
                                      window=3, modulus=4)}
    # every chunk of the duplicated doc pair is reported with n_docs=2
    assert set(rep) >= a_hashes
    assert all(rep[h][0] == 2 for h in a_hashes)


def test_cdc_validation(spark):
    from pg_iui_ner_api_spark.operators.dedup import cdc_chunks

    df = spark.createDataFrame([("a", "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        cdc_chunks(df, window=0)
    with pytest.raises(ValueError):
        cdc_chunks(df, modulus=0)
