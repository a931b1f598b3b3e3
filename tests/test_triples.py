"""Triple-parity gate: P/R >= 0.95 vs reference-semantics oracle
(BASELINE.json north_rule). Two checks: against the generator's
ground-truth triples, and against the independent row-at-a-time oracle.
"""

import pytest

from pg_iui_ner_api_spark import synth
from pg_iui_ner_api_spark.plans.pipeline import run_kg_pipeline

from .oracle import oracle_triples

N_DOCS = 250


@pytest.fixture(scope="module")
def result(spark):
    docs = synth.synth_documents(spark, N_DOCS, partitions=4).cache()
    res = run_kg_pipeline(spark, docs)
    got = {
        (r["doc_id"], r["subj"], r["pred"], r["obj"])
        for r in res["edges"].select("doc_id", "subj", "pred", "obj").collect()
    }
    return res, got


def test_pr_vs_ground_truth(spark, result):
    _, got = result
    truth = synth.synth_truth_triples(spark, N_DOCS)
    want = {tuple(r) for r in truth.select("doc_id", "subj", "pred", "obj").collect()}
    tp = len(got & want)
    p = tp / max(len(got), 1)
    r = tp / max(len(want), 1)
    assert p >= 0.95, f"precision {p:.4f} < 0.95"
    assert r >= 0.95, f"recall {r:.4f} < 0.95"


def test_pr_vs_independent_oracle(result):
    _, got = result
    want = set()
    for i in range(N_DOCS):
        doc, _ = synth.gen_doc(i)
        want |= oracle_triples(doc)
    tp = len(got & want)
    p = tp / max(len(got), 1)
    r = tp / max(len(want), 1)
    assert p >= 0.95 and r >= 0.95, f"P={p:.4f} R={r:.4f}"


def test_nodes_cover_all_linked_kinds(result):
    res, _ = result
    nodes = {r["entity_id"]: r for r in res["nodes"].collect()}
    assert len(nodes) >= 10
    kinds = {r["kind"] for r in nodes.values()}
    assert kinds == {"PER", "ORG", "LOC", "MISC"}
    # hub entity exists and dominates
    assert "ORG:acme" in nodes


def test_canonical_edges_referentially_closed(spark, result):
    """canonical_edges rewrites every endpoint to a component
    representative, so the edge table becomes referentially closed
    against canonical_nodes (the dq_audit ref-rule property raw edges
    legitimately lack for ambiguous minority senses)."""
    from pg_iui_ner_api_spark.operators.components import canonical_edges

    res, _ = result
    ce = canonical_edges(res["edges"], res["components"], res["nodes"])
    rows = ce.collect()
    raw = res["edges"].collect()
    assert len(rows) == len(raw)  # row-preserving rewrite
    assert {r.evidence for r in rows} == {r.evidence for r in raw}
    node_ids = {r.entity_id for r in res["nodes"].collect()}
    endpoints = {r.subj for r in rows} | {r.obj for r in rows}
    assert endpoints <= node_ids
