"""Connected-components unit tests — both physical strategies:
the driver union-find (small graphs) and the distributed alternating
large-star/small-star loop (forced via small_graph_edges=0)."""

import pytest

from pg_iui_ner_api_spark.operators.components import connected_components

STRATS = [pytest.param(2_000_000, id="driver"), pytest.param(0, id="distributed")]


def _cc(spark, edges, small):
    df = spark.createDataFrame(edges, "u long, v long")
    return {
        r["node"]: r["component"]
        for r in connected_components(df, small_graph_edges=small).collect()
    }


@pytest.mark.parametrize("small", STRATS)
def test_two_components(spark, small):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)], small)
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10


@pytest.mark.parametrize("small", STRATS)
def test_chain_converges(spark, small):
    # long path graph: worst case for naive propagation; star algorithm
    # must converge in O(log n) rounds
    n = 64
    got = _cc(spark, [(i, i + 1) for i in range(n)], small)
    assert set(got.values()) == {0}
    assert len(got) == n + 1


@pytest.mark.parametrize("small", STRATS)
def test_duplicate_and_reversed_edges(spark, small):
    got = _cc(spark, [(2, 1), (1, 2), (2, 3), (3, 1), (5, 4)], small)
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == got[5] == 4


@pytest.mark.parametrize("small", STRATS)
def test_hub_star(spark, small):
    # hub with 200 leaves (skew shape)
    got = _cc(spark, [(0, i) for i in range(1, 201)], small)
    assert set(got.values()) == {0}
    assert len(got) == 201


def test_strategies_agree_on_random_graph(spark):
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(400)]
    edges = [(u, v) for u, v in edges if u != v]
    a = _cc(spark, edges, 2_000_000)
    b = _cc(spark, edges, 0)
    assert a == b


# ---------------------------------------------------------------------------
# incremental maintenance: fold an edge delta into an existing assignment
# ---------------------------------------------------------------------------
def _inc(spark, assign_rows, delta, small):
    from pg_iui_ner_api_spark.operators.components import incremental_components

    a = spark.createDataFrame(assign_rows, "node long, component long")
    d = spark.createDataFrame(delta, "u long, v long")
    return {
        r["node"]: r["component"]
        for r in incremental_components(a, d, small_graph_edges=small).collect()
    }


def _assign_rows(cc_map):
    return sorted(cc_map.items())


@pytest.mark.parametrize("small", STRATS)
def test_incremental_equals_full_recompute(spark, small):
    import random

    for seed in (3, 11, 42):
        rng = random.Random(seed)
        e1 = [(rng.randrange(200), rng.randrange(200)) for _ in range(180)]
        e1 = [(u, v) for u, v in e1 if u != v]
        # delta: merges across old components, brand-new nodes (>= 200),
        # and an id-lowering link through node 0
        e2 = [(rng.randrange(250), rng.randrange(250)) for _ in range(60)]
        e2 = [(u, v) for u, v in e2 if u != v] + [(0, rng.randrange(100, 200))]
        base = _cc(spark, e1, small)
        got = _inc(spark, _assign_rows(base), e2, small)
        want = _cc(spark, e1 + e2, small)
        # full recompute drops nodes that end up edge-less; the
        # incremental path keeps every previously-assigned node — align
        # universes before comparing (e1 nodes all have edges, so the
        # universes already agree; this guards the seed choice)
        assert got == want, f"seed={seed}"


def test_incremental_untouched_components_pass_through(spark):
    # {1,2,3} and {10,11} exist; delta only touches {10,11} + new node 50
    base = _cc(spark, [(1, 2), (2, 3), (10, 11)], 2_000_000)
    got = _inc(spark, _assign_rows(base), [(11, 50)], 2_000_000)
    assert got[1] == got[2] == got[3] == 1  # verbatim
    assert got[10] == got[11] == got[50] == 10


def test_incremental_merge_relabels_to_new_min(spark):
    # delta links node 0 into the {10,11} component: min id drops to 0
    base = _cc(spark, [(10, 11)], 2_000_000)
    got = _inc(spark, _assign_rows(base), [(0, 11)], 2_000_000)
    assert got == {0: 0, 10: 0, 11: 0}


def test_incremental_empty_delta_is_identity(spark):
    base = _cc(spark, [(1, 2), (7, 8)], 2_000_000)
    got = _inc(spark, _assign_rows(base), [], 2_000_000)
    assert got == base


def test_component_stats_two_known_components(spark):
    from pg_iui_ner_api_spark.operators.components import component_stats

    # triangle {1,2,3} + path {10,11}
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (10, 11)], "u long, v long"
    )
    got = {r["component"]: r for r in component_stats(edges).collect()}
    tri, path = got[1], got[10]
    assert (tri["n_nodes"], tri["n_edges"], tri["max_degree"]) == (3, 3, 2)
    assert tri["density"] == 1.0
    assert (path["n_nodes"], path["n_edges"], path["max_degree"]) == (2, 1, 1)
    assert path["density"] == 1.0


def test_component_stats_star_vs_sparse(spark):
    from pg_iui_ner_api_spark.operators.components import component_stats

    # star: hub 0 with 4 leaves -> density 2*4/(5*4) = 0.4, max_degree 4
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "u long, v long"
    )
    r = component_stats(edges).collect()[0]
    assert r["n_nodes"] == 5 and r["n_edges"] == 4
    assert r["max_degree"] == 4 and r["density"] == 0.4


def test_canonical_nodes_hand_built_votes(spark):
    """Node table and entity map over a hand-built linked-mentions frame
    with hand-written expected rows: a tied entity vote (smaller
    entity_id wins), a tied name vote (smaller name wins), a component
    joined only through a shared surface, and n_mentions summed over
    the component."""
    from pg_iui_ner_api_spark.operators.components import (
        canonical_components,
        canonical_nodes,
        entity_canonical_map,
        entity_vote_counts,
    )

    lm = spark.createDataFrame(
        [
            # Q1/Q2 share only the surface "acme": tied entity and name votes
            (1, "Q2", "Acme", "Acme Corp", "ORG"),
            (2, "Q1", "ACME", "Acme Inc", "ORG"),
            # Q4/Q5 share "paname"; Q5 outvotes Q4; tied "Paris" vs
            # "City of Paris" name vote; kind LOC 4 vs GPE 1
            (3, "Q5", "Paris", "Paris", "LOC"),
            (4, "Q5", "Paris", "City of Paris", "LOC"),
            (5, "Q5", "Paname", "Paris", "GPE"),
            (6, "Q5", "Paname", "City of Paris", "LOC"),
            (7, "Q4", "paname", "Paname", "LOC"),
            (8, "Q9", "Bob", "Bob", "PER"),
        ],
        "mention_id long, entity_id string, word string, "
        "canonical_name string, link_kind string",
    ).repartition(3)
    comps = canonical_components(lm)
    assert comps.columns == ["entity_id", "node", "component"]
    assert comps.count() == 5
    nodes = canonical_nodes(entity_vote_counts(lm), comps)
    assert sorted(tuple(r) for r in nodes.collect()) == [
        ("Q1", "Acme Corp", "ORG", 2),
        ("Q5", "City of Paris", "LOC", 5),
        ("Q9", "Bob", "PER", 1),
    ]
    got = {r.entity_id: r.canonical_id
           for r in entity_canonical_map(lm, comps).collect()}
    assert got == {"Q1": "Q1", "Q2": "Q1", "Q4": "Q5", "Q5": "Q5", "Q9": "Q9"}
