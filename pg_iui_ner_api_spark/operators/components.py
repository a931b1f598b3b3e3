"""Connected components via alternating large-star/small-star (SURVEY.md M6).

Implements the MapReduce CC algorithm of Kiveris et al., "Connected
Components in MapReduce and Beyond" (SOCC'14), on DataFrames:

  large-star(u): for every neighbor v > u, emit (v, m(u))
  small-star(u): for every neighbor v <= u, emit (v, m(u)), plus (u, m(u))
  where m(u) = min(Γ(u) ∪ {u})

Alternating the two converges in O(log n) rounds to a forest of depth 1
(every node points at its component minimum). Each round is one
groupBy-min + one join — all JVM-side; lineage is cut every round with
``localCheckpoint`` so the plan doesn't grow (the classic iterative-
algorithm OOM on big graphs), and convergence is detected by an edge-set
checksum (count + sum of xxhash64), not a collect of the edges.

Skew: hub components (a celebrity entity with 10^9 mentions) concentrate
on the hub's min node. The block graph of ``canonical_components``
already avoids quadratic blowup (a hub entity is one node, its mentions
collapse into distinct entity↔surface edges, never pairwise), and AQE
skew-join splitting handles the remaining reduce-side skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _edge_checksum(e: DataFrame) -> tuple[int, int]:
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _large_star(e: DataFrame) -> DataFrame:
    """e: undirected edges as one row per (u,v) with u!=v (not symmetrized)."""
    nbrs = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges (u,v) with u>v, then hang all small neighbors off m(u)."""
    directed = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    hang = (
        directed.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edge = mins.select(F.col("u"), F.col("m").alias("v"))
    return hang.union(self_edge).where(F.col("u") != F.col("v")).distinct()


SMALL_GRAPH_EDGES = 2_000_000  # driver union-find below this edge count


def _driver_cc(spark, rows) -> DataFrame:
    """Union-find on the driver for small graphs — one pass, zero jobs.

    The distributed loop costs ~10 Spark jobs per iteration (stars +
    checksum); below SMALL_GRAPH_EDGES the whole graph fits trivially in
    driver memory and the answer is a LocalRelation. The canonicalization
    block graph (entity↔surface) is vocabulary-sized, so production runs
    take this path too unless the dictionary is enormous.
    """
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        u, v = r["u"], r["v"]
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min id so component = min node id (loop invariant)
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    nodes = set(parent)
    for r in rows:
        nodes.add(r["u"])
        nodes.add(r["v"])
    data = [(n, find(n)) for n in sorted(nodes)]
    from ..synth import local_dim_df

    if not data:
        return spark.sql("SELECT CAST(NULL AS BIGINT) node, CAST(NULL AS BIGINT) component WHERE FALSE")
    return local_dim_df(spark, data, ["node", "component"]).select(
        F.col("node").cast("long").alias("node"),
        F.col("component").cast("long").alias("component"),
    )


def connected_components(edges: DataFrame, max_iter: int = 25,
                         small_graph_edges: int = SMALL_GRAPH_EDGES) -> DataFrame:
    """edges(u: long, v: long) -> (node: long, component: long).

    component = min node id reachable from `node`. Nodes appearing only
    as isolated self-loops should not be passed; callers union isolated
    nodes back with component = self.

    Adaptive physical strategy: count the deduped edge set once — small
    graphs solve on the driver (LocalRelation result, no iteration);
    large graphs run the alternating-star loop. Pass
    ``small_graph_edges=0`` to force the distributed loop (tests do).
    """
    e = edges.select("u", "v").where(F.col("u") != F.col("v")).distinct().localCheckpoint()
    n_edges = e.count()
    if n_edges <= small_graph_edges:
        return _driver_cc(e.sparkSession, e.collect())
    prev = _edge_checksum(e)
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint()
        cur = _edge_checksum(e)
        if cur == prev:
            break
        prev = cur
    # converged: every edge is (node, root) with root < node
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return comp.union(roots).groupBy("node").agg(F.min("component").alias("component"))


def incremental_components(assign: DataFrame, new_edges: DataFrame,
                           max_iter: int = 25,
                           small_graph_edges: int = SMALL_GRAPH_EDGES,
                           ) -> DataFrame:
    """Fold an edge DELTA into an existing ``(node, component)``
    assignment without recomputing over the historical edge set — the
    maintenance primitive for a KG whose entity graph grows by daily
    increments at 10^12-document scale (recomputing CC over all
    history per increment is the thing this avoids).

    Two facts make it exact:

    * the assignment is itself a star-compressed, CC-equivalent summary
      of every historical edge — its rows ARE edges (node -> root), so
      ``CC(assign-as-edges ∪ delta) == CC(history ∪ delta)``;
    * only components INCIDENT to the delta can change: rows of
      untouched components pass through verbatim, and CC runs on the
      touched star rows + delta only.

    Cost is proportional to |delta| + |touched components|, never
    |history|: one semi-join restricts the assignment to touched
    components, one anti-join emits the untouched remainder unchanged,
    and the solver (the same adaptive ``connected_components``) sees a
    subgraph whose edge count is touched-members + delta. Component ids
    stay min-node-id, so a delta that links a smaller id re-labels the
    merged component exactly as a full recompute would.
    """
    delta = (
        new_edges.select("u", "v").where(F.col("u") != F.col("v"))
        .distinct().localCheckpoint()
    )
    touched_nodes = (
        delta.select(F.col("u").alias("node"))
        .unionAll(delta.select(F.col("v").alias("node")))
        .distinct()
    )
    touched_comps = (
        assign.join(touched_nodes, "node", "left_semi")
        .select("component").distinct().localCheckpoint()
    )
    star = assign.join(touched_comps, "component", "left_semi")
    sub_edges = star.select(
        F.col("node").alias("u"), F.col("component").alias("v")
    ).unionByName(delta)
    sub = connected_components(sub_edges, max_iter, small_graph_edges)
    untouched = assign.join(touched_comps, "component", "left_anti")
    return untouched.unionByName(sub.select("node", "component"))


def block_pairs(linked_mentions: DataFrame) -> DataFrame:
    """Distinct ``(entity_id, surface)`` pairs of the bipartite
    entity↔surface block graph; ``surface`` is the lowercased mention
    word. The corpus-sized mention table contributes only this
    projection, bounded by |vocabulary| × |entities|."""
    return linked_mentions.select(
        "entity_id", F.lower("word").alias("surface")
    ).distinct()


def _entity_node() -> Column:
    return F.xxhash64(F.concat(F.lit("e:"), F.col("entity_id")))


def block_edges(pairs: DataFrame) -> DataFrame:
    """Block-graph edges ``(u, v)`` of :func:`block_pairs` rows: 64-bit
    hashed node ids, surfaces salted into an id space disjoint from
    entities by a tag prefix."""
    return pairs.select(
        _entity_node().alias("u"),
        F.xxhash64(F.concat(F.lit("s:"), F.col("surface"))).alias("v"),
    )


def entity_components(pairs: DataFrame, assign: DataFrame) -> DataFrame:
    """``(entity_id, node, component)``: one row per entity of ``pairs``,
    its component read from the block-graph ``(node, component)``
    assignment ``assign``."""
    return (
        pairs.select("entity_id").distinct()
        .withColumn("node", _entity_node())
        .join(assign, "node", "left")
        .select("entity_id", "node",
                F.coalesce("component", "node").alias("component"))
    )


def canonical_components(linked_mentions: DataFrame) -> DataFrame:
    """Entity-level canonicalization -> component per linked entity.

    Two mentions co-refer iff they are connected through shared linked
    entity_ids and/or shared normalized surfaces. That relation factors
    through the **bipartite entity↔surface block graph**: mention m
    (entity e, surface s) connects e—s; components of mentions =
    components of their entity nodes in that graph, so the component is
    a function of the entity. At 10^12 documents the graph is still
    dimension-sized (:func:`block_pairs`), and a hub entity with 10^9
    mentions is exactly one node here; skew never reaches the loop.

    Returns ``(entity_id, node, component)``, one row per linked entity,
    with node/component being stable 64-bit hashes of block-graph ids.
    """
    pairs = block_pairs(linked_mentions).localCheckpoint()
    return entity_components(pairs, connected_components(block_edges(pairs)))


def entity_vote_counts(linked_mentions: DataFrame) -> DataFrame:
    """``(entity_id, canonical_name, link_kind, cnt)`` — the ADDITIVE
    sufficient statistics of every canonical-node vote. Counting
    mentions per (entity, name, kind) once lets a maintenance pass fold
    a mention DELTA into accumulated counts with one dimension-sized
    aggregation instead of re-reading the corpus: all of
    :func:`canonical_nodes`'s votes are marginals of this table."""
    return linked_mentions.groupBy(
        "entity_id", "canonical_name", "link_kind"
    ).agg(F.count(F.lit(1)).alias("cnt"))


def _vote(ent_votes: DataFrame, ent_comp: DataFrame, col: str) -> DataFrame:
    """``(component, <col>, n_mentions)``: the per-component modal value
    of ``col`` over the additive vote counts, with a DETERMINISTIC
    tie-break ``min(struct(-count, value))`` — the largest count wins,
    ties go to the smallest value. ``F.mode()`` breaks ties by partition
    order; this is the same tie-break :func:`fusion.entity_report` uses,
    so every vote in the repo agrees."""
    c = (
        ent_votes.join(ent_comp.select("entity_id", "component"), "entity_id")
        .groupBy("component", col).agg(F.sum("cnt").alias("c"))
    )
    return c.groupBy("component").agg(
        F.min(F.struct((-F.col("c")).alias("nc"), F.col(col)))
        .getField(col).alias(col),
        F.sum("c").alias("n_mentions"),
    )


def canonical_nodes(ent_votes: DataFrame, ent_comp: DataFrame) -> DataFrame:
    """KG node table: one row per canonical entity cluster, built from
    the vote counts of :func:`entity_vote_counts` and the
    ``(entity_id, component)`` map of :func:`canonical_components`.

    Representative entity = modal linked entity of the component;
    canonical_name = modal canonical_name (A5 'canonical name vote');
    kind = modal link_kind; n_mentions = the component's mention count.
    Each entity lies in exactly one component, so representatives are
    distinct across components. Every input is dimension-sized (entity
    vocabulary), never corpus-sized, which is what lets the streaming
    compactor fold a delta into accumulated votes.
    """
    return (
        _vote(ent_votes, ent_comp, "entity_id")
        .join(_vote(ent_votes, ent_comp, "canonical_name")
              .drop("n_mentions"), "component")
        .join(_vote(ent_votes, ent_comp, "link_kind")
              .drop("n_mentions"), "component")
        .select("entity_id", "canonical_name",
                F.col("link_kind").alias("kind"), "n_mentions")
    )


def entity_canonical_map(
    linked_mentions: DataFrame, components: DataFrame
) -> DataFrame:
    """(entity_id, canonical_id): every linked entity mapped to its
    component's representative — the SAME vote :func:`canonical_nodes`
    takes, so the map and the node table agree by construction.
    Representatives map to themselves. Dimension-sized output: bounded
    by the entity vocabulary, never the corpus."""
    rep = _vote(entity_vote_counts(linked_mentions), components, "entity_id")
    return components.join(
        rep.select("component", F.col("entity_id").alias("canonical_id")),
        "component",
    ).select("entity_id", "canonical_id")


def canonical_edges(
    edges: DataFrame, linked_mentions: DataFrame, components: DataFrame
) -> DataFrame:
    """Edge table with subj/obj rewritten to canonical (component-
    representative) entity ids — the referentially-closed view whose
    every endpoint exists in :func:`canonical_nodes`.

    The raw ``edges`` output keeps per-mention LINKED entity ids
    because that is the reference-parity surface (span/triple equality
    is defined pre-canonicalization); the node table is
    post-canonicalization. This operator closes the seam: a
    ``dq_audit`` ref-rule of canonical_edges against canonical_nodes
    passes 100% where raw edges legitimately do not (e.g. an ambiguous
    surface whose minority sense lost the component vote appears as a
    raw edge object but owns no node row).

    Scale shape: the rewrite is two joins against the dimension-sized
    entity map — broadcast, map-only, zero shuffles of the edge table;
    row count and evidence provenance are preserved exactly.
    """
    m = entity_canonical_map(linked_mentions, components)
    subj_map = F.broadcast(
        m.select(F.col("entity_id").alias("subj"), F.col("canonical_id").alias("_cs"))
    )
    obj_map = F.broadcast(
        m.select(F.col("entity_id").alias("obj"), F.col("canonical_id").alias("_co"))
    )
    return (
        edges.join(subj_map, "subj", "left")
        .join(obj_map, "obj", "left")
        .select(
            F.coalesce("_cs", "subj").alias("subj"),
            "pred",
            F.coalesce("_co", "obj").alias("obj"),
            "doc_id",
            "evidence",
        )
    )


def component_stats(edges: DataFrame,
                    components: DataFrame | None = None) -> DataFrame:
    """Per-component structural audit over an undirected edge list
    (u < v, distinct): (component, n_nodes, n_edges, max_degree,
    density) — the KG-QA summary that turns "canonicalization ran" into
    numbers reviewers can gate on (a near-complete component with
    density ~1 is usually an over-merged entity; a huge sparse one is a
    hub alias absorbing everything).

    ``components`` is the (node, component) labeling to audit; when
    None it is computed with :func:`connected_components` (min-id
    labels). Every edge lies inside one component by construction, so
    n_edges attributes each edge via its u-endpoint's label.

    100 TB shape: three partial-aggregable aggregations (node counts,
    edge counts via one equi-join on node id, degree max) meeting in
    component-cardinality joins — AQE broadcasts the small side; no
    windows, no collects, no payload columns anywhere.
    """
    if components is None:
        components = connected_components(edges)
    comp = components.select("node", "component")
    n_nodes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    n_edges = (
        edges.join(comp.withColumnRenamed("node", "u"), "u")
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    degree = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    max_deg = (
        degree.join(comp.withColumnRenamed("node", "u"), "u")
        .groupBy("component")
        .agg(F.max("d").alias("max_degree"))
    )
    n_d = F.col("n_nodes").cast("double")
    return (
        n_nodes.join(n_edges, "component")
        .join(max_deg, "component")
        .select(
            "component",
            "n_nodes",
            "n_edges",
            "max_degree",
            F.when(
                F.col("n_nodes") > 1,
                F.round(
                    (F.lit(2.0) * F.col("n_edges").cast("double"))
                    / (n_d * (n_d - F.lit(1.0))),
                    6,
                ),
            ).alias("density"),
        )
    )
