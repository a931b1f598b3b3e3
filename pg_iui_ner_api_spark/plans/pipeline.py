"""End-to-end KG construction pipeline (north_star).

    documents ──extract──> mentions + predicates      (1 corpus scan)
       mentions ──link──> linked_mentions             (one Arrow UDF over
                                                       a prepared dimension)
       linked ──canonicalize──> components, nodes     (one collect of the
                                                       link statistics: CC
                                                       + votes on the driver)
       linked + predicates ──assemble──> edges        (co-keyed joins)

The per-document steps live in :func:`graph_increment` and
:func:`stage_edges`, which the streaming ingest also runs per
micro-batch. Canonicalization is one ``components.canonicalize`` call
over ``components.link_stats``, the call the streaming compactor makes
per delta: a table of at most ``components.SMALL_GRAPH_EDGES`` rows is
collected once and both the ``components`` and the ``nodes`` stage are
built from it on the driver; a larger one runs the distributed path.

Partitioning contract: one explicit doc_id hash partitioning
(north_rule), placed AFTER the map-only linking stage — extraction and
linking are both map-only, so the first exchange the corpus ever sees
carries linked mentions with the fat ``ctx`` column already consumed
and dropped, plus the narrow predicate rows. Shuffling before linking
(round-2 shape) moved every ctx string through the wire for nothing —
the re-placement cut the 200k-doc downstream wall 36.3 -> 16.6 s in a
paired A/B (byte-identical outputs). Every later shuffle keys on a
doc_id-prefixed composite or on small per-mention keys; linking
joins nothing (its dimensions arrive in one broadcast variable).
Stage materialization + lineage + resume via plans.lineage.StageRunner.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession

from ..operators import components as C, linking as L, ner as N, triples as T
from ..synth import alias_df as _alias_df, entity_emb_df as _emb_df
from .lineage import StageRunner


def graph_increment(
    runner: StageRunner,
    documents: DataFrame,
    alias_df: DataFrame | None,
    entity_emb_df: DataFrame | None,
    n_part: int | None,
) -> dict[str, DataFrame]:
    """``documents`` -> extraction, mentions, predicates and linked
    mentions, staged through ``runner``; :func:`stage_edges` adds the
    edges. Every output row depends on its own document only, so a
    micro-batch's outputs are the corpus outputs restricted to its
    documents. ``None`` dimensions default to the built-in synthetic
    gazetteer. ``n_part=None`` keeps the input partitioning (inline
    runners only): with no bucketed write to serve, the doc_id exchange
    would only add a shuffle."""
    spark = documents.sparkSession
    alias = alias_df if alias_df is not None else _alias_df(spark)
    embs = entity_emb_df if entity_emb_df is not None else _emb_df(spark)

    def _by_doc(df: DataFrame) -> DataFrame:
        return df if n_part is None else df.repartition(n_part, "doc_id")

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
    predicates = _by_doc(N.predicates_of(extraction))

    linked = runner.stage(
        "linked_mentions",
        lambda: _by_doc(L.link_mentions(mentions, alias, embs)),
        **bk,
    )
    return {
        "extraction": extraction,
        "mentions": mentions,
        "predicates": predicates,
        "linked_mentions": linked,
    }


def stage_edges(runner: StageRunner, inc: dict[str, DataFrame],
                n_part: int | None) -> DataFrame:
    """The ``edges`` stage: triple assembly over :func:`graph_increment`'s
    linked mentions and predicates. Kept apart so the batch pipeline
    stages it after canonicalization: building it before the first
    canonicalization action made a fresh process's first inline call
    ~3 s slower on a 4-core host."""
    return runner.stage(
        "edges",
        lambda: T.assemble_triples(inc["linked_mentions"], inc["predicates"]),
        persist=False, bucket_by="doc_id", n_buckets=n_part,
    )


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
    """Stage the KG of ``documents`` through one :class:`StageRunner`
    (inline when ``workdir`` is None): extraction, linked mentions,
    ``components``, ``nodes``, ``edges`` and, with a workdir,
    ``edges_by_subj``. The two canonicalization stages share one cached
    :func:`components.canonicalize` call (see the module docstring), so
    a small corpus collects its link statistics once and neither stage
    runs a further job."""
    runner = StageRunner(spark, workdir, run_id=run_id, input_fingerprint=input_fingerprint)
    n_part = doc_partitions or spark.sparkContext.defaultParallelism
    out = graph_increment(runner, documents, alias_df, entity_emb_df, n_part)

    # the whole corpus is one delta of the compactor's canonicalization;
    # one cached call feeds both stages, and nothing runs when both resume
    canon = functools.cache(
        lambda: C.canonicalize(C.link_stats(out["linked_mentions"])))
    out["components"] = runner.stage("components", lambda: canon()[2], persist=False)
    out["nodes"] = runner.stage(
        "nodes", lambda: canon()[3], persist=False, bucket_by="entity_id",
        n_buckets=n_part)
    out["edges"] = stage_edges(runner, out, n_part)
    if runner.workdir is not None:
        # entity-keyed twin of the edge table: re-bucket (one shuffle at
        # write time) so graph-side joins against nodes are co-located
        out["edges_by_subj"] = runner.stage(
            "edges_by_subj", lambda: out["edges"], bucket_by="subj", n_buckets=n_part
        )
    out["_runner"] = runner
    return out
