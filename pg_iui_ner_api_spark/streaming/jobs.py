"""Structured Streaming jobs (SURVEY.md §2.9).

The reference's streaming-shaped ops are batch loops: sentence
sessionization with carried state (W1, process_input_file.py:36-62) and
count-based batch flushing (W2, lines 47-50), plus a polling scheduler
(W3/W4). Their engine equivalents:

  * ``stream_extract_mentions`` — the NER hot path as an incremental
    job over the documents table directory, with the same mapInPandas
    extraction operator as batch (operator code is shared — one
    implementation, two execution modes). New corpus files landing in
    the directory are processed exactly once, which is how a 100 TB
    backfill runs without a separate batch code path.
  * ``stream_windowed_event_counts`` — event-time tumbling window with
    a watermark for late data (W2's time-based twin; the driver
    testdata ``events`` table has real timestamps).
  * ``stream_kg_increment`` + ``compact_kg_nodes`` — the KG pipeline's
    continuous twin, built from the batch pipeline's own parts: the
    per-batch builder of ``plans/pipeline.py`` and the one
    ``components.canonicalize``, which the compactor calls with the
    state it keeps.

Every job reads a parquet directory through :func:`_source` and starts
through :func:`_drain`: the ``availableNow`` trigger processes the files
not yet in the checkpoint, then the query stops — the run-once trigger
of Structured Streaming, a streaming query run as a periodic batch job.
Running the job again (the reference's scheduler tick) picks up the
files landed since. Spark's own streaming checkpoint (offset log + state
store) supplies exactly-once per sink; the batch pipeline's lineage
manifest (plans/lineage.py) is the batch-mode analogue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import schema as S
from ..operators import ner as N


_EVENTS = ("event_id long, ts timestamp, user_id long, event_type string, "
           "value double, props string")
_TEXT_DOCS = "doc_id long, text string, lang string, source string, n_chars long"


def _source(spark: SparkSession, schema, input_dir: str) -> DataFrame:
    """Streaming scan of the parquet files under ``input_dir`` (an
    append-only table) as ``schema`` (DDL text or a StructType)."""
    return spark.readStream.schema(schema).parquet(input_dir)


def _drain(stream: DataFrame, checkpoint_dir: str, output_dir: str | None = None,
           batch=None):
    """Start ``stream`` with its checkpoint under ``checkpoint_dir``:
    appended as parquet to ``output_dir``, or handed to ``batch(df,
    batch_id)`` per micro-batch. The query drains what is there
    (``availableNow``) and stops; returns the started StreamingQuery."""
    w = stream.writeStream.option("checkpointLocation", checkpoint_dir)
    if batch is None:
        w = w.format("parquet").option("path", output_dir).outputMode("append")
    else:
        w = w.foreachBatch(batch)
    return w.trigger(availableNow=True).start()


def stream_extract_mentions(spark: SparkSession, input_dir: str, output_dir: str,
                            checkpoint_dir: str):
    """documents stream -> mentions parquet, exactly once per file.

    Returns the StreamingQuery; callers awaitTermination.
    """
    docs = _source(spark, S.DOCUMENTS, input_dir)
    return _drain(N.mentions_of(N.extract(docs)), checkpoint_dir, output_dir)


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
    ev = _source(spark, _EVENTS, input_dir)
    return _drain(stream_sessionize(ev, gap_seconds, watermark),
                  checkpoint_dir, output_dir)


def run_windowed_event_counts(spark: SparkSession, input_dir: str, output_dir: str,
                              checkpoint_dir: str):
    """File-source streaming variant over an events parquet directory."""
    ev = _source(spark, _EVENTS, input_dir)
    return _drain(stream_windowed_event_counts(ev), checkpoint_dir, output_dir)


def run_sliding_event_stats(spark: SparkSession, input_dir: str, output_dir: str,
                            checkpoint_dir: str, window: str = "1 hour",
                            slide: str = "15 minutes"):
    """File-source streaming variant of the sliding-window stats."""
    ev = _source(spark, _EVENTS, input_dir)
    return _drain(stream_sliding_event_stats(ev, window=window, slide=slide),
                  checkpoint_dir, output_dir)


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
                        checkpoint_dir: str, alias_df=None, entity_emb_df=None):
    """documents stream -> linked mentions + edges, idempotently appended.

    foreachBatch (triple assembly's as-of window is not expressible
    inside a single streaming query) runs
    :func:`plans.pipeline.graph_increment` + ``stage_edges`` inline over
    each micro-batch, in its input partitioning (no bucketed write to
    serve), and writes it to its own ``batch=<id>`` partition with
    overwrite: a replayed batch id rewrites the same partition, so the
    file-source checkpoint + partition overwrite give effective
    exactly-once without a transactional sink. Output layout:

      workdir/linked_inc/batch=<id>/   linked-mention log (compaction input)
      workdir/edges_inc/batch=<id>/    edge increments (graph append)
    """
    from ..plans.lineage import StageRunner
    from ..plans.pipeline import graph_increment, stage_edges
    from ..synth import alias_df as _alias_df, entity_emb_df as _emb_df

    # default dimensions built once per query, not once per micro-batch
    alias = alias_df if alias_df is not None else _alias_df(spark)
    embs = entity_emb_df if entity_emb_df is not None else _emb_df(spark)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        runner = StageRunner(spark, None)
        try:
            inc = graph_increment(runner, batch_df, alias, embs, None)
            for out, df in (("linked_inc", inc["linked_mentions"]),
                            ("edges_inc", stage_edges(runner, inc, None))):
                df.write.mode("overwrite").parquet(
                    f"{workdir}/{out}/batch={batch_id}")
        finally:
            runner.unpersist()

    return _drain(_source(spark, S.DOCUMENTS, input_dir), checkpoint_dir,
                  batch=ingest)


def compact_kg_nodes(
    spark: SparkSession, workdir: str, incremental: bool = True
) -> DataFrame:
    """Periodic global canonicalization — INCREMENTAL in the delta.

    Connected components is the one cross-document stage, so it cannot
    run per micro-batch; but it also must not re-read the whole
    accumulated log per compaction (r4 VERDICT #4: at a 10^12-doc log
    the full reread is the scale-killer in an otherwise incremental
    path). The compactor keeps two DIMENSION-sized state tables under
    ``workdir/compact_state`` and folds only the batches newer than its
    high-water mark with :func:`operators.components.canonicalize`, the
    batch pipeline's own canonicalization:

      * ``stats``  — the additive link statistics
        (:func:`operators.components.link_stats`); the node table is
        rebuilt from them without touching any corpus-sized table;
      * ``assign`` — the block graph's (node, component) assignment.
        Summed statistics of at most ``SMALL_GRAPH_EDGES`` rows are
        solved on the driver in one collect; above that a fold costs
        ∝ delta + touched components, never history.

    State versions are written to ``v=<high-water batch>`` dirs and the
    meta file is updated LAST, so a crash mid-compaction resumes from
    the previous consistent version. Output equals the batch pipeline's
    nodes over the same corpus (pinned by test_stream_kg), and a full
    rebuild (``incremental=False`` or no state) produces identical
    state. A state dir of an older layout (``votes``/``pairs``/
    ``assign``) counts as no state: the compactor rebuilds in full and
    deletes the old tables. With no state to reuse and no linked batch
    under ``workdir/linked_inc`` (missing or empty), raises
    ``ValueError`` before reading anything.
    """
    import json
    import os
    import shutil

    from ..operators import components as C

    inc_dir = f"{workdir}/linked_inc"
    batch_ids = sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(inc_dir)
        if d.startswith("batch=")
    ) if os.path.isdir(inc_dir) else []
    state_dir = f"{workdir}/compact_state"
    meta_path = os.path.join(state_dir, "meta.json")
    state = ("stats", "assign")
    meta = None
    if incremental and os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if not all(os.path.isdir(f"{state_dir}/{name}/v={meta['version']}")
                   for name in state):
            # state of another layout (votes/pairs/assign): rebuild in full
            meta = None
    new_ids = [b for b in batch_ids if meta is None or b > meta["last_batch"]]
    if meta is not None and not new_ids:
        return spark.read.schema(C._NODES).parquet(f"{workdir}/nodes")
    if not new_ids:
        raise ValueError(
            f"compact_kg_nodes: no linked batches to compact under "
            f"{inc_dir}; run stream_kg_increment first"
        )

    delta = C.link_stats(
        spark.read.schema("entity_id string, word string, canonical_name string, "
                          "link_kind string")
        .parquet(*[f"{inc_dir}/batch={b}" for b in new_ids])
    )
    prev = None if meta is None else tuple(
        spark.read.schema(ddl).parquet(f"{state_dir}/{name}/v={meta['version']}")
        for name, ddl in zip(state, (C._STATS, C._ASSIGN))
    )
    stats, assign, _, nodes = C.canonicalize(delta, prev)

    hwm = max(new_ids)
    for name, df in zip(state, (stats, assign)):
        df.write.mode("overwrite").parquet(f"{state_dir}/{name}/v={hwm}")
    nodes.write.mode("overwrite").parquet(f"{workdir}/nodes")
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"last_batch": hwm, "version": hwm}, f)
    os.replace(tmp, meta_path)
    for name in state:
        root = f"{state_dir}/{name}"
        for d in os.listdir(root):
            if d.startswith("v=") and d != f"v={hwm}":
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    for d in set(os.listdir(state_dir)) - {*state, "meta.json"}:
        shutil.rmtree(os.path.join(state_dir, d), ignore_errors=True)
    return spark.read.schema(C._NODES).parquet(f"{workdir}/nodes")


def stream_dedup_exact(spark: SparkSession, input_dir: str, output_dir: str,
                       checkpoint_dir: str):
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

    docs = _source(spark, _TEXT_DOCS, input_dir)
    deduped = docs.withColumn("fp", fingerprint(F.col("text"))).dropDuplicates(["fp"])
    return _drain(deduped, checkpoint_dir, output_dir)


def stream_fuse_triples(spark: SparkSession, input_dir: str, workdir: str,
                        checkpoint_dir: str):
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

    triples = _source(
        spark, "subj string, pred string, obj string, score double, doc_id string",
        input_dir)
    return _drain(triples, checkpoint_dir, batch=ingest)


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
                        checkpoint_dir: str):
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

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        counts = (
            batch_df.select(
                F.explode(tokens(normalize_ws(F.col("text")))).alias("tok")
            )
            .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
        )
        counts.write.mode("overwrite").parquet(
            f"{workdir}/tok_inc/batch={batch_id}")

    return _drain(_source(spark, _TEXT_DOCS, input_dir), checkpoint_dir,
                  batch=ingest)


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
                     checkpoint_dir: str, url_col: str = "url"):
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

    pages = _source(spark, f"doc_id string, {url_col} string, text string",
                    input_dir)
    deduped = pages.withColumn(
        "canonical_url", canonicalize_url(F.col(url_col))
    ).dropDuplicates(["canonical_url"])
    return _drain(deduped, checkpoint_dir, output_dir)


def stream_dq_audit(spark: SparkSession, input_dir: str, workdir: str,
                    checkpoint_dir: str, rules, schema: str):
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
    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        res = check_constraints(batch_df, rules).drop("passed")
        res.write.mode("overwrite").parquet(
            f"{workdir}/dq_inc/batch={batch_id}")

    return _drain(_source(spark, schema, input_dir), checkpoint_dir, batch=ingest)


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
