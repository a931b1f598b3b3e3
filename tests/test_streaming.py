"""Structured Streaming tests: the shared extraction operator running
incrementally (exactly-once over file backlog) and event-time windows
with watermark."""

import os
import pytest

from pyspark.sql import functions as F

from pg_iui_ner_api_spark import synth
from pg_iui_ner_api_spark.operators import ner as N
from pg_iui_ner_api_spark.streaming import jobs as J


def test_stream_extract_matches_batch(spark, tmp_path):
    in_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "mentions")
    ckpt = str(tmp_path / "ckpt")
    # two separate file drops = two incremental chunks
    synth.synth_documents(spark, 40, partitions=2).write.mode("append").parquet(in_dir)
    docs2 = synth.synth_documents(spark, 80, partitions=2).where(
        F.col("doc_id") >= "doc0000000040"
    )
    docs2.write.mode("append").parquet(in_dir)

    q = J.stream_extract_mentions(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)

    # start/end are span-local offsets, so the key must include span_idx
    got = {
        (r["doc_id"], r["span_idx"], r["start"], r["end"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["doc_id"], r["span_idx"], r["start"], r["end"])
        for r in N.mentions_of(N.extract(spark.read.parquet(in_dir))).collect()
    }
    assert got == want and len(got) > 0

    # restart with same checkpoint: nothing new to process, no dup rows
    q2 = J.stream_extract_mentions(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(60)
    assert spark.read.parquet(out_dir).count() == len(want)


def test_windowed_event_counts_match_batch(spark, tmp_path, sf_dir):
    in_dir = str(tmp_path / "events")
    out_dir = str(tmp_path / "counts")
    ckpt = str(tmp_path / "ckpt2")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.write.parquet(in_dir)

    q = J.run_windowed_event_counts(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)

    got = {
        (str(r["w_start"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # batch oracle, restricted to windows the watermark has closed
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    closed = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("w_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .where(F.col("w_start") + F.expr("INTERVAL 3 HOURS") <= F.lit(max_ts))
    )
    want = {
        (str(r["w_start"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in closed.collect()
    }
    assert want  # sanity: some windows must have closed
    for k, v in want.items():
        assert got.get(k) == v, k


def _write_events(spark, indir, rows):
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append").parquet(indir)


def test_stream_sessionize_multichunk_group(spark, tmp_path):
    """A group larger than arrow.maxRecordsPerBatch arrives as MULTIPLE
    pandas chunks; session boundaries must come from one global
    event-time sort, not per-chunk sorts (per-chunk sorting misplaces
    boundaries at chunk seams for out-of-order input)."""
    import datetime as dt

    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # 30 events 10 s apart (one session), then 10 events after a 5000 s
    # gap (second, still-open session) — written in a fixed interleaved
    # permutation so every chunk mixes early and late events.
    times = [i * 10 for i in range(30)] + [5000 + i * 10 for i in range(10)]
    perm = sorted(range(40), key=lambda i: (i * 17) % 40)
    rows = [(i, t0 + dt.timedelta(seconds=times[p]), 1, "c", 1.0, "{}")
            for i, p in enumerate(perm)]
    _write_events(spark, indir, rows)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        q = J.run_stream_sessionize(spark, indir, outdir, ckpt, gap_seconds=1800)
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    rows = spark.read.schema(J.SESSION_OUT).parquet(outdir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["user_id"], r["session_id"], r["n_events"]) == (1, 0, 30)
    assert r["t_start"] == t0
    assert r["t_end"] == t0 + dt.timedelta(seconds=290)


def test_stream_sessionize_late_drop_and_timeout(spark, tmp_path):
    """Watermark contract: an event older than the watermark is dropped
    (never resurrects a session); a trailing session with no successor
    event is emitted by the event-time timeout once the watermark passes
    last_ts + gap."""
    import datetime as dt

    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    h = dt.timedelta(hours=1)

    def run():
        q = J.run_stream_sessionize(spark, indir, outdir, ckpt,
                                    gap_seconds=1800, watermark="2 hours")
        q.awaitTermination(120)
        return spark.read.schema(J.SESSION_OUT).parquet(outdir).collect()

    _write_events(spark, indir, [(1, t0, 9, "c", 1.0, "{}"),
                                 (2, t0 + dt.timedelta(seconds=50), 9, "c", 1.0, "{}")])
    assert run() == []
    # advance the watermark far past user 9's timeout (t0+50+1800)
    _write_events(spark, indir, [(3, t0 + 10 * h, 8, "c", 1.0, "{}")])
    run()
    # next batch runs with watermark = t0+8h: user 9's trailing session
    # fires via EventTimeTimeout; user 8's first session closes by gap
    _write_events(spark, indir, [(4, t0 + 20 * h, 8, "c", 1.0, "{}")])
    got = {(r["user_id"], r["session_id"]): r["n_events"] for r in run()}
    assert got[(9, 0)] == 2 and got[(8, 0)] == 1
    # a straggler older than the watermark (t0+18h) must be DROPPED —
    # it must not seed a new user-9 session
    _write_events(spark, indir, [(5, t0 + dt.timedelta(seconds=100), 9, "c", 1.0, "{}")])
    n_after_late = len(run())
    assert n_after_late == 2
    # drain everything: if the late event had been accepted, a second
    # user-9 row would eventually time out and appear here
    _write_events(spark, indir, [(6, t0 + 40 * h, 8, "c", 1.0, "{}")])
    final = run()
    assert [r for r in final if r["user_id"] == 9 and r["session_id"] != 0] == []


def test_stream_sessionize_ordinal_continuity(spark, tmp_path):
    """After a timeout emits a trailing session, a reappearing user's next
    session continues the contiguous per-user ordinal (batch contract)
    instead of restarting at 0."""
    import datetime as dt

    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    s = lambda x: t0 + dt.timedelta(seconds=x)  # noqa: E731

    def run():
        q = J.run_stream_sessionize(spark, indir, outdir, ckpt,
                                    gap_seconds=100, watermark="0 seconds")
        q.awaitTermination(120)
        return spark.read.schema(J.SESSION_OUT).parquet(outdir).collect()

    _write_events(spark, indir, [(1, s(0), 1, "c", 1.0, "{}"),
                                 (2, s(10), 1, "c", 1.0, "{}")])
    run()
    _write_events(spark, indir, [(3, s(500), 2, "c", 1.0, "{}")])
    run()  # watermark -> t0+500 (> user-1 timeout at t0+110)
    _write_events(spark, indir, [(4, s(700), 2, "c", 1.0, "{}")])
    got = {(r["user_id"], r["session_id"]): r["n_events"] for r in run()}
    assert got[(1, 0)] == 2  # emitted via timeout; ordinal 1 retained
    # user 1 reappears within the ordinal-retention window (10 s + 10*100 s)
    _write_events(spark, indir, [(5, s(800), 1, "c", 1.0, "{}")])
    run()
    _write_events(spark, indir, [(6, s(2000), 3, "c", 1.0, "{}")])
    run()  # watermark -> t0+800 (< user-1 timeout t0+900): not yet
    _write_events(spark, indir, [(7, s(3000), 3, "c", 1.0, "{}")])
    got = {(r["user_id"], r["session_id"]): r["n_events"] for r in run()}
    assert got[(1, 1)] == 1  # continued at ordinal 1, not a second 0
    assert (1, 0) in got and len([k for k in got if k[0] == 1]) == 2


def test_stream_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionizer: a session closes when a later
    event exceeds the gap; state survives across separate availableNow
    runs through the streaming checkpoint."""
    import datetime as dt

    import pandas as pd

    indir = str(tmp_path / "ev_in")
    outdir = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ckpt")
    os.makedirs(indir, exist_ok=True)
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")

    def write_batch(name, rows):
        # the file stream source lists files in the root (no recursion):
        # append a new part file per batch
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append").parquet(indir)

    # batch 1: user 7 has two events 100 s apart (one open session)
    write_batch("b1", [
        (1, t0, 7, "click", 1.0, "{}"),
        (2, t0 + dt.timedelta(seconds=100), 7, "click", 1.0, "{}"),
    ])
    q = J.run_stream_sessionize(spark, indir, outdir, ckpt, gap_seconds=1800)
    q.awaitTermination(120)
    # nothing closed yet (session still open in state)
    got1 = spark.read.schema(J.SESSION_OUT).parquet(outdir)
    assert got1.count() == 0

    # batch 2, separate run: an event 5000 s later closes session 0
    write_batch("b2", [
        (3, t0 + dt.timedelta(seconds=5100), 7, "click", 1.0, "{}"),
    ])
    q = J.run_stream_sessionize(spark, indir, outdir, ckpt, gap_seconds=1800)
    q.awaitTermination(120)
    rows = spark.read.schema(J.SESSION_OUT).parquet(outdir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["user_id"], r["session_id"], r["n_events"]) == (7, 0, 2)
    assert r["t_start"] == t0
    assert r["t_end"] == t0 + dt.timedelta(seconds=100)


def test_stream_kg_increment_matches_batch(spark, tmp_path):
    """Incremental KG maintenance == batch pipeline on the same corpus.

    Two micro-batches of documents ingested through stream_kg_increment
    (availableNow, shared checkpoint) must produce exactly the batch
    pipeline's edges over the union corpus — extraction/linking/triple
    assembly are per-document, so increments are lossless. A third
    trigger with no new files must add nothing (checkpoint resume), and
    the node compactor must reproduce the batch pipeline's nodes."""
    from pg_iui_ner_api_spark.plans.pipeline import run_kg_pipeline

    docs = synth.synth_documents(spark, 240, partitions=4)
    idx = F.regexp_extract("doc_id", r"doc(\d+)", 1).cast("long")
    half1 = docs.where(idx < 120)
    half2 = docs.where(idx >= 120)

    input_dir = str(tmp_path / "in")
    wd = str(tmp_path / "wd")
    ckpt = str(tmp_path / "ckpt")
    edge_cols = ["subj", "pred", "obj", "doc_id"]

    half1.coalesce(1).write.mode("append").parquet(input_dir)
    J.stream_kg_increment(spark, input_dir, wd, ckpt).awaitTermination()
    n_after_1 = spark.read.parquet(f"{wd}/edges_inc").count()
    # compact mid-stream so the SECOND compaction exercises the
    # incremental path (state fold + incremental_components), not the
    # first-run full rebuild
    J.compact_kg_nodes(spark, wd)

    half2.coalesce(1).write.mode("append").parquet(input_dir)
    J.stream_kg_increment(spark, input_dir, wd, ckpt).awaitTermination()
    inc_edges = spark.read.parquet(f"{wd}/edges_inc")
    n_after_2 = inc_edges.count()
    assert n_after_2 > n_after_1

    res = run_kg_pipeline(spark, docs)
    batch_edges = {tuple(r) for r in res["edges"].select(*edge_cols).collect()}
    got_edges = {tuple(r) for r in inc_edges.select(*edge_cols).collect()}
    assert got_edges == batch_edges

    # empty trigger: checkpoint resume adds nothing, rewrites nothing
    J.stream_kg_increment(spark, input_dir, wd, ckpt).awaitTermination()
    assert spark.read.parquet(f"{wd}/edges_inc").count() == n_after_2

    nodes = J.compact_kg_nodes(spark, wd)  # incremental fold of batch 2
    node_cols = ["entity_id", "canonical_name"]
    want_nodes = {tuple(r) for r in res["nodes"].select(*node_cols).collect()}
    assert {tuple(r) for r in nodes.select(*node_cols).collect()} == want_nodes

    # no-delta compaction: returns the same table without recomputing
    again = J.compact_kg_nodes(spark, wd)
    assert {tuple(r) for r in again.select(*node_cols).collect()} == want_nodes

    # a full rebuild (state ignored) agrees with the incremental result
    full = J.compact_kg_nodes(spark, wd, incremental=False)
    assert {tuple(r) for r in full.select(*node_cols).collect()} == want_nodes
    res["_runner"].unpersist()


def test_compact_kg_nodes_without_batches_raises(spark, tmp_path):
    """No compaction state and no linked batch (missing or empty
    linked_inc) is a clear ValueError, not a listdir or zero-path read
    error."""
    wd = tmp_path / "wd"
    with pytest.raises(ValueError, match="no linked batches"):
        J.compact_kg_nodes(spark, str(wd))
    (wd / "linked_inc").mkdir(parents=True)
    with pytest.raises(ValueError, match="no linked batches"):
        J.compact_kg_nodes(spark, str(wd))


def test_stream_dedup_exact_across_batches(spark, tmp_path):
    """A duplicate arriving in a LATER micro-batch must still be dropped
    (state store carries the seen digests across triggers), and the
    survivor set must equal batch dedup_exact's keepers."""
    from pg_iui_ner_api_spark.streaming.jobs import stream_dedup_exact

    inp = tmp_path / "docs_in"
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt")
    cols = "doc_id long, text string, lang string, source string, n_chars long"
    b1 = [(0, "the quick brown fox", "en", "s", 19),
          (1, "The  quick   BROWN fox", "en", "s", 22),   # ws/case dup of 0
          (2, "something else entirely", "en", "s", 23)]
    spark.createDataFrame(b1, cols).write.mode("append").parquet(str(inp))
    q = stream_dedup_exact(spark, str(inp), out, ckpt)
    q.awaitTermination(120)
    got1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert len(got1) == 2 and 2 in got1 and len(got1 & {0, 1}) == 1

    b2 = [(3, "the quick brown fox", "en", "s", 19),      # dup across batches
          (4, "a brand new document", "en", "s", 20)]
    spark.createDataFrame(b2, cols).write.mode("append").parquet(str(inp))
    q = stream_dedup_exact(spark, str(inp), out, ckpt)
    q.awaitTermination(120)
    got2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert 3 not in got2          # cross-batch duplicate dropped
    assert 4 in got2
    assert got2 == got1 | {4}


def test_stream_kg_increment_crash_replay_idempotent(spark, tmp_path):
    """Restart after a torn trigger must overwrite, never duplicate.

    Simulates the classic foreachBatch failure window: the micro-batch's
    output parquet was fully written but the query died BEFORE the
    checkpoint commit was recorded (deleting the newest file under
    ``<ckpt>/commits`` reproduces exactly that state). The restarted
    query replays the same batch id; because each batch writes to its
    own ``batch=<id>`` partition with mode=overwrite, the replay must
    rewrite the partition in place — edge/linked content and row COUNTS
    equal to the single clean run (a set-compare alone would hide
    replay-duplicated rows)."""
    docs = synth.synth_documents(spark, 120, partitions=2)
    input_dir = str(tmp_path / "in")
    wd = str(tmp_path / "wd")
    ckpt = str(tmp_path / "ckpt")
    docs.coalesce(1).write.mode("append").parquet(input_dir)

    J.stream_kg_increment(spark, input_dir, wd, ckpt).awaitTermination()

    def snapshot(d):
        rows = sorted(
            tuple(r) for r in spark.read.parquet(f"{wd}/{d}").collect()
        )
        return rows

    edges_once = snapshot("edges_inc")
    linked_once = snapshot("linked_inc")
    assert edges_once, "trigger produced no edges — test corpus too small"

    commits_dir = os.path.join(ckpt, "commits")
    commits = sorted(
        f for f in os.listdir(commits_dir) if not f.startswith(".")
    )
    os.remove(os.path.join(commits_dir, commits[-1]))
    # the local ChecksumFileSystem keeps a shadow .<name>.crc; a real HDFS
    # crash would lose both, and leaving it makes the restart's rename-based
    # commit write fail as a (spurious) concurrent-modification error
    crc = os.path.join(commits_dir, f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    J.stream_kg_increment(spark, input_dir, wd, ckpt).awaitTermination()

    assert snapshot("edges_inc") == edges_once
    assert snapshot("linked_inc") == linked_once


def test_stream_fuse_triples_matches_batch(spark, tmp_path):
    """Incremental noisy-or fusion == batch fuse_triples over the union
    corpus: two micro-batches of extraction rows through
    stream_fuse_triples (shared checkpoint), then compact. Counts and
    order statistics are exact; noisy_or matches up to float-sum
    reassociation. An empty third trigger must change nothing."""
    from pg_iui_ner_api_spark.operators.fusion import fuse_triples

    rows1 = [
        ("e1", "rel", "e2", 0.5, "d1"),
        ("e1", "rel", "e2", 0.2, "d2"),
        ("e3", "rel", "e4", 1.0, "d1"),
    ]
    rows2 = [
        ("e1", "rel", "e2", 0.5, "d1"),   # same doc again across batches
        ("e1", "rel", "e2", 0.9, "d3"),
        ("e5", "is_a", "e6", 0.4, "d4"),
    ]
    schema = ["subj", "pred", "obj", "score", "doc_id"]
    inp = str(tmp_path / "in")
    wd = str(tmp_path / "wd")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(inp)
    J.stream_fuse_triples(spark, inp, wd, ckpt).awaitTermination()
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(inp)
    J.stream_fuse_triples(spark, inp, wd, ckpt).awaitTermination()

    got = {
        (r["subj"], r["pred"], r["obj"]): r
        for r in J.compact_fused_triples(spark, wd).collect()
    }
    want = {
        (r["subj"], r["pred"], r["obj"]): r
        for r in fuse_triples(
            spark.createDataFrame(rows1 + rows2, schema)
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        g, w = got[k], want[k]
        assert (g["n_mentions"], g["n_docs"]) == (w["n_mentions"], w["n_docs"])
        assert (g["max_score"], g["min_score"]) == (w["max_score"], w["min_score"])
        assert g["noisy_or"] == pytest.approx(w["noisy_or"], abs=1e-12)
    # cross-batch distinct: e1/rel/e2 saw d1 twice in different batches
    assert got[("e1", "rel", "e2")]["n_docs"] == 3
    assert got[("e1", "rel", "e2")]["n_mentions"] == 4

    # empty trigger: checkpoint resume adds nothing
    J.stream_fuse_triples(spark, inp, wd, ckpt).awaitTermination()
    after = {
        (r["subj"], r["pred"], r["obj"]): r["n_mentions"]
        for r in J.compact_fused_triples(spark, wd).collect()
    }
    assert after == {k: v["n_mentions"] for k, v in got.items()}


def test_sliding_event_stats_match_batch(spark, tmp_path, sf_dir):
    """Sliding panes: every pane the watermark closed must equal the
    batch computation of the same overlapping windows (each event in
    window/slide panes)."""
    in_dir = str(tmp_path / "sev")
    out_dir = str(tmp_path / "sstats")
    ckpt = str(tmp_path / "sckpt")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.write.parquet(in_dir)

    q = J.run_sliding_event_stats(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)

    got = {
        (str(r["w_start"]), r["event_type"]): (r["n"], r["avg_value"], r["max_value"])
        for r in spark.read.parquet(out_dir).collect()
    }
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    batch = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
        .where(F.col("w.end") + F.expr("INTERVAL 2 HOURS") <= F.lit(max_ts))
        .select(F.col("w.start").alias("w_start"), "event_type", "n",
                "avg_value", "max_value")
    )
    want = {
        (str(r["w_start"]), r["event_type"]): (r["n"], r["avg_value"], r["max_value"])
        for r in batch.collect()
    }
    assert want  # some panes must have closed
    for k, v in want.items():
        assert got.get(k) == v, k
    # overlap sanity: a single event contributes to window/slide panes,
    # so closed-pane event mass exceeds the closed tumbling-hour mass
    assert len(got) >= len(want)


def test_stream_heavy_hitters_matches_batch(spark, tmp_path):
    """Two appends streamed as separate triggers, then compacted, must
    equal the batch heavy_hitters operator over the union corpus —
    token-count partials merge associatively, so the streamed threshold
    test sees exactly the batch totals."""
    from pg_iui_ner_api_spark.operators.sketches import heavy_hitters
    from pg_iui_ner_api_spark.streaming.jobs import (
        compact_heavy_hitters, stream_token_counts)

    inp = tmp_path / "docs_in"
    wd = str(tmp_path / "wd")
    ckpt = str(tmp_path / "ckpt")
    cols = "doc_id long, text string, lang string, source string, n_chars long"
    b1 = [(i, f"alpha alpha beta rare{i}", "en", "s", 20) for i in range(30)]
    b2 = [(100 + i, f"alpha gamma gamma rare{100+i}", "en", "s", 22)
          for i in range(30)]
    spark.createDataFrame(b1, cols).write.mode("append").parquet(str(inp))
    stream_token_counts(spark, str(inp), wd, ckpt).awaitTermination(120)
    spark.createDataFrame(b2, cols).write.mode("append").parquet(str(inp))
    stream_token_counts(spark, str(inp), wd, ckpt).awaitTermination(120)

    got = {(r.tok, r.cnt)
           for r in compact_heavy_hitters(spark, wd, 1, 10).collect()}
    union = spark.createDataFrame(b1 + b2, cols)
    want = {(r.tok, r.cnt) for r in heavy_hitters(union, 1, 10).collect()}
    assert got == want and got, got


def test_stream_heavy_hitters_crash_replay_idempotent(spark, tmp_path):
    """Replaying a micro-batch whose output landed but whose checkpoint
    commit did not (newest commits file deleted) must overwrite the
    batch partition in place — merged counts identical to a clean run."""
    import glob
    import os

    from pg_iui_ner_api_spark.streaming.jobs import (
        compact_heavy_hitters, stream_token_counts)

    inp = tmp_path / "docs_in"
    wd = str(tmp_path / "wd")
    ckpt = str(tmp_path / "ckpt")
    cols = "doc_id long, text string, lang string, source string, n_chars long"
    rows = [(i, "x y z common", "en", "s", 12) for i in range(20)]
    spark.createDataFrame(rows, cols).write.mode("append").parquet(str(inp))
    stream_token_counts(spark, str(inp), wd, ckpt).awaitTermination(120)
    clean = sorted(
        tuple(r) for r in compact_heavy_hitters(spark, wd, 1, 10).collect()
    )

    commits = sorted(
        f for f in glob.glob(f"{ckpt}/commits/*")
        if not os.path.basename(f).startswith(".")
    )
    os.remove(commits[-1])  # torn trigger: output written, commit lost
    # drop the local ChecksumFileSystem's shadow .crc too (a real crash
    # loses both; a stale crc makes the rename-based recommit fail)
    crc = os.path.join(os.path.dirname(commits[-1]),
                       f".{os.path.basename(commits[-1])}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    stream_token_counts(spark, str(inp), wd, ckpt).awaitTermination(120)
    replay = sorted(
        tuple(r) for r in compact_heavy_hitters(spark, wd, 1, 10).collect()
    )
    assert replay == clean


def test_stream_dedup_url_across_batches(spark, tmp_path):
    """A re-crawl of the same page (tracking params + case-variant
    host) in a LATER micro-batch must be dropped; distinct pages
    survive, and the canonical_url column is emitted."""
    from pg_iui_ner_api_spark.streaming.jobs import stream_dedup_url

    inp = tmp_path / "pages_in"
    out = str(tmp_path / "pages_out")
    ckpt = str(tmp_path / "ckpt_url")
    cols = "doc_id string, url string, text string"
    b1 = [("p1", "HTTP://Site.COM:80/a?b=2&a=1#f", "x"),
          ("p2", "http://site.com/a?a=1&b=2&utm_source=s", "x"),  # dup of p1
          ("p3", "http://site.com/b", "y")]
    spark.createDataFrame(b1, cols).write.mode("append").parquet(str(inp))
    q = stream_dedup_url(spark, str(inp), out, ckpt)
    q.awaitTermination(120)
    got1 = {r["doc_id"]: r["canonical_url"]
            for r in spark.read.parquet(out).collect()}
    assert len(got1) == 2 and "p3" in got1
    assert len(set(got1) & {"p1", "p2"}) == 1
    assert got1["p3"] == "http://site.com/b"

    b2 = [("p4", "http://site.com/a?b=2&a=1", "x"),   # cross-batch re-crawl
          ("p5", "https://site.com/a?a=1&b=2", "x")]  # DIFFERENT scheme: new
    spark.createDataFrame(b2, cols).write.mode("append").parquet(str(inp))
    q = stream_dedup_url(spark, str(inp), out, ckpt)
    q.awaitTermination(120)
    got2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert "p4" not in got2 and "p5" in got2


def test_stream_dq_audit_matches_batch(spark, tmp_path):
    """Streamed per-batch partials compact to the EXACT batch audit over
    the union corpus, replays are idempotent, and non-decomposable
    rules are rejected up front."""
    import os

    from pg_iui_ner_api_spark.operators.audit import check_constraints
    from pg_iui_ner_api_spark.streaming.jobs import (
        compact_dq_audit, stream_dq_audit)

    rules = [
        {"id": "id_nn", "type": "not_null", "column": "id"},
        {"id": "code_vals", "type": "accepted_values", "column": "code",
         "values": ["A", "B"]},
        {"id": "score_rng", "type": "range", "column": "score",
         "min": 0.0, "max": 100.0},
    ]
    schema = "id long, code string, score double"
    inp = os.path.join(tmp_path, "in")
    wd = os.path.join(tmp_path, "wd")
    ck = os.path.join(tmp_path, "ck")
    b1 = [(1, "A", 10.0), (None, "C", 120.0)]
    b2 = [(2, "B", 55.0), (3, "A", -1.0), (4, None, None)]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append").parquet(inp)
    q = stream_dq_audit(spark, inp, wd, ck, rules, schema)
    q.awaitTermination(120)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append").parquet(inp)
    q = stream_dq_audit(spark, inp, wd, ck, rules, schema)
    q.awaitTermination(120)

    def as_map(df):
        return {
            r.rule_id: (r.n_checked, r.n_violations, r.passed)
            for r in df.collect()
        }

    got = as_map(compact_dq_audit(spark, wd))
    want = as_map(check_constraints(
        spark.createDataFrame(b1 + b2, schema), rules))
    assert got == want
    assert got["id_nn"] == (5, 1, False)
    # replay with the same checkpoint: no new files, nothing changes
    q = stream_dq_audit(spark, inp, wd, ck, rules, schema)
    q.awaitTermination(120)
    assert as_map(compact_dq_audit(spark, wd)) == want
    # non-decomposable rules rejected
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not decomposable"):
        stream_dq_audit(spark, inp, wd, ck, [
            {"id": "uq", "type": "unique", "column": "id"}], schema)
