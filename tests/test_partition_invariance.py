"""The KG is the same graph under any partitioning and any execution
mode: inline, workdir, and two-batch streaming ingest + compaction.

Compares order-independent checksums (row count + the sum of each row's
``xxhash64`` as ``decimal(20,0)``) of linked mentions, edges, components
and nodes across ``doc_partitions`` ∈ {1, 3, 8},
``spark.sql.shuffle.partitions`` ∈ {1, 5, 32} and AQE on and off, on
both the driver and the distributed canonicalization path, inline and
in the compactor (whose folding compaction runs
``incremental_components`` on the distributed path). A row that
depends on partition order anywhere on the path changes a checksum; a
tie broken by partition order shows only where the corpus has the tie,
and this corpus has no tied canonical-node vote.
"""

import glob
import os

from pyspark.sql import functions as F

from pg_iui_ner_api_spark import synth
from pg_iui_ner_api_spark.operators import components as C
from pg_iui_ner_api_spark.plans.pipeline import run_kg_pipeline
from pg_iui_ner_api_spark.streaming import jobs as J

N_DOCS = 300
TABLES = ("linked_mentions", "edges", "components", "nodes")


def _checksum(df):
    cols = sorted(c for c in df.columns if c != "batch")
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(20,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def _with_conf(spark, key, value, fn):
    prev = spark.conf.get(key)
    spark.conf.set(key, str(value))
    try:
        return fn()
    finally:
        spark.conf.set(key, prev)


def _with_shuffle(spark, n, fn):
    return _with_conf(spark, "spark.sql.shuffle.partitions", n, fn)


def _batch(spark, docs, doc_partitions, workdir=None):
    res = run_kg_pipeline(spark, docs, workdir=workdir, input_fingerprint="inv",
                          doc_partitions=doc_partitions)
    try:
        return {t: _checksum(res[t]) for t in TABLES}
    finally:
        res["_runner"].unpersist()


def _stream(spark, docs, root):
    idx = F.regexp_extract("doc_id", r"doc(\d+)", 1).cast("long")
    input_dir, wd, ckpt = f"{root}/in", f"{root}/wd", f"{root}/ckpt"
    for half in (idx < N_DOCS // 2, idx >= N_DOCS // 2):
        docs.where(half).coalesce(1).write.mode("append").parquet(input_dir)
        J.stream_kg_increment(spark, input_dir, wd, ckpt).awaitTermination()
        nodes = J.compact_kg_nodes(spark, wd)  # the second one folds
    assert sorted(os.listdir(f"{wd}/compact_state")) == ["assign", "meta.json", "stats"]
    stats, assign = (
        spark.read.parquet(*glob.glob(f"{wd}/compact_state/{name}/v=*"))
        for name in ("stats", "assign")
    )
    return {
        "linked_mentions": _checksum(spark.read.parquet(f"{wd}/linked_inc")),
        "edges": _checksum(spark.read.parquet(f"{wd}/edges_inc")),
        "components": _checksum(C.entity_components(stats, assign)),
        "nodes": _checksum(nodes),
    }


def test_graph_checksums_invariant_to_partitioning_and_mode(spark, tmp_path,
                                                          monkeypatch):
    docs = synth.synth_documents(spark, N_DOCS, partitions=2).cache()
    try:
        runs = {
            f"inline doc_partitions={dp} shuffle={sp}": _with_shuffle(
                spark, sp, lambda dp=dp: _batch(spark, docs.repartition(dp), dp))
            for dp, sp in ((1, 1), (3, 5), (8, 32))
        }
        runs["inline AQE off shuffle=5"] = _with_conf(
            spark, "spark.sql.adaptive.enabled", "false",
            lambda: _with_shuffle(spark, 5, lambda: _batch(spark, docs, 3)))
        with monkeypatch.context() as m:
            # bound 0: the distributed canonicalization path
            m.setattr(C, "SMALL_GRAPH_EDGES", 0)
            runs["inline distributed canonicalization shuffle=5"] = _with_shuffle(
                spark, 5, lambda: _batch(spark, docs, 3))
            runs["stream+compaction distributed canonicalization shuffle=5"] = (
                _with_shuffle(spark, 5, lambda: _stream(
                    spark, docs, str(tmp_path / "stream-distributed"))))
        runs["workdir doc_partitions=3 shuffle=32"] = _with_shuffle(
            spark, 32, lambda: _batch(spark, docs, 3, str(tmp_path / "wd")))
        runs["stream+compaction shuffle=5"] = _with_shuffle(
            spark, 5, lambda: _stream(spark, docs, str(tmp_path / "stream")))
    finally:
        docs.unpersist()
    want = next(iter(runs.values()))
    assert all(n > 0 for n, _ in want.values()), want
    for mode, got in runs.items():
        assert got == want, mode
