"""Checkpoint/lineage/resume tests (north_rule: any stage can resume)."""

import json
import os

from pg_iui_ner_api_spark import synth
from pg_iui_ner_api_spark.plans.pipeline import run_kg_pipeline

N = 60


def _events(res):
    return {e["stage"]: e["action"] for e in res["_runner"].events}


def test_materialize_then_resume(spark, tmp_path):
    wd = str(tmp_path / "wd")
    docs = synth.synth_documents(spark, N, partitions=2)
    fp = f"synth:{N}:42"

    r1 = run_kg_pipeline(spark, docs, workdir=wd, input_fingerprint=fp)
    assert all(a == "computed" for a in _events(r1).values())
    e1 = sorted(
        tuple(r) for r in r1["edges"].select("doc_id", "subj", "pred", "obj").collect()
    )

    # full restart: every stage resumes from its checkpoint
    r2 = run_kg_pipeline(spark, docs, workdir=wd, input_fingerprint=fp)
    assert all(a == "resumed" for a in _events(r2).values())
    e2 = sorted(
        tuple(r) for r in r2["edges"].select("doc_id", "subj", "pred", "obj").collect()
    )
    assert e1 == e2


def test_mid_pipeline_crash_resume(spark, tmp_path):
    wd = str(tmp_path / "wd")
    docs = synth.synth_documents(spark, N, partitions=2)
    fp = f"synth:{N}:42"
    run_kg_pipeline(spark, docs, workdir=wd, input_fingerprint=fp)

    # simulate a crash after the linking stage: later stage outputs lost
    for stage in ("components", "nodes", "edges"):
        os.rename(os.path.join(wd, stage), os.path.join(wd, stage + ".lost"))
    r = run_kg_pipeline(spark, docs, workdir=wd, input_fingerprint=fp)
    acts = _events(r)
    assert acts["extraction"] == "resumed"
    assert acts["linked_mentions"] == "resumed"
    assert acts["components"] == "computed"
    assert acts["edges"] == "computed"


def test_fingerprint_change_forces_recompute(spark, tmp_path):
    wd = str(tmp_path / "wd")
    docs = synth.synth_documents(spark, N, partitions=2)
    run_kg_pipeline(spark, docs, workdir=wd, input_fingerprint="fp-a")
    r = run_kg_pipeline(spark, docs, workdir=wd, input_fingerprint="fp-b")
    assert all(a == "computed" for a in _events(r).values())


def test_lineage_manifest_contents(spark, tmp_path):
    wd = str(tmp_path / "wd")
    docs = synth.synth_documents(spark, N, partitions=2)
    run_kg_pipeline(spark, docs, workdir=wd, input_fingerprint="fp")
    with open(os.path.join(wd, "_lineage", "extraction.json")) as f:
        meta = json.load(f)
    assert meta["stage"] == "extraction"
    assert meta["rows_out"] > 0
    assert meta["wall_ms"] >= 0
    assert len(meta["partitions"]) >= 1
    assert sum(p["rows"] for p in meta["partitions"]) == meta["rows_out"]


def test_workdir_none_unpersist_releases_caches(spark):
    """ADVICE r1: workdir=None mode persisted MEMORY_AND_DISK and never
    released, accumulating blocks across pipeline runs in one session.
    unpersist() must leave no cached RDDs behind."""
    from pg_iui_ner_api_spark.plans.lineage import StageRunner

    base = int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())
    runner = StageRunner(spark, workdir=None)
    df = runner.stage("s1", lambda: spark.range(1000).selectExpr("id", "id * 2 AS v"))
    df.count()  # materialize the cache
    assert int(spark.sparkContext._jsc.sc().getPersistentRDDs().size()) > base
    runner.unpersist()
    assert int(spark.sparkContext._jsc.sc().getPersistentRDDs().size()) == base


def _manifests(wd):
    out = {}
    for f in sorted(os.listdir(os.path.join(wd, "_lineage"))):
        with open(os.path.join(wd, "_lineage", f)) as fh:
            meta = json.load(fh)
        out[meta["stage"]] = meta
    return out


def _spark_recount(spark, path):
    """The per-file count a Spark job over the stage's files gives:
    {path relative to the stage directory: rows}."""
    from urllib.parse import unquote, urlparse

    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file")).count().collect()
    )
    return {os.path.relpath(unquote(urlparse(r["file"]).path), path): r["count"]
            for r in rows}


def _rows_out(res):
    return {e["stage"]: e["rows_out"] for e in res["_runner"].events}


def test_manifest_counts_equal_spark_recount(spark, tmp_path):
    """Footer-derived ``partitions``/``rows_out`` equal a Spark
    groupBy(input_file_name) recount of every stage: the bucketed KG
    stages, the plain one, and curation's partition_by stage (whose part
    files sit in split=<value>/ subdirectories). Resumed events carry the
    same rows_out."""
    from pg_iui_ner_api_spark.plans.curation import run_curation_pipeline

    kg_wd = str(tmp_path / "kg")
    docs = synth.synth_documents(spark, N, partitions=2)
    r1 = run_kg_pipeline(spark, docs, workdir=kg_wd, input_fingerprint="fp")
    cur_wd = str(tmp_path / "cur")
    texts = spark.createDataFrame(
        [(i, f"document {i} about window functions shuffle plans and "
             f"query engines number {i * 7}", "en") for i in range(40)],
        "doc_id long, text string, lang string",
    )
    c1 = run_curation_pipeline(spark, texts, workdir=cur_wd,
                               input_fingerprint="fp", n_buckets=4)

    for wd, res in ((kg_wd, r1), (cur_wd, c1)):
        metas = _manifests(wd)
        assert set(metas) == set(_rows_out(res))
        for stage, meta in metas.items():
            want = _spark_recount(spark, os.path.join(wd, stage))
            files = [p["file"] for p in meta["partitions"]]
            assert len(set(files)) == len(files), stage
            assert {p["file"]: p["rows"] for p in meta["partitions"]} == want, stage
            assert meta["rows_out"] == sum(want.values()) > 0, stage
            assert _rows_out(res)[stage] == meta["rows_out"], stage
    curated = _manifests(cur_wd)["curated"]["partitions"]
    assert all(p["file"].startswith("split=") for p in curated)
    assert len({p["file"].split("/")[0] for p in curated}) > 1

    r2 = run_kg_pipeline(spark, docs, workdir=kg_wd, input_fingerprint="fp")
    assert set(_events(r2).values()) == {"resumed"}
    assert _rows_out(r2) == _rows_out(r1)
    c2 = run_curation_pipeline(spark, texts, workdir=cur_wd,
                               input_fingerprint="fp", n_buckets=4)
    assert _rows_out(c2) == _rows_out(c1)


def test_resumed_rows_out_counts_files_on_disk(spark, tmp_path):
    """A resumed stage counts the files it reloads, not the manifest: a
    part file lost after the run lowers the resumed rows_out, and the
    re-registered table agrees with it."""
    from pg_iui_ner_api_spark.plans.lineage import StageRunner

    wd = str(tmp_path / "wd")

    def build():
        return spark.range(0, 400, numPartitions=4)

    r1 = StageRunner(spark, wd, input_fingerprint="fp")
    r1.stage("s", build, bucket_by="id", n_buckets=4)
    assert r1.events[-1]["rows_out"] == 400
    out = os.path.join(wd, "s")
    victim = next(f for f in sorted(os.listdir(out)) if f.endswith(".parquet"))
    lost = dict(_spark_recount(spark, out))[victim]
    os.remove(os.path.join(out, victim))
    spark.sql(f"DROP TABLE {r1._table_name('s')}")

    r2 = StageRunner(spark, wd, input_fingerprint="fp")
    df = r2.stage("s", build, bucket_by="id", n_buckets=4)
    assert r2.events[-1]["action"] == "resumed"
    assert r2.events[-1]["rows_out"] == 400 - lost < 400
    assert df.count() == 400 - lost


def test_empty_corpus_counts_zero(spark, tmp_path):
    wd = str(tmp_path / "wd")
    docs = synth.synth_documents(spark, 0, partitions=1)
    res = run_kg_pipeline(spark, docs, workdir=wd, input_fingerprint="empty")
    assert set(_rows_out(res).values()) == {0}
    for meta in _manifests(wd).values():
        assert meta["rows_out"] == 0 and meta["partitions"] == []


def test_workdir_stage_runs_no_job_after_write(spark, tmp_path):
    """Counting a stage launches no Spark job: a workdir stage() runs
    exactly the jobs of the bare write (plus, for a plain stage, the
    bare re-read of the files it returns)."""
    import uuid

    from pg_iui_ner_api_spark.plans.lineage import StageRunner

    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]

    def n_jobs(group, fn):
        group = f"{group}-{tag}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def frame():
        return spark.range(0, 1000, numPartitions=4).selectExpr("id", "id % 7 AS k")

    bare_table = f"bare_{tag}"
    bare_bucketed = n_jobs("bare-bucketed", lambda: (
        frame().repartition(4, "k").write.mode("overwrite")
        .option("path", str(tmp_path / "bare_b"))
        .bucketBy(4, "k").sortBy("k").saveAsTable(bare_table)
    ))
    spark.sql(f"DROP TABLE {bare_table}")
    bare_plain = n_jobs("bare-plain", lambda: (
        frame().write.parquet(str(tmp_path / "bare_p")),
        spark.read.parquet(str(tmp_path / "bare_p")),
    ))
    runner = StageRunner(spark, str(tmp_path / "wd"), input_fingerprint="fp")
    staged_bucketed = n_jobs("staged-bucketed", lambda: runner.stage(
        "b", frame, bucket_by="k", n_buckets=4))
    staged_plain = n_jobs("staged-plain", lambda: runner.stage("p", frame))
    assert staged_bucketed == bare_bucketed >= 1
    assert staged_plain == bare_plain >= 1
    assert [e["rows_out"] for e in runner.events] == [1000, 1000]
