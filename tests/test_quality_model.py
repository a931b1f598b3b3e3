"""Hashed-BoW linear quality classifier (operators/quality_model.py).

Scoring parity vs DuckDB is the driver query ``quality_model_score``;
here: the training loop actually LEARNS (separable corpus -> correct
side of 0.5 for every doc + falling loss), determinism, the
empty/NULL-document bias contract, and the map-only scoring plan pin.
"""

import math

from pyspark.sql import functions as F

from pg_iui_ner_api_spark.operators import quality_model as QM
from pg_iui_ner_api_spark.synth import local_dim_df


def _labeled(spark):
    good = [
        "the quick brown fox jumps over the lazy dog",
        "a clear well written paragraph about science",
        "careful analysis of the quick experiment results",
        "the lazy dog sleeps while the fox jumps",
        "well written science analysis of the experiment",
    ]
    spam = [
        "buy cheap pills now click here winner",
        "click now cheap winner free pills here",
        "free free free click buy now cheap",
        "winner winner click here buy pills",
        "cheap pills free now buy click",
    ]
    rows = [(i, t, 1) for i, t in enumerate(good)] + [
        (100 + i, t, 0) for i, t in enumerate(spam)
    ]
    return local_dim_df(spark, rows, "doc_id int, text string, label int")


def test_train_separates_classes(spark):
    df = _labeled(spark)
    w, b = QM.train_quality_model(df, buckets=64, iters=25, lr=4.0)
    scored = QM.score_documents(df, w, b).join(
        df.select("doc_id", "label"), "doc_id"
    )
    rows = scored.collect()
    for r in rows:
        if r["label"] == 1:
            assert r["prob"] > 0.5, f"good doc {r['doc_id']} scored {r['prob']}"
        else:
            assert r["prob"] < 0.5, f"spam doc {r['doc_id']} scored {r['prob']}"


def test_train_reduces_log_loss(spark):
    df = _labeled(spark)
    w0, b0 = QM.seed_weights(64), 0.0
    w1, b1 = QM.train_quality_model(df, buckets=64, iters=25, lr=4.0)

    def loss(w, b):
        s = QM.score_documents(df, w, b).join(df.select("doc_id", "label"), "doc_id")
        tot = 0.0
        for r in s.collect():
            p = min(max(r["prob"], 1e-9), 1 - 1e-9)
            tot += -(r["label"] * math.log(p) + (1 - r["label"]) * math.log(1 - p))
        return tot

    assert loss(w1, b1) < loss(w0, b0) * 0.5


def test_train_deterministic(spark):
    df = _labeled(spark)
    a = QM.train_quality_model(df, buckets=32, iters=5, lr=1.0)
    b = QM.train_quality_model(df, buckets=32, iters=5, lr=1.0)
    assert a == b


def test_empty_and_null_docs_score_bias(spark):
    df = spark.sql(
        "SELECT * FROM VALUES (1, CAST(NULL AS STRING)), (2, ''), (3, '   ') "
        "AS t(doc_id, text)"
    )
    got = {r["doc_id"]: r["logit"] for r in
           QM.score_documents(df, QM.seed_weights(16), bias=0.25).collect()}
    assert got == {1: 0.25, 2: 0.25, 3: 0.25}


def test_score_plan_is_map_only(spark):
    # range source (>= one partition per core, so spread is a no-op):
    # scoring with the weights folded in is a pure projection.
    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok"), (F.col("id") % 13).cast("string"),
                 F.lit(" word "), (F.col("id") % 7).cast("string")).alias("text"),
    )
    plan = (
        QM.score_documents(docs, QM.seed_weights(16))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
