"""Product-quantization operator (operators/pq.py).

Three gates, strongest first:

  1. EXACTNESS pin: when every subvector appears verbatim in its
     codebook the reconstruction is the vector itself, so ``pq_topk``
     must equal ``brute_force_topk`` row for row (same ranking
     contract). This checks the ADC algebra (slicing, code argmin,
     rnorm, LUT sum) with no approximation slack to hide behind.
  2. RECALL gate on clustered vectors with TRAINED codebooks vs the
     exact brute force — the approximation quality claim.
  3. Plan pin: ``pq_encode`` is map-only (no Exchange) — vectors never
     shuffle to get compressed.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pg_iui_ner_api_spark.operators import ann, pq

DIM = 8
M = 4


def _vec_df(spark, vecs):
    from pg_iui_ner_api_spark.synth import local_dim_df

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return local_dim_df(spark, rows, "vec_id int, embedding array<float>")


def test_pq_exact_when_codebook_covers(spark):
    # 6 vectors built from 2 distinct subvectors per subspace -> pass
    # those exact subvectors as the codebooks (padded with seeds).
    rng = np.random.default_rng(7)
    parts = [rng.normal(size=(2, DIM // M)) for _ in range(M)]
    vecs = []
    for a in range(2):
        for b in range(2):
            v = np.concatenate([parts[0][a], parts[1][b], parts[2][a], parts[3][b]])
            vecs.append(v)
    vecs.append(np.concatenate([p[0] for p in parts]))
    vecs.append(np.concatenate([p[1] for p in parts]))
    books = pq.seed_codebooks(DIM, M, ksub=4)
    for j in range(M):
        books[j][0] = [float(x) for x in parts[j][0]]
        books[j][1] = [float(x) for x in parts[j][1]]
    df = _vec_df(spark, vecs)
    q = df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    got = {
        (r["q_id"], r["rank"]): (r["vec_id"], r["acos"])
        for r in pq.pq_search(df, q, DIM, k=3, m=M, ksub=4, codebooks=books).collect()
    }
    want = {
        (r["q_id"], r["rank"]): (r["vec_id"], r["cos"])
        for r in ann.brute_force_topk(df, q, k=3).collect()
    }
    assert set(got) == set(want)
    for key, (vid, acos) in got.items():
        wvid, wcos = want[key]
        assert vid == wvid, f"{key}: pq ranked {vid}, exact ranked {wvid}"
        assert acos == pytest.approx(wcos, abs=2e-6)


def test_pq_rnorm_matches_reconstruction(spark):
    books = pq.seed_codebooks(DIM, M, ksub=4)
    rng = np.random.default_rng(3)
    df = _vec_df(spark, rng.normal(size=(10, DIM)))
    enc = pq.pq_encode(df, DIM, M, ksub=4, codebooks=books).collect()
    for r in enc:
        recon = np.concatenate([books[j][r["code"][j]] for j in range(M)])
        assert r["rnorm"] == pytest.approx(float(np.linalg.norm(recon)), rel=1e-9)
        assert len(r["code"]) == M


def test_pq_trained_recall_on_clusters(spark):
    # 8 well-separated cluster centers, 10 points each: after training,
    # PQ@10 must recover most of the exact top-10 (intra-cluster
    # neighbors share codes, so ADC ranks them first).
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, DIM)) * 4.0
    vecs = np.concatenate(
        [c + rng.normal(scale=0.15, size=(10, DIM)) for c in centers]
    )
    df = _vec_df(spark, vecs)
    books = pq.train_pq_codebooks(df, DIM, m=M, ksub=8, iters=4)
    q = df.where(F.col("vec_id").isin(0, 10, 20)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    approx = pq.pq_search(df, q, DIM, k=10, m=M, ksub=8, codebooks=books)
    exact = ann.brute_force_topk(df, q, k=10)
    a = {(r["q_id"], r["vec_id"]) for r in approx.collect()}
    e = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.8, f"trained-PQ recall@10 = {recall:.2f}"


def test_pq_encode_plan_is_map_only(spark):
    # range source (already >= one partition per core, so spread is a
    # no-op): the encode plan must contain no Exchange — compression is
    # a pure projection riding the scan.
    vecs = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 7).cast("float") for i in range(DIM)]).alias("embedding"),
    )
    plan = pq.pq_encode(vecs, DIM, M, ksub=4)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
