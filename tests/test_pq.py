"""Product quantization ANN (similarity.py PQ section): codebook
training determinism, ADC-table-vs-numpy parity, residual IVF-PQ recall,
and the broadcast/shuffle plan shape."""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from voluptuous_spark.similarity import (
    brute_force_topk,
    default_n_clusters,
    ivf_centroids,
    ivf_pq_topk,
    pq_codebooks,
    pq_encode,
    pq_query_table,
)

DIM, N, N_CENTERS = 16, 600, 12


@pytest.fixture(scope="module")
def clustered(spark):
    rng = random.Random(7)
    centers = [[rng.gauss(0, 1) for _ in range(DIM)]
               for _ in range(N_CENTERS)]
    rows = [
        (i, [x + rng.gauss(0, 0.15) for x in centers[i % N_CENTERS]])
        for i in range(N)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def queries(clustered):
    return clustered.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


@pytest.fixture(scope="module")
def books(clustered):
    return pq_codebooks(clustered, DIM, m=4, ksub=8, iters=2)


@pytest.fixture(scope="module")
def centroids(clustered):
    return ivf_centroids(clustered, DIM, k=default_n_clusters(N), iters=2)


def test_codebook_shape_and_determinism(clustered, books):
    assert len(books) == 4
    assert all(len(b) == 8 for b in books)
    assert all(len(comp) == DIM // 4 for b in books for _c, comp in b)
    again = pq_codebooks(clustered, DIM, m=4, ksub=8, iters=2)
    assert books == again  # bit-for-bit reproducible training


def test_encode_shape(clustered, books):
    enc = pq_encode(clustered, books)
    assert enc.columns == ["vec_id", "code", "rnorm"]
    row = enc.agg(
        F.max(F.array_max("code")).alias("mx"),
        F.min(F.array_min("code")).alias("mn"),
        F.min(F.size("code")).alias("m"),
        F.min("rnorm").alias("rn"),
    ).collect()[0]
    assert row["m"] == 4 and row["mn"] >= 0 and row["mx"] < 8
    assert row["rn"] > 0


def test_adc_matches_numpy_reconstruction(clustered, queries, books):
    """ADC: summing the query's lookup table at a vector's codes gives
    exactly dot(q, x_hat), where x_hat is the codebook reconstruction
    and ``rnorm`` its norm — verified against numpy to 1e-9."""
    enc = {r["vec_id"]: (r["code"], r["rnorm"]) for r in
           pq_encode(clustered, books).limit(50).collect()}
    qs = {
        r["query_id"]: (np.array(r["embedding"]), r["qtab"])
        for r in queries.select(
            "query_id", "embedding",
            pq_query_table(F.col("embedding"), books).alias("qtab"),
        ).collect()
    }
    cb = [
        {c: np.array(comp) for c, comp in book} for book in books
    ]
    for vid, (code, rnorm) in enc.items():
        x_hat = np.concatenate([cb[j][code[j]] for j in range(4)])
        assert abs(rnorm - np.linalg.norm(x_hat)) < 1e-9, vid
        for qid, (q, qtab) in qs.items():
            adc = sum(qtab[j][code[j]] for j in range(4))
            assert abs(adc - float(q @ x_hat)) < 1e-9, (qid, vid)


def test_ivf_pq_topk_recall(clustered, queries, centroids):
    """Residual IVF-PQ keeps recall@5 against the exact top-k."""
    exact = {}
    for r in brute_force_topk(clustered, queries, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(
            len(got.get(k, set()) & v) / len(v) for k, v in exact.items()
        ) / len(exact)

    res = recall(
        ivf_pq_topk(clustered, queries, DIM, k=5, n_probe=4, m=8,
                    ksub=16, centroids=centroids)
    )
    assert res >= 0.6


def test_self_hit_rank_one(clustered, queries, centroids):
    """A query that IS a corpus vector must retrieve itself first."""
    got = {r["query_id"]: r["vec_id"] for r in
           ivf_pq_topk(clustered, queries, DIM, k=1, n_probe=4, m=8,
                       ksub=16, centroids=centroids).collect()}
    assert sum(1 for k, v in got.items() if k == v) >= 8  # of 10


def test_plan_broadcast_and_single_shuffle(clustered, queries, centroids):
    """The compressed corpus never shuffles: the query side (with ADC
    tables) broadcasts and the ONLY exchange is the top-k window."""
    plan = (
        ivf_pq_topk(clustered, queries, DIM, k=5, n_probe=4, m=8,
                    ksub=16, centroids=centroids)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastExchange" in plan
    assert plan.count("Exchange hashpartitioning") == 1
