"""ANN variants vs exact brute force: recall floors and determinism."""

import pytest
from pyspark.sql import functions as F

from xs_vlm_ocr_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    lsh_cosine_topk,
)

DIM = 64
SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def exact(emb):
    q = emb.filter(F.col("vec_id") < 10)
    return {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, q, k=10).collect()
    }


def _recall(approx_rows, exact_pairs):
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    return len(approx & exact_pairs) / len(exact_pairs)


def test_exact_topk_shape(exact):
    assert len(exact) == 100  # 10 queries x k=10


def test_lsh_recall_and_monotonicity(spark, emb, exact):
    q = emb.filter(F.col("vec_id") < 10)
    r4 = _recall(lsh_cosine_topk(emb, q, dim=DIM, k=10, n_planes=4).collect(), exact)
    r2 = _recall(lsh_cosine_topk(emb, q, dim=DIM, k=10, n_planes=2).collect(), exact)
    assert r2 >= r4  # fewer planes -> bigger buckets -> recall up
    assert r2 >= 0.25  # sane floor on random data
    assert r4 > 0


def test_ivf_recall_and_monotonicity(spark, emb, exact):
    q = emb.filter(F.col("vec_id") < 10)
    r_all = _recall(
        ivf_topk(emb, q, dim=DIM, k=10, n_cells=8, nprobe=8).collect(), exact
    )
    r_half = _recall(
        ivf_topk(emb, q, dim=DIM, k=10, n_cells=8, nprobe=4).collect(), exact
    )
    assert r_all == 1.0  # nprobe == n_cells is exact
    assert 0 < r_half <= r_all


def test_ivf_deterministic(spark, emb):
    q = emb.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, ivf_topk(emb, q, dim=DIM, nprobe=2).collect()))
    b = sorted(map(tuple, ivf_topk(emb.repartition(7), q, dim=DIM, nprobe=2).collect()))
    assert a == b

