"""Pins for product quantization (operators/pq.py): deterministic
training, code validity, quantization-error contraction, and — on data
that actually has neighborhood structure (planted clusters; the driver
corpus is uniform random, where no quantizer can separate tiny
distance gaps) — full recall of the planted neighbors through the
ADC + re-rank pipeline.
"""

from __future__ import annotations

import pytest

import numpy as np

from pyspark.sql import functions as F

from covid_weather_etl_spark.operators.pq import (
    PQ_C, PQ_M, SUB, _codebook_tensor, encode_pq, ensure_pq_codebook,
    train_pq_codebook,
)
from covid_weather_etl_spark.operators.similarity import _vecs
from covid_weather_etl_spark.queries.registry import all_queries
from tests.conftest import SF_DIR

QUERIES = all_queries()


def _emb(spark, sf_dir=SF_DIR):
    return _vecs(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def test_training_is_deterministic(spark):
    a = train_pq_codebook(_emb(spark)).collect()
    b = train_pq_codebook(_emb(spark)).collect()
    key = lambda r: (r["sub_id"], r["code"])
    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        assert ra["sub_id"] == rb["sub_id"] and ra["code"] == rb["code"]
        assert np.allclose(ra["cv"], rb["cv"])
    assert len(a) == PQ_M * PQ_C


def test_codes_valid_and_deterministic(spark):
    rows = ensure_pq_codebook(spark, SF_DIR)
    coded = encode_pq(_emb(spark), rows).select("vec_id", "codes")
    got = {r["vec_id"]: r["codes"] for r in coded.collect()}
    again = {r["vec_id"]: r["codes"] for r in coded.collect()}
    assert got == again
    for codes in got.values():
        assert len(codes) == PQ_M
        assert all(0 <= c < PQ_C for c in codes)


def test_trained_codebook_beats_naive_quantizer(spark):
    """Mean reconstruction error of the trained codebook must beat the
    no-training baseline (centroids = first C subvectors, i.e. Lloyd
    iteration zero)."""
    rows = ensure_pq_codebook(spark, SF_DIR)
    CB = _codebook_tensor(rows)
    emb = _emb(spark).select("vec_id", "v").collect()
    X = np.stack([np.asarray(r["v"]) for r in
                  sorted(emb, key=lambda r: r["vec_id"])])
    Xs = X.reshape(len(X), PQ_M, SUB)
    naive = np.stack([Xs[:PQ_C, m, :] for m in range(PQ_M)])  # (M, C, SUB)

    def recon_err(CBt):
        d2 = ((Xs[:, :, None, :] - CBt[None]) ** 2).sum(-1)   # (n, M, C)
        return d2.min(-1).sum(-1).mean()

    # uniform random data bounds how much Lloyd can help; measured
    # contraction here is ~0.72× — pin a margin safely above it
    assert recon_err(CB) < 0.9 * recon_err(naive)


@pytest.mark.slow
def test_planted_clusters_fully_recalled(spark, tmp_path):
    """40 tight clusters × 25 points: the query point's top-5 must all
    come from its own cluster, found through the ADC shortlist."""
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(40, 64)) * 5.0
    vecs, ids = [], []
    vid = 0
    for c in centers:
        for _ in range(25):
            vecs.append((c + rng.normal(size=64) * 0.05).astype("float32"))
            ids.append(vid)
            vid += 1
    d = tmp_path / "sfp"
    d.mkdir()
    pdf = [(int(i), [float(x) for x in v], 0) for i, v in zip(ids, vecs)]
    (spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>, "
                                       "label int")
     .coalesce(1).write.parquet(str(d / "embeddings.parquet")))
    # the artifact is keyed by full corpus path + content (unique per
    # tmp_path), so this reset is belt-and-braces only
    from covid_weather_etl_spark.functions.artifacts import discard
    from covid_weather_etl_spark.operators.pq import pq_codebook_path
    discard(pq_codebook_path(str(d)))
    top = QUERIES["pq_ann_topk"].fn(spark, str(d)).collect()
    assert len(top) == 5
    # vec_id 0 belongs to cluster 0 = ids 1..24 (0 itself is excluded)
    assert all(1 <= r["vec_id"] <= 24 for r in top), top
    # re-ranked distances are the exact ones, ascending
    dists = [r["l2_dist"] for r in top]
    assert dists == sorted(dists)
