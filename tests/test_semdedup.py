"""Pins for SemDeDup (operators/semdedup.py) and the HLL sketch rollup
(operators/sketch_rollup.py).
"""

from __future__ import annotations

import pytest

import numpy as np

from pyspark.sql import functions as F

from covid_weather_etl_spark.operators.semdedup import SEM_TAU
from covid_weather_etl_spark.queries.registry import all_queries
from tests.conftest import SF_DIR

QUERIES = all_queries()


@pytest.mark.slow
def test_semdedup_invariants_on_corpus(spark):
    df = QUERIES["semantic_dedup"].fn(spark, SF_DIR).cache()
    try:
        rows = df.collect()
        n = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
        assert len(rows) == n                      # partition of the corpus
        kept = {r["vec_id"] for r in rows if r["keep"]}
        for r in rows:
            if r["keep"]:
                assert r["dup_of"] == -1
            else:
                # every dropped vector points at a KEPT, LOWER id
                assert r["dup_of"] in kept and r["dup_of"] < r["vec_id"]
        assert df.collect() == QUERIES["semantic_dedup"].fn(
            spark, SF_DIR).collect()               # deterministic
    finally:
        df.unpersist()


@pytest.mark.slow
def test_semdedup_drops_planted_duplicates(spark, tmp_path):
    """3 tight semantic groups × 30 near-identical vectors (ids
    round-robin across groups so group = vec_id % 3): the corpus must
    collapse massively, every drop must point at a SAME-GROUP keeper
    (cross-group cosine is ~0 ≪ SEM_TAU), and keepers within a cell
    must be pairwise dissimilar. A group split across cell boundaries
    may keep one representative per cell — the documented SemDeDup
    trade-off — so the pin is ≤ one keeper per (group, cell), not
    exactly one per group."""
    from covid_weather_etl_spark.functions.artifacts import discard
    from covid_weather_etl_spark.operators.similarity import (
        ivf_codebook_path)

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(3, 64)) * 4.0
    rows = []
    for vid in range(90):
        c = centers[vid % 3]
        v = c + rng.normal(size=64) * 0.01
        rows.append((vid, [float(x) for x in v], 0))
    d = tmp_path / "sfsem"
    d.mkdir()
    (spark.createDataFrame(rows, schema="vec_id long, embedding array<float>,"
                                        " label int")
     .coalesce(1).write.parquet(str(d / "embeddings.parquet")))
    discard(ivf_codebook_path(str(d)))  # train on this corpus, not a memo
    out = QUERIES["semantic_dedup"].fn(spark, str(d)).collect()
    kept = [r for r in out if r["keep"]]
    # massive collapse: at most one keeper per (group, cell) — 8 cells
    # bound keeps at 24, and in practice far fewer
    per_gc = {}
    for r in kept:
        gc = (r["vec_id"] % 3, r["cell"])
        assert gc not in per_gc, f"two keepers in one group+cell: {r}"
        per_gc[gc] = r["vec_id"]
    assert 3 <= len(kept) <= 24
    assert len(kept) < 30                      # did actually deduplicate
    for r in out:
        if not r["keep"]:
            assert r["dup_of"] % 3 == r["vec_id"] % 3   # same group
            assert r["dup_of"] < r["vec_id"]


def test_hll_rollup_envelope_and_lossless_merge(spark):
    """The registered query goes through the DAILY register layer; a
    direct one-shot monthly build of the same portable sketch must be
    bit-equal (register MAX is associative — lossless merge), the
    estimate must sit in the p=12 envelope of exact, and the native
    DataSketches layer (daily_user_sketches) must land in the same
    envelope — pinning the portable and production paths together."""
    from pyspark.sql import functions as F

    from covid_weather_etl_spark.operators import sketch_rollup as SR
    from covid_weather_etl_spark.sources.catalog import load_tables

    rows = QUERIES["hll_monthly_rollup"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["rel_err"] <= 0.05, r
        assert abs(r["hll_users"] - r["exact_users"]) \
            <= max(2.0, 0.05 * r["exact_users"]), r
        assert r["exact_users"] > 0 and r["n_events"] > 0

    ev = load_tables(spark, SF_DIR, ("events",))["events"]
    # one-shot monthly portable sketch == via-daily (lossless merge)
    bucket, rho = SR.hll_register_cols(F.col("user_id"))
    oneshot = (ev.select(F.date_trunc("month", "ts").alias("month"),
                         bucket.alias("bucket"), rho.alias("rho"))
               .groupBy("month", "bucket").agg(F.max("rho").alias("mx")))
    est = {r["month"]: r["hll_est"]
           for r in SR.hll_estimate(oneshot, ["month"]).collect()}
    for r in rows:
        import math
        assert math.isclose(r["hll_users"], est[r["month"]],
                            rel_tol=0, abs_tol=1e-6), r
    # native DataSketches layer stays inside the same envelope
    merged = (SR.daily_user_sketches(ev)
              .groupBy(F.date_trunc("month", "day").alias("month"))
              .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
                   .alias("ds_est")).collect())
    exact = {r["month"]: r["exact_users"] for r in rows}
    for m in merged:
        assert abs(m["ds_est"] - exact[m["month"]]) \
            <= max(2.0, 0.05 * exact[m["month"]]), m
