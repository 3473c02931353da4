"""Semantic pins for the relational extension pack
(operators/relational_ext.py) beyond the DuckDB parity check: set-op
algebra holds (intersect ∩ except = ∅, intersect ∪ except = 1996
buyers), the correlated subquery's predicates are individually true of
every surviving row, ranking outputs live in their mathematical
ranges, and the RANGE frame handles calendar gaps by value.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from covid_weather_etl_spark.queries.registry import all_queries
from covid_weather_etl_spark.sources.catalog import load_tables
from tests.conftest import SF_DIR

QUERIES = all_queries()


def _buyers(spark, lo, hi):
    t = load_tables(spark, SF_DIR, ("orders",))
    return {r[0] for r in
            t["orders"].filter((F.col("o_orderdate") >= lo)
                               & (F.col("o_orderdate") < hi))
            .select("o_custkey").distinct().collect()}


def test_setops_partition_the_1996_buyers(spark):
    both = {r["c_custkey"] for r in
            QUERIES["repeat_buyers_intersect"].fn(spark, SF_DIR).collect()}
    lapsed = {r["c_custkey"] for r in
              QUERIES["lapsed_buyers_except"].fn(spark, SF_DIR).collect()}
    y1 = _buyers(spark, "1996-01-01", "1997-01-01")
    y2 = _buyers(spark, "1997-01-01", "1998-01-01")
    assert both and lapsed            # both routes exercised at this SF
    assert both & lapsed == set()     # disjoint
    assert both | lapsed == y1        # cover exactly the 1996 buyers
    assert both == y1 & y2
    assert lapsed == y1 - y2


def test_correlated_subquery_predicates_hold(spark):
    rows = QUERIES["correlated_subquery_orders"].fn(spark, SF_DIR).collect()
    assert rows
    t = load_tables(spark, SF_DIR, ("orders",))
    means = {r["o_custkey"]: r["mean"] for r in
             t["orders"].groupBy("o_custkey")
             .agg((F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
                   / F.count("*")).cast("double").alias("mean")).collect()}
    pending = {r[0] for r in t["orders"]
               .filter(F.col("o_orderstatus") == "P")
               .select("o_custkey").distinct().collect()}
    for r in rows:
        assert r["o_totalprice"] > 1.5 * means[r["o_custkey"]], r
        assert r["o_custkey"] not in pending, r


def test_ranking_outputs_in_range(spark):
    df = QUERIES["decile_rank_customers"].fn(spark, SF_DIR)
    bad = df.filter(
        ~F.col("revenue_decile").between(1, 10)
        | ~F.col("pct_rank").between(0.0, 1.0)
        | ~F.col("cume").between(0.0, 1.0)
        | (F.col("cume") <= 0.0)).count()
    assert bad == 0
    # every nation's top customer has pct_rank exactly 0
    tops = (df.groupBy("n_name").agg(F.min("pct_rank").alias("lo"))
            .filter(F.col("lo") != 0.0).count())
    assert tops == 0


def test_range_frame_spans_values_not_rows(spark):
    """trailing_30d_rev must equal the sum of daily_rev over day_num in
    [d-29, d] — recomputed independently via a self-join."""
    df = QUERIES["range_frame_revenue"].fn(spark, SF_DIR).cache()
    try:
        a = df.select("n_name", "day_num", "trailing_30d_rev")
        b = df.select(F.col("n_name").alias("n2"),
                      F.col("day_num").alias("d2"),
                      F.col("daily_rev").alias("r2"))
        recomputed = (a.join(b, (F.col("n_name") == F.col("n2"))
                             & F.col("d2").between(F.col("day_num") - 29,
                                                   F.col("day_num")))
                      .groupBy("n_name", "day_num", "trailing_30d_rev")
                      .agg(F.round(F.sum(F.col("r2").cast("decimal(25,6)")), 4)
                           .cast("double").alias("expect")))
        diff = recomputed.filter(
            F.abs(F.col("trailing_30d_rev") - F.col("expect")) > 1e-6).count()
        assert diff == 0
    finally:
        df.unpersist()


def test_join_size_estimate_matches_python_and_is_unbiased_shape(spark):
    """hashlib replay of the exact Σf² and the key-sampled estimate;
    the actual must equal the true self-join row count."""
    import hashlib

    import pandas as pd

    from covid_weather_etl_spark.operators.relational_ext import (
        JOINEST_RATE, join_size_estimate,
    )

    got = {r["join_key"]: r.asDict()
           for r in join_size_estimate(spark, SF_DIR).collect()}

    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    od = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    for key, col in (("l_partkey", li.l_partkey),
                     ("l_suppkey", li.l_suppkey),
                     ("o_custkey", od.o_custkey)):
        f = col.value_counts()
        actual = int((f ** 2).sum())
        est = JOINEST_RATE * int(sum(
            c * c for k, c in f.items()
            if int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
            % JOINEST_RATE == 0))
        g = got[key]
        assert g["actual_pairs"] == actual, key
        assert g["estimated_pairs"] == est, key
        # rel_err is the 1e-6-grid image of (est-actual)/actual
        assert abs(g["rel_err"]
                   - (est - actual) / actual) < 2e-6, key
