"""Semantic pins for the DQ constraint suite (operators/dq.py) and the
SCD2 merge (operators/scd.py) beyond DuckDB parity: the report actually
catches planted violations, and the version timeline obeys the SCD2
invariants (one current row per key, contiguous effective ranges,
as-of state equals the pre-update dimension).
"""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from covid_weather_etl_spark.queries.registry import all_queries
from tests.conftest import SF_DIR

QUERIES = all_queries()


def test_dq_clean_data_passes(spark):
    rows = {(r["tbl"], r["check_name"]): r
            for r in QUERIES["dq_constraint_report"].fn(spark, SF_DIR).collect()}
    assert len(rows) == 10
    assert all(r["status"] == "pass" and r["violations"] == 0
               for r in rows.values()), rows


def test_dq_catches_planted_violations(spark, tmp_path):
    """Corrupt a copy of the testdata (null FK, duplicated PK, orphan
    order, bad enum value) and assert each constraint flips to fail
    with the exact violation count."""
    d = tmp_path / "sf_corrupt"
    d.mkdir()
    for t in ("events", "customer"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    first = o.limit(1)
    corrupt = (
        o
        # 1 duplicated o_orderkey row (also duplicates nothing else checked)
        .unionAll(first)
        # 2 rows with null custkey (null is not an orphan — NOT IN semantics)
        .unionAll(first.withColumn("o_custkey", F.lit(None).cast("bigint"))
                       .withColumn("o_orderkey", F.lit(-1)))
        .unionAll(first.withColumn("o_custkey", F.lit(None).cast("bigint"))
                       .withColumn("o_orderkey", F.lit(-2)))
        # 1 orphan custkey + bad status + non-positive price
        .unionAll(first.withColumn("o_custkey", F.lit(10**12))
                       .withColumn("o_orderkey", F.lit(-3))
                       .withColumn("o_orderstatus", F.lit("X"))
                       .withColumn("o_totalprice", F.lit(-5.0)))
    )
    corrupt.coalesce(1).write.parquet(str(d / "orders.parquet"))
    rows = {r["check_name"]: r for r in
            QUERIES["dq_constraint_report"].fn(spark, str(d)).collect()
            if r["tbl"] == "orders"}
    assert rows["completeness:o_custkey"]["violations"] == 2
    # the -1/-2/-3 keys are unique; only the verbatim duplicate counts
    assert rows["uniqueness:o_orderkey"]["violations"] == 1
    assert rows["range:o_totalprice>0"]["violations"] == 1
    assert rows["membership:o_orderstatus"]["violations"] == 1
    assert rows["referential:o_custkey->customer"]["violations"] == 1
    assert all(r["status"] == "fail" for r in rows.values())


def test_scd2_timeline_invariants(spark):
    df = QUERIES["scd2_dim_history"].fn(spark, SF_DIR).cache()
    try:
        per_key = (df.groupBy("c_custkey").agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_current").cast("int")).alias("n_current"),
            F.max("version").alias("max_v")))
        # exactly one current row per key
        assert per_key.filter(F.col("n_current") != 1).count() == 0
        # changed keys (custkey % 7 == 0) have 2 versions, others 1
        assert per_key.filter(
            (F.col("c_custkey") % 7 == 0) & (F.col("n") != 2)).count() == 0
        assert per_key.filter(
            (F.col("c_custkey") % 7 != 0) & (F.col("n") != 1)).count() == 0
        # contiguity: closed row's valid_to == successor's valid_from
        closed = df.filter(~F.col("is_current")).select(
            "c_custkey", F.col("valid_to").alias("vt"))
        opened = df.filter(F.col("is_current") & (F.col("version") == 2)) \
                   .select(F.col("c_custkey").alias("k2"),
                           F.col("valid_from").alias("vf"))
        joined = closed.join(opened, F.col("c_custkey") == F.col("k2"))
        assert joined.count() == closed.count()
        assert joined.filter(F.col("vt") != F.col("vf")).count() == 0
        # current rows are open-ended
        assert df.filter(F.col("is_current")
                         & F.col("valid_to").isNotNull()).count() == 0
    finally:
        df.unpersist()


def test_scd2_asof_matches_pre_update_dimension(spark):
    """As-of 1999-12-31 (before the update batch) the segment counts
    must equal the raw customer table's distribution."""
    got = {r["segment"]: r["n_customers"] for r in
           QUERIES["scd2_point_in_time"].fn(spark, SF_DIR).collect()}
    want = {r["c_mktsegment"]: r["n"] for r in
            spark.read.parquet(f"{SF_DIR}/customer.parquet")
            .groupBy("c_mktsegment").agg(F.count("*").alias("n")).collect()}
    assert got == want


def test_benford_profile_shares_sum_to_one(spark, duck):
    """Digit shares partition the rows; benford column equals the
    closed form; deviation = observed - benford."""
    import math
    from covid_weather_etl_spark.queries.registry import all_queries
    pdf = all_queries()["benford_digit_profile"].fn(spark, SF_DIR).toPandas()
    assert set(pdf.digit) <= set(range(1, 10))
    n_orders = duck.execute(
        "SELECT COUNT(*) FROM orders WHERE o_totalprice > 0").fetchone()[0]
    assert pdf.n.sum() == n_orders
    assert abs(pdf.observed.sum() - 1.0) < 1e-4
    for r in pdf.itertuples():
        assert abs(r.benford - round(math.log10(1 + 1 / r.digit), 6)) < 1e-9
        assert abs(r.deviation - round(r.observed - r.benford, 6)) < 2e-6
