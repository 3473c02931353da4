"""Semantic pins for ewma_smoothing and cusum_changepoint beyond the
DuckDB parity check: the recurrence matches an independent pandas
recomputation, and the CUSUM pick is the true argmax of |S_t| with a
planted mean shift recovered on synthetic data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from covid_weather_etl_spark.operators.timeseries import ALPHA
from covid_weather_etl_spark.queries.registry import all_queries
from tests.conftest import SF_DIR

QUERIES = all_queries()


def test_ewma_matches_independent_recurrence(spark):
    pdf = (QUERIES["ewma_smoothing"].fn(spark, SF_DIR).toPandas()
           .sort_values(["priority", "month"]).reset_index(drop=True))
    assert len(pdf) > 0
    for _, g in pdf.groupby("priority"):
        x = g["rev"].to_numpy()
        y = np.empty_like(x)
        y[0] = x[0]
        for i in range(1, len(x)):
            y[i] = ALPHA * x[i] + (1 - ALPHA) * y[i - 1]
        assert np.allclose(g["ewma"].to_numpy(), y.round(6), atol=1e-6)
        # smoothing shrinks variance
        assert y.std() <= x.std() + 1e-9


def test_cusum_pick_is_argmax(spark):
    got = {r["n_name"]: r for r in
           QUERIES["cusum_changepoint"].fn(spark, SF_DIR).collect()}
    # independent recomputation from the raw tables
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    cust = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    nat = pd.read_parquet(f"{SF_DIR}/nation.parquet")
    df = (orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
          .merge(nat, left_on="c_nationkey", right_on="n_nationkey"))
    df["month"] = df["o_orderdate"].dt.to_period("M").dt.to_timestamp()
    m = (df.groupby(["n_name", "month"]).size().rename("cnt").reset_index()
         .sort_values(["n_name", "month"]))
    assert set(got) == set(m["n_name"].unique())
    for name, g in m.groupby("n_name"):
        cnt = g["cnt"].to_numpy()
        n, total = len(cnt), cnt.sum()
        score = np.cumsum(cnt) * n - np.arange(1, n + 1) * total
        k = int(np.argmax(np.abs(score)))  # earliest argmax — same tiebreak
        r = got[name]
        assert r["cp_month"] == g["month"].iloc[k], (name, r)
        assert abs(r["s_value"] - round(score[k] / n, 6)) < 1e-9
        assert r["n_months"] == n


def test_cusum_recovers_planted_shift(spark, tmp_path):
    """Synthetic orders with a hard mean shift at month 24 of 48 —
    the detected changepoint must land on/adjacent to the shift."""
    months = pd.date_range("2000-01-01", periods=48, freq="MS")
    rows = []
    oid = 0
    for i, mth in enumerate(months):
        lam = 5 if i < 24 else 50          # planted shift at index 24
        for j in range(lam):
            rows.append((oid, 1, "O", 10.0, mth, "1-URGENT"))
            oid += 1
    orders = pd.DataFrame(rows, columns=[
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"])
    cust = pd.DataFrame({"c_custkey": [1], "c_name": ["c"],
                         "c_nationkey": [0], "c_acctbal": [0.0],
                         "c_mktsegment": ["BUILDING"]})
    nat = pd.DataFrame({"n_nationkey": [0], "n_name": ["X"],
                        "n_regionkey": [0]})
    d = tmp_path / "sf_shift"
    d.mkdir()
    # write through Spark so o_orderdate lands as plain parquet TIMESTAMP
    # (pandas→pyarrow would write nanos, which the engine's legacy-nanos
    # conf reads back as BIGINT)
    for name, pdf in (("orders", orders), ("customer", cust), ("nation", nat)):
        sdf = spark.createDataFrame(pdf)
        if name == "orders":
            sdf = sdf.withColumn("o_orderdate",
                                 F.col("o_orderdate").cast("timestamp"))
        sdf.coalesce(1).write.parquet(str(d / f"{name}.parquet"))
    r = QUERIES["cusum_changepoint"].fn(spark, str(d)).collect()
    assert len(r) == 1
    # |S| peaks at the last pre-shift month (index 23)
    assert r[0]["cp_month"] == months[23]
    assert r[0]["s_value"] < 0  # pre-shift cum runs below the mean line


def test_mad_anomalies_match_pandas_recount(spark):
    """Independent pandas recount of the Hampel identifier: same daily
    rollup, same rounded median/MAD, same cutoff — identical flagged
    set and robust-z scores."""
    from covid_weather_etl_spark.operators.timeseries import (
        MAD_CUTOFF, MAD_SIGMA)
    got = (QUERIES["mad_anomaly_report"].fn(spark, SF_DIR).toPandas()
           .sort_values(["n_name", "d"]).reset_index(drop=True))
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    cust = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    nation = pd.read_parquet(f"{SF_DIR}/nation.parquet")
    df = (orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
          .merge(nation, left_on="c_nationkey", right_on="n_nationkey"))
    df["d"] = pd.to_datetime(df["o_orderdate"]).dt.date
    daily = (df.groupby(["n_name", "d"])["o_totalprice"].sum()
             .reset_index(name="y"))
    rows = []
    for name, g in daily.groupby("n_name"):
        med = round(g["y"].median(), 6)
        mad = round((g["y"] - med).abs().median(), 6)
        if mad <= 0:
            continue
        for r in g.itertuples(index=False):
            dev = abs(r.y - med)
            if dev > MAD_CUTOFF * MAD_SIGMA * mad:
                rows.append((name, r.d, round(dev / (MAD_SIGMA * mad), 6)))
    exp = (pd.DataFrame(rows, columns=["n_name", "d", "robust_z"])
           .sort_values(["n_name", "d"]).reset_index(drop=True))
    assert len(got) == len(exp)
    assert (got["n_name"] == exp["n_name"]).all()
    assert np.allclose(got["robust_z"], exp["robust_z"], atol=1e-6)


def test_kalman_gain_converges_and_tracks(spark):
    """Kalman invariants: gain starts at 1 (fully trusting the first
    observation), decreases monotonically toward the steady state
    implied by Q/R, and the filtered level is a convex combination of
    past observations (stays inside the running min/max envelope)."""
    import math

    from covid_weather_etl_spark.operators.timeseries import (
        KAL_Q, KAL_R)
    from covid_weather_etl_spark.queries.registry import all_queries

    pdf = (all_queries()["kalman_level_smooth"].fn(spark, SF_DIR)
           .toPandas())
    # steady-state gain of the local-level model:
    # k* = (p*+q)/(p*+q+r) with p* = (1-k*)(p*+q)
    q, r = KAL_Q, KAL_R
    pstar = (q + math.sqrt(q * q + 4 * q * r)) / 2
    kstar = (pstar) / (pstar + r)
    for pri, grp in pdf.groupby("priority"):
        grp = grp.sort_values("rn")
        gains = grp["gain"].to_numpy()
        assert gains[0] == 1.0
        assert all(gains[i + 1] <= gains[i] + 1e-9
                   for i in range(len(gains) - 1))
        assert abs(gains[-1] - kstar) < 0.02
        # filtered level stays inside the observation envelope
        z = grp["rev"].to_numpy()
        x = grp["kalman"].to_numpy()
        for i in range(len(z)):
            lo, hi = z[:i + 1].min(), z[:i + 1].max()
            assert lo - 1e-6 <= x[i] <= hi + 1e-6
