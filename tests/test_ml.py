"""Tests for the non-SQL-expressible ML operators (rows-only for the
driver): independent numpy oracle for the applyInPandas AR forecast,
invariant checks for the hash-stratified split and the pyspark.ml
logistic-regression evaluation.
"""

from __future__ import annotations

import pytest

import numpy as np
import pandas as pd

from covid_weather_etl_spark.ml import queries as ML
from tests.conftest import SF_DIR, bitrows


@pytest.fixture(scope="module")
def daily_pdf(spark) -> pd.DataFrame:
    return ML.nation_daily(spark, SF_DIR).toPandas()


def _ar_oracle(y: np.ndarray, p: int, horizon: int):
    """Independent normal-equations reimplementation of the AR(p)
    fit+forecast (np.linalg.solve — a DIFFERENT factorization from the
    query's Cramer expansion, so agreement is tolerance-banded, not
    bit-exact: same model, independent arithmetic)."""
    X = np.column_stack([np.ones(len(y) - p)]
                        + [y[p - k - 1:len(y) - k - 1] for k in range(p)])
    target = y[p:]
    coef = np.linalg.solve(X.T @ X, X.T @ target)
    mae = float(np.mean(np.abs(target - X @ coef)))
    hist = list(y)
    fc = []
    for _ in range(horizon):
        nxt = float(coef[0] + sum(coef[k + 1] * hist[-k - 1]
                                  for k in range(p)))
        fc.append(nxt)
        hist.append(nxt)
    return fc, mae


def test_ar_forecast_matches_numpy(spark, daily_pdf):
    got = ML.ar_forecast_per_group(spark, SF_DIR).toPandas()
    for name, grp in daily_pdf.groupby("n_name"):
        y = grp.sort_values("d")["y"].to_numpy(dtype=np.float64)
        if len(y) < ML.AR_ORDER + 5:
            continue
        fc, mae = _ar_oracle(y, ML.AR_ORDER, ML.HORIZON)
        sub = got[got.n_name == name].sort_values("step")
        assert len(sub) == ML.HORIZON, name
        np.testing.assert_allclose(sub["forecast"].to_numpy(), fc,
                                   rtol=1e-6)
        np.testing.assert_allclose(sub["mae_insample"].to_numpy(),
                                   mae, rtol=1e-6)


def test_ar_forecast_every_group_present(spark, daily_pdf):
    got = ML.ar_forecast_per_group(spark, SF_DIR).toPandas()
    big_enough = {name for name, grp in daily_pdf.groupby("n_name")
                  if len(grp) >= ML.AR_ORDER + 5}
    assert set(got.n_name) == big_enough


def _hr_numpy_oracle(y: np.ndarray):
    """Independent replay of the Hannan-Rissanen ARIMA(1,1,1)(0,1,0)_7
    fit+forecast (np.linalg.solve both stages — different
    factorization and exact float sums vs the query's Cramer text over
    centi-grid integer accumulations, so agreement is tolerance-
    banded: same model, independent arithmetic). Returns
    (yhat[7], actual[7], n_train) or None if the series is too short."""
    s, H = 7, 7
    n = len(y)
    ntr = int(np.floor(n * 0.8))
    if ntr < 16 or n < ntr + H:
        return None
    z1 = np.full(n, np.nan)
    z1[s:] = y[s:] - y[:-s]
    w = np.full(n, np.nan)
    w[s + 1:] = z1[s + 1:] - z1[s:-1]
    snap = np.vectorize(lambda v: np.floor(v * 1e6 + 0.5) / 1e6)
    pos = np.arange(s + 1 + 3, ntr)        # 0-based design rows (3 lags)
    X1 = np.column_stack([np.ones(len(pos)),
                          w[pos - 1], w[pos - 2], w[pos - 3]])
    t1 = w[pos]
    a = np.linalg.solve(X1.T @ X1, X1.T @ t1)
    e = snap(t1 - X1 @ a)
    X2 = np.column_stack([np.ones(len(pos) - 1), w[pos - 1][1:], e[:-1]])
    c_, phi, theta = np.linalg.solve(X2.T @ X2, X2.T @ t1[1:])
    fc = [c_ + phi * w[ntr - 1] + theta * e[-1]]
    for _ in range(H - 1):
        fc.append(c_ + phi * fc[-1])
    zc = np.cumsum(fc) + z1[ntr - 1]
    return zc + y[ntr - s:ntr], y[ntr:ntr + H], ntr


def test_sarima_hr_matches_numpy_replay(spark, daily_pdf):
    got = ML.sarima_hr_forecast_eval(spark, SF_DIR).toPandas()
    assert len(got) > 0
    checked = 0
    for name, grp in daily_pdf.groupby("n_name"):
        y = grp.sort_values("d")["y"].to_numpy(dtype=np.float64)
        rep = _hr_numpy_oracle(y)
        sub = got[got.n_name == name].sort_values("step")
        if rep is None:
            continue
        yh, actual, ntr = rep
        assert len(sub) == 7, name
        assert (sub["n_train"] == ntr).all()
        np.testing.assert_allclose(sub["forecast"].to_numpy(), yh,
                                   rtol=1e-5, atol=1e-3)
        np.testing.assert_allclose(sub["actual"].to_numpy(), actual,
                                   rtol=0, atol=1e-6)
        np.testing.assert_allclose(
            sub["abs_err"].to_numpy(),
            np.abs(yh - actual), rtol=1e-4, atol=1e-2)
        checked += 1
    assert checked > 0  # the replay exercised real groups


def test_stratified_split_proportions(spark):
    pdf = ML.stratified_split_summary(spark, SF_DIR).toPandas()
    pivot = pdf.pivot(index="label", columns="split", values="n").fillna(0)
    for label, row in pivot.iterrows():
        frac = row["train"] / (row["train"] + row["test"])
        # hash split targets 70%; small-sample tolerance
        assert 0.64 <= frac <= 0.76, (label, frac)


def test_stratified_split_deterministic(spark):
    a = ML.stratified_split_summary(spark, SF_DIR).toPandas()
    b = ML.stratified_split_summary(spark, SF_DIR).toPandas()
    pd.testing.assert_frame_equal(
        a.sort_values(["label", "split"]).reset_index(drop=True),
        b.sort_values(["label", "split"]).reset_index(drop=True))


def test_logreg_eval_invariants(spark):
    row = ML.logreg_classifier_eval(spark, SF_DIR).collect()[0]
    n = row.tp + row.fp + row.fn + row.tn
    # test split is ~30% of lineitem
    total = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    assert n == pytest.approx(total * 0.3, rel=0.1)
    assert 0.0 <= row.accuracy <= 1.0
    assert 0.0 <= row.auc <= 1.0
    assert row.accuracy == pytest.approx((row.tp + row.tn) / n, abs=1e-4)


def test_irls_logreg_matches_numpy_replay(spark):
    """Independent replay of the fixed-round IRLS fit: numpy executes
    the same grid-snapped Newton rounds (np.linalg.solve instead of
    the Cramer expansion — different factorization, same model), so
    the SQL fit's coefficients must land within the snap tolerance,
    and the confusion counts must match the numpy predictions
    exactly."""
    import math

    row = ML.irls_logreg_fit(spark, SF_DIR).collect()[0]
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet",
                         columns=["l_orderkey", "l_linenumber",
                                  "l_quantity", "l_tax", "l_discount",
                                  "l_shipdate"])
    y = (li["l_discount"] > 0.05).astype(float).to_numpy()
    x1 = (li["l_quantity"] / 25.0 - 1.0).to_numpy()
    x2 = (li["l_tax"] * 10.0).to_numpy()
    dow = pd.to_datetime(li["l_shipdate"]).dt.dayofweek  # Mon=0..Sun=6
    x3 = dow.isin([5, 6]).astype(float).to_numpy()
    is_train = ((li["l_orderkey"] * 31 + li["l_linenumber"]) % 10 < 7)         .to_numpy()
    X = np.column_stack([np.ones(len(y)), x1, x2, x3])
    snap = lambda v: np.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
    Xt, yt = X[is_train], y[is_train]
    b = np.zeros(4)
    for _ in range(ML.IRLS_ROUNDS):
        mu = snap(1.0 / (1.0 + np.exp(-(Xt @ b))))
        w = mu * (1.0 - mu)
        A = (Xt * w[:, None]).T @ Xt + 1e-3 * np.eye(4)
        g = Xt.T @ (yt - mu)
        b = snap(b + np.linalg.solve(A, g))
    got = np.array([row.b0, row.b1, row.b2, row.b3])
    # nano-grid sums + 1e-6 coefficient snaps accumulate ~1e-5 drift
    # between the exact-decimal SQL path and the float numpy path
    assert np.allclose(got, b, atol=5e-5), (got, b)
    Xe, ye = X[~is_train], y[~is_train]
    pred = (Xe @ got >= 0).astype(int)
    tp = int(((ye == 1) & (pred == 1)).sum())
    tn = int(((ye == 0) & (pred == 0)).sum())
    assert (row.tp, row.tn) == (tp, tn)
    assert row.accuracy == pytest.approx((tp + tn) / len(ye), abs=1e-5)
    assert math.isclose(row.tp + row.fp + row.fn + row.tn, len(ye))


def _seasonal_fixture(seed: int = 42) -> np.ndarray:
    """Reference-shaped series: 30 years of monthly temperature —
    12-period yearly cycle, slight trend, AR(1) noise — scaled like the
    Moldova tavg series behind BASELINE.md's SARIMAX anchors."""
    rng = np.random.RandomState(seed)
    n = 360
    t = np.arange(n)
    noise = np.zeros(n)
    for i in range(1, n):
        noise[i] = 0.5 * noise[i - 1] + rng.normal(0, 2.28)
    return 10.0 + 8.0 * np.sin(2 * np.pi * t / 12) + 0.002 * t + noise


def test_sarima_hits_baseline_anchor_band():
    """On the reference-shaped fixture the seasonal-ARIMA forecast's
    MAE/RMSE land in the SARIMAX anchor band from BASELINE.md (MAE
    2.073–2.161, RMSE 2.713–2.956 — reference
    notebooks/weather_forecasting.ipynb cell 40): same 80/20 chrono
    split, same full-test-horizon forecast protocol
    (dags/forecasting_dag.py:103-105,205-212)."""
    y = _seasonal_fixture(42)
    n_train = int(len(y) * 0.8)
    fc = ML._sarima_forecast(y[:n_train], len(y) - n_train, s=12)
    err = y[n_train:] - fc
    mae = float(np.mean(np.abs(err)))
    rmse = float(np.sqrt(np.mean(err ** 2)))
    assert 1.95 <= mae <= 2.25, mae      # anchor band ±~4%
    assert 2.45 <= rmse <= 3.05, rmse


def test_sarima_beats_seasonal_naive_across_seeds():
    """The fitted model must beat the seasonal-naive baseline on every
    seed — the 'model earns its keep' gate the reference applies to
    SARIMAX vs persistence."""
    for seed in (42, 7, 123, 2026):
        y = _seasonal_fixture(seed)
        n_train = int(len(y) * 0.8)
        test = y[n_train:]
        fc = ML._sarima_forecast(y[:n_train], len(test), s=12)
        naive = np.array([y[n_train - 12 + (h % 12)]
                          for h in range(len(test))])
        assert np.mean(np.abs(test - fc)) < np.mean(np.abs(test - naive)), seed


def test_sarima_eval_query_shape(spark):
    pdf = ML.sarima_forecast_eval(spark, SF_DIR).toPandas()
    assert len(pdf) == 25                       # one row per nation
    assert (pdf["n_test"] > 0).all()
    ok = pdf["mae"].notna()
    assert ok.any()
    assert (pdf.loc[ok, "mae"] >= 0).all()
    assert (pdf.loc[ok, "rmse"] >= pdf.loc[ok, "mae"]).all()


@pytest.mark.slow
def test_gbt_eval_invariants_and_determinism(spark):
    a = ML.gbt_classifier_eval(spark, SF_DIR).collect()[0]
    n = a.tp + a.fp + a.fn + a.tn
    total = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    assert n == pytest.approx(total * 0.3, rel=0.1)
    assert 0.0 <= a.accuracy <= 1.0
    assert 0.0 <= a.auc <= 1.0
    b = ML.gbt_classifier_eval(spark, SF_DIR).collect()[0]
    assert a == b                                # seeded → bit-stable


def _weather_classification_fixture(n: int = 8000, seed: int = 42):
    """Reference-shaped rain-classification table: weather features
    (seasonal temperature, humidity, pressure, wind, cyclical month)
    and a binary label from a noisy nonlinear score, with the noise
    scale calibrated (score-SNR ratio 1.1) so the Bayes frontier sits
    just above BASELINE.md's XGBoost anchors — the analog of the
    Moldova series fixture behind the SARIMAX anchor test."""
    rng = np.random.RandomState(seed)
    m = rng.randint(1, 13, n)
    tavg = 10 + 8 * np.sin(2 * np.pi * m / 12) + rng.normal(0, 3, n)
    hum = rng.uniform(30, 100, n)
    pres = rng.normal(1013, 8, n)
    wind = rng.gamma(2.0, 2.0, n)
    s = (0.06 * (hum - 65) - 0.05 * (pres - 1013) + 0.08 * (tavg - 10)
         + 0.15 * wind + 0.004 * (hum - 65) * (tavg - 10))
    e = rng.normal(0, s.std() / 1.1, n)
    return pd.DataFrame(dict(
        rid=np.arange(n), tavg=tavg, hum=hum, pres=pres, wind=wind,
        month_sin=np.sin(2 * np.pi * m / 12),
        month_cos=np.cos(2 * np.pi * m / 12),
        label=(s + e > 0).astype(int)))


@pytest.mark.slow
def test_xgboost_protocol_hits_baseline_anchor_band(spark):
    """The reference's FULL production hyperparameters (XGBClassifier
    learning_rate=0.1/max_depth=7/n_estimators=100/subsample=0.8/
    random_state=42, dags/classification_dag.py:103-106 → ML.XGB_PROTOCOL
    via the 1:1 pyspark.ml mapping) reproduce the BASELINE anchor band
    (acc 0.732 / AUC 0.789, ±0.03 ≈ the same ±4% the SARIMAX anchor
    test uses) on reference-shaped weather data. This pins the
    PROTOCOL; the daily gbt_classifier_eval query runs GBT_FAST because
    its TPC-H discount label saturates at 10 shallow rounds."""
    from pyspark.ml.classification import GBTClassifier
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import VectorAssembler
    from pyspark.sql import functions as F

    df = spark.createDataFrame(_weather_classification_fixture()).coalesce(1)
    train = df.filter((F.col("rid") * 31) % 10 < 7).cache()
    test = df.filter((F.col("rid") * 31) % 10 >= 7).cache()
    va = VectorAssembler(
        inputCols=["tavg", "hum", "pres", "wind", "month_sin", "month_cos"],
        outputCol="features")
    model = GBTClassifier(featuresCol="features", labelCol="label",
                          **ML.XGB_PROTOCOL).fit(va.transform(train))
    scored = model.transform(va.transform(test)).cache()
    auc = BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="rawPrediction",
        metricName="areaUnderROC").evaluate(scored)
    acc = (scored.filter(F.col("label") == F.col("prediction").cast("int"))
           .count() / scored.count())
    assert 0.702 <= acc <= 0.762, acc    # anchor 0.732 ± 0.03
    assert 0.759 <= auc <= 0.819, auc    # anchor 0.789 ± 0.03
    for fr in (train, test, scored):
        fr.unpersist()


@pytest.mark.slow
def test_adf_matches_numpy(spark, daily_pdf):
    got = ML.adf_stationarity(spark, SF_DIR).toPandas().set_index("n_name")
    for name, grp in daily_pdf.groupby("n_name"):
        y = grp.sort_values("d")["y"].to_numpy(dtype=np.float64)
        want = ML.adf_stat(y)
        row = got.loc[name]
        assert row["n_obs"] == len(y)
        if want != want:  # nan
            assert row["adf_stat"] != row["adf_stat"]
        else:
            assert row["adf_stat"] == round(want, 6)
            assert row["stationary_5pct"] == (want < ML.ADF_CRIT_5PCT)


def test_adf_detects_stationary_vs_random_walk(spark):
    """Sanity on synthetic series: white noise is stationary, a random
    walk is not — the decision the reference drives with adfuller."""
    rng = np.random.RandomState(0)
    noise = rng.standard_normal(300)
    walk = np.cumsum(rng.standard_normal(300))
    assert ML.adf_stat(noise) < ML.ADF_CRIT_5PCT
    assert ML.adf_stat(walk) > ML.ADF_CRIT_5PCT


@pytest.mark.slow
def test_pipeline_model_save_load_roundtrip(spark, tmp_path):
    """S9: model persistence — PipelineModel.save/load replaces the
    reference's joblib-base64-over-XCom round trip
    (dags/forecasting_dag.py:186-204)."""
    from pyspark.ml import Pipeline, PipelineModel
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    df = ML._labeled_lineitem(spark, SF_DIR).limit(500)
    pipe = Pipeline(stages=[
        VectorAssembler(inputCols=ML.FEATURES, outputCol="features"),
        LogisticRegression(featuresCol="features", labelCol="label",
                           maxIter=5),
    ])
    model = pipe.fit(df)
    path = str(tmp_path / "model")
    model.save(path)
    back = PipelineModel.load(path)
    a = model.transform(df).select("prediction").collect()
    b = back.transform(df).select("prediction").collect()
    assert a == b


def test_sarima_exact_on_noiseless_seasonal_trend():
    """On a noise-free seasonal+linear series the seasonal-ARIMA
    forecast must be near-exact (the d/D inversion reconstructs the
    deterministic structure) — pins the differencing inversion
    arithmetic independent of any noise model."""
    t = np.arange(240, dtype=np.float64)
    y = 5.0 + 0.1 * t + 4.0 * np.sin(2 * np.pi * t / 12)
    fc = ML._sarima_forecast(y[:192], 48, s=12)
    assert np.max(np.abs(fc - y[192:])) < 1e-6


def test_fourier_hits_prophet_anchor_band():
    """The closed-form trend+Fourier model matches the reference's
    Prophet quality (BASELINE.md: RMSE 2.763 / MAE 2.135) on the
    reference-shaped fixture — within 10% on every seed, and the model
    family never does worse than the anchors by more than noise."""
    for seed in (42, 7, 123):
        y = _seasonal_fixture(seed)
        n_train = int(len(y) * 0.8)
        test = y[n_train:]
        fc = ML._fourier_forecast(y[:n_train], len(test), period=12.0)
        err = test - fc
        assert float(np.mean(np.abs(err))) <= 2.135 * 1.10, seed
        assert float(np.sqrt(np.mean(err ** 2))) <= 2.763 * 1.10, seed


def test_fourier_exact_on_noiseless_series():
    t = np.arange(240, dtype=np.float64)
    y = 3.0 + 0.05 * t + 6.0 * np.sin(2 * np.pi * t / 12)
    fc = ML._fourier_forecast(y[:192], 48, period=12.0)
    assert np.max(np.abs(fc - y[192:])) < 1e-8


def test_fourier_eval_query_shape(spark):
    pdf = ML.fourier_trend_forecast_eval(spark, SF_DIR).toPandas()
    assert len(pdf) == 25
    ok = pdf["mae"].notna()
    assert ok.any()
    assert (pdf.loc[ok, "rmse"] >= pdf.loc[ok, "mae"]).all()


def test_fourier_exog_recovers_planted_effect():
    """Exogenous-regressor parity (reference Prophet `add_regressor`,
    forecasting notebook cell 25): on a fixture with a planted linear
    exog effect the extended design matrix recovers the coefficients,
    and the exog fit beats the no-exog fit out of sample."""
    rng = np.random.RandomState(42)
    t = np.arange(240, dtype=np.float64)
    X = np.column_stack([rng.standard_normal(240),
                         rng.standard_normal(240)])
    base = 3.0 + 0.05 * t + 6.0 * np.sin(2 * np.pi * t / 12)
    y = base + 2.5 * X[:, 0] - 1.5 * X[:, 1] + 0.1 * rng.standard_normal(240)
    n_train = 192
    coef = ML._fourier_fit(y[:n_train], period=12.0, X=X)
    assert coef is not None
    beta = coef[-2:]
    assert abs(beta[0] - 2.5) < 0.05 and abs(beta[1] + 1.5) < 0.05
    test = y[n_train:]
    fc_ex = ML._fourier_forecast(y[:n_train], 48, period=12.0, X=X)
    fc_no = ML._fourier_forecast(y[:n_train], 48, period=12.0)
    rmse_ex = float(np.sqrt(np.mean((test - fc_ex) ** 2)))
    rmse_no = float(np.sqrt(np.mean((test - fc_no) ** 2)))
    assert rmse_ex < rmse_no * 0.5
    assert rmse_ex < 0.2


def test_nation_daily_exog_columns(spark):
    df = ML.nation_daily_exog(spark, SF_DIR)
    assert set(ML.EXOG_COLS) <= set(df.columns)
    row = df.orderBy("n_name", "d").limit(1).collect()[0]
    assert row["n_orders"] >= 1
    assert 0.0 <= row["urgent_share"] <= 1.0


@pytest.mark.slow
def test_gbt_regressor_eval_invariants_and_determinism(spark):
    a = ML.gbt_regressor_eval(spark, SF_DIR).collect()[0]
    b = ML.gbt_regressor_eval(spark, SF_DIR).collect()[0]
    assert a == b                                 # seeded → bit-stable
    assert a.n_test > 0
    assert 0 <= a.mae <= a.rmse
    # TPC-H-ish daily revenue has no serial memory: R² must sit near 0,
    # not spuriously high (leakage) and not catastrophically negative
    assert -0.2 <= a.r2 <= 0.2


def test_ts_split_bounds_matches_sklearn_protocol():
    """Expanding-window folds with sklearn TimeSeriesSplit arithmetic:
    test blocks of n//(k+1), train = everything before the block."""
    bounds = ML.ts_split_bounds(100, 5)
    assert bounds == [(20, 16), (36, 16), (52, 16), (68, 16), (84, 16)]
    for (a_tr, a_te), (b_tr, b_te) in zip(bounds, bounds[1:]):
        assert b_tr == a_tr + a_te          # folds tile chronologically
    assert bounds[-1][0] + bounds[-1][1] == 100
    assert ML.ts_split_bounds(3, 5) == []   # degenerate series


def _cv_fixture(n=600, seed=3):
    rng = np.random.RandomState(seed)
    t = np.arange(n, dtype=np.float64)
    y = (10 + 0.02 * t + 5 * np.sin(2 * np.pi * t / 7)
         + rng.standard_normal(n))
    return pd.DataFrame({"n_name": "FIX",
                         "d": pd.date_range("2019-01-01", periods=n),
                         "y": y})


def test_cv_grid_group_chronology_and_winner():
    a = ML._cv_grid_group(_cv_fixture())
    b = ML._cv_grid_group(_cv_fixture())
    pd.testing.assert_frame_equal(a, b)      # fully deterministic
    assert set(a["config"]) == {
        f"trees={c['n_trees']},lr={c['lr']},depth={c['depth']}"
        for c in ML.CV_GRID}
    # every fold trains strictly before it tests, folds expand
    for cfg, grp in a.groupby("config"):
        tr = grp.sort_values("fold")["n_train"].to_numpy()
        te = grp.sort_values("fold")["n_test"].to_numpy()
        assert (np.diff(tr) == te[:-1]).all()
    # exactly one winning config, flagged on all its folds
    winners = a[a["is_winner"]]["config"].unique()
    assert len(winners) == 1
    assert (a.groupby("config")["rmse"].mean().idxmin() == winners[0])


def test_rolling_cv_query_shape_and_determinism(spark):
    a = ML.rolling_cv_gbt(spark, SF_DIR).toPandas()
    b = ML.rolling_cv_gbt(spark, SF_DIR).toPandas()
    pd.testing.assert_frame_equal(a, b)
    assert {"n_name", "config", "fold", "n_train", "n_test",
            "rmse", "is_winner"} == set(a.columns)
    # per group: at most one winning config
    for name, grp in a.groupby("n_name"):
        assert grp[grp["is_winner"]]["config"].nunique() <= 1


def test_holt_winters_beats_seasonal_naive_across_seeds():
    """Damped Holt-Winters must beat the seasonal-naive baseline on
    every reference-shaped fixture seed — the same 'model earns its
    keep' gate SARIMA passes; damping is what keeps the long static
    horizon from amplifying trend error."""
    for seed in (42, 7, 123, 2026):
        y = _seasonal_fixture(seed)
        n_train = int(len(y) * 0.8)
        test = y[n_train:]
        fc = ML._holt_winters_forecast(y[:n_train], len(test), m=12)
        assert fc is not None and np.isfinite(fc).all()
        naive = np.array([y[n_train - 12 + (h % 12)]
                          for h in range(len(test))])
        rmse = float(np.sqrt(np.mean((test - fc) ** 2)))
        naive_rmse = float(np.sqrt(np.mean((test - naive) ** 2)))
        assert rmse < naive_rmse, (seed, rmse, naive_rmse)


def test_holt_winters_recurrence_and_guards():
    """Pin the damped recurrence against an independent step-by-step
    reimplementation, and the short-series guard."""
    y = _seasonal_fixture(42)[:60]
    fc = ML._holt_winters_forecast(y, 5, m=12)
    # independent reimplementation
    m, a, b, g, phi = 12, ML.HW_ALPHA, ML.HW_BETA, ML.HW_GAMMA, ML.HW_PHI
    lvl = float(y[:m].mean())
    tr = (float(y[m:2 * m].mean()) - lvl) / m
    seas = [float(v - y[:m].mean()) for v in y[:m]]
    for t in range(len(y)):
        x, si = float(y[t]), t % m
        prev = lvl
        lvl = a * (x - seas[si]) + (1 - a) * (lvl + phi * tr)
        tr = b * (lvl - prev) + (1 - b) * phi * tr
        seas[si] = g * (x - lvl) + (1 - g) * seas[si]
    exp = [lvl + sum(phi ** j for j in range(1, k + 2)) * tr
           + seas[(len(y) + k) % m] for k in range(5)]
    assert np.allclose(fc, exp, rtol=0, atol=1e-9)
    assert ML._holt_winters_forecast(y[:18], 5, m=12) is None
    assert ML._holt_winters_forecast(y, 0, m=12) is None


def test_holt_winters_eval_runs_on_real_series(spark):
    got = ML.holt_winters_forecast_eval(spark, SF_DIR).toPandas()
    assert len(got) > 0
    assert set(got.columns) == {"n_name", "n_train", "n_test",
                                "mae", "rmse", "r2"}
    ok = got.dropna()
    assert (ok["mae"] >= 0).all() and (ok["rmse"] >= ok["mae"]).all()


@pytest.mark.slow
def test_als_recommendations_shape_and_signal(spark):
    """ALS invariants: 20 users × top-3 deterministic slice, dense
    rank positions, and the trained model must score actually-
    purchased (user, part) pairs above never-purchased random pairs
    on average — the implicit-feedback objective doing its job."""
    import numpy as np

    from covid_weather_etl_spark.ml.queries import ALS_TOP
    from covid_weather_etl_spark.queries.registry import all_queries
    got = (all_queries()["als_part_recommendations"].fn(spark, SF_DIR)
           .toPandas())
    assert len(got) == 20 * ALS_TOP
    assert set(got.rank_pos) == {1, 2, 3}
    per_user = got.groupby("user_id").rank_pos.apply(
        lambda s: sorted(s) == [1, 2, 3])
    assert per_user.all()
    # scores non-increasing within each user's list
    for _, g in got.groupby("user_id"):
        s = g.sort_values("rank_pos").score.to_numpy()
        assert (np.diff(s) <= 1e-9).all()


def test_stratified_kfold_balance_and_determinism(spark):
    """Folds partition each stratum, sizes are balanced (no fold off
    the stratum mean by >40%), label rates concentrate, and the
    assignment is rerun-identical."""
    from covid_weather_etl_spark.ml.queries import KFOLD_K
    from covid_weather_etl_spark.queries.registry import all_queries
    q = all_queries()["stratified_kfold_summary"]
    a = q.fn(spark, SF_DIR).toPandas().sort_values(
        ["stratum", "fold"]).reset_index(drop=True)
    b = q.fn(spark, SF_DIR).toPandas().sort_values(
        ["stratum", "fold"]).reset_index(drop=True)
    assert a.equals(b)
    import pandas as pd
    cust = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    assert a.n_rows.sum() == len(cust)
    for stratum, g in a.groupby("stratum"):
        assert set(g.fold) <= set(range(KFOLD_K))
        # balance/concentration only where the stratum is big enough
        # for the hash assignment to have converged (tiny sf0.001
        # strata can legitimately miss a fold)
        if g.n_rows.sum() >= 10 * KFOLD_K:
            assert set(g.fold) == set(range(KFOLD_K))
            mean = g.n_rows.mean()
            assert (abs(g.n_rows - mean) <= 0.5 * mean + 3).all(), stratum
            overall = g.n_pos.sum() / g.n_rows.sum()
            assert ((g.pos_rate - overall).abs() < 0.3).all(), stratum


@pytest.mark.slow
def test_fpgrowth_matches_bruteforce_apriori(spark):
    from itertools import combinations

    from covid_weather_etl_spark.ml.queries import (
        FPG_MIN_SUPPORT, fpgrowth_type_itemsets,
    )

    out = {(r.itemset, r.n_items): r.freq
           for r in fpgrowth_type_itemsets(spark, SF_DIR).collect()}
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").toPandas()
    pt = spark.read.parquet(f"{SF_DIR}/part.parquet").toPandas()
    brand = dict(zip(pt.p_partkey, pt.p_type))
    baskets = (li.assign(b=li.l_partkey.map(brand))
               .groupby("l_orderkey").b.apply(lambda s: frozenset(s)))
    n = len(baskets)
    floor = FPG_MIN_SUPPORT * n
    expected = {}
    # exhaustive count for all possible sizes (six part types bound
    # the basket width at 6)
    for size in (1, 2, 3, 4, 5, 6):
        counts: dict[tuple, int] = {}
        for bk in baskets:
            for combo in combinations(sorted(bk), size):
                counts[combo] = counts.get(combo, 0) + 1
        for combo, c in counts.items():
            if c >= floor:
                expected[(",".join(combo), size)] = c
    assert out == expected
    # anti-monotonicity: every subset of a frequent itemset is frequent
    for (items, sz), freq in out.items():
        parts = items.split(",")
        for sub in combinations(parts, sz - 1):
            if sub:
                assert (",".join(sub), sz - 1) in out


@pytest.mark.slow
def test_prefixspan_matches_bruteforce(spark):
    from itertools import combinations

    from covid_weather_etl_spark.ml.queries import (
        PSPAN_MAX_LEN, PSPAN_MIN_SUPPORT, PSPAN_SEQ_CAP,
        prefixspan_event_patterns,
    )

    out = {(r.pattern, r.n_steps): r.freq
           for r in prefixspan_event_patterns(spark, SF_DIR).collect()}
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").toPandas()
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    seqs = [g.event_type.tolist()[:PSPAN_SEQ_CAP]
            for _, g in ev.groupby("user_id")]
    floor = PSPAN_MIN_SUPPORT * len(seqs)
    # support of a pattern = #sequences containing it as a (gapped)
    # subsequence — count each candidate once per sequence
    from collections import Counter

    cand: Counter = Counter()
    for s in seqs:
        seen = set()
        for ln in range(1, PSPAN_MAX_LEN + 1):
            for idx in combinations(range(len(s)), ln):
                seen.add(tuple(s[i] for i in idx))
        cand.update(seen)
    expected = {(">".join(p), len(p)): c
                for p, c in cand.items() if c >= floor}
    assert out == expected


@pytest.mark.slow
def test_pipeline_model_save_load_rescores_identically(spark, tmp_path):
    """S9 closure (model binary sink/source): a fitted pyspark.ml
    PipelineModel (assembler → train-fitted scaler → seeded GBT — the
    stack gbt_classifier_eval uses) persists to disk and reloads to
    BIT-IDENTICAL scores, mirroring the reference's joblib
    dump→load→predict round trip (`dags/classification_dag.py:109-121`
    / `dags/forecasting_dag.py:186-190`). Spark-first: save() writes a
    metadata+parquet directory readable by any cluster, no pickle."""
    from pyspark.ml import Pipeline, PipelineModel
    from pyspark.ml.classification import GBTClassifier
    from pyspark.ml.feature import StandardScaler, VectorAssembler
    from pyspark.sql import functions as F

    df = ML._labeled_lineitem(spark, SF_DIR).cache()
    split_key = (F.col("l_orderkey") * 31 + F.col("l_linenumber")) % 10
    train, test = df.filter(split_key < 7), df.filter(split_key >= 7)

    pipe = Pipeline(stages=[
        VectorAssembler(inputCols=ML.FEATURES, outputCol="features_raw"),
        StandardScaler(inputCol="features_raw", outputCol="features",
                       withMean=True, withStd=True),
        # small protocol: persistence semantics, not anchor metrics
        # (those are pinned by test_gbt_* at XGB_PROTOCOL depth)
        GBTClassifier(featuresCol="features", labelCol="label",
                      maxIter=5, maxDepth=3, seed=7),
    ])
    model = pipe.fit(train)
    path = str(tmp_path / "gbt_pipeline_model")
    model.write().overwrite().save(path)
    reloaded = PipelineModel.load(path)

    cols = ["l_orderkey", "l_linenumber", "prediction", "probability"]
    a = (model.transform(test).select(*cols).toPandas()
         .sort_values(["l_orderkey", "l_linenumber"]).reset_index(drop=True))
    b = (reloaded.transform(test).select(*cols).toPandas()
         .sort_values(["l_orderkey", "l_linenumber"]).reset_index(drop=True))
    df.unpersist()
    assert len(a) == len(b) > 0
    assert (a.prediction == b.prediction).all()
    # probability vectors bit-equal, not just argmax-equal
    assert all(list(x) == list(y) for x, y in zip(a.probability,
                                                  b.probability))
    # the reloaded GBT carries the same trees (weights + structure)
    g0, g1 = model.stages[-1], reloaded.stages[-1]
    assert g0.getNumTrees == g1.getNumTrees
    assert list(g0.treeWeights) == list(g1.treeWeights)


@pytest.mark.slow
def test_holt_winters_short_series_guard_parity(spark, tmp_path):
    """The r6 oracle guard must mirror the Python guard exactly: the
    TRAIN slice (floor(0.8·n)), not the full series, needs two
    seasons. A 15-day series (n_train = 12) is dropped by BOTH
    engines; an 18-day series (n_train = 14) survives on both with
    identical metrics."""
    import duckdb
    import pandas as pd

    from covid_weather_etl_spark.queries.registry import all_queries

    q = all_queries()["holt_winters_forecast_eval"]
    nation = pd.DataFrame({"n_nationkey": [0], "n_name": ["NATION_X"],
                           "n_regionkey": [0], "n_comment": ["x"]})
    cust = pd.DataFrame({"c_custkey": [1], "c_name": ["a"],
                         "c_address": ["x"], "c_nationkey": [0],
                         "c_phone": ["p"], "c_acctbal": [1.0],
                         "c_mktsegment": ["B"], "c_comment": ["c"]})

    def orders_df(n_days: int) -> pd.DataFrame:
        return pd.DataFrame({
            "o_orderkey": range(1, n_days + 1),
            "o_custkey": [1] * n_days,
            "o_orderstatus": ["O"] * n_days,
            "o_totalprice": [float(100 + i) for i in range(n_days)],
            "o_orderdate": pd.to_datetime(
                [f"1995-01-{d:02d}" for d in range(1, n_days + 1)]),
            "o_orderpriority": ["1-URGENT"] * n_days,
            "o_clerk": ["c"] * n_days,
            "o_shippriority": [0] * n_days,
            "o_comment": ["o"] * n_days})

    spark.createDataFrame(nation).write.parquet(f"{tmp_path}/nation.parquet")
    spark.createDataFrame(cust).write.parquet(f"{tmp_path}/customer.parquet")
    con = duckdb.connect()
    for t in ("nation", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tmp_path}/{t}.parquet/*.parquet')")

    for n_days, expect in ((15, 0), (18, 1)):
        spark.createDataFrame(orders_df(n_days)).write.mode(
            "overwrite").parquet(f"{tmp_path}/orders.parquet")
        con.execute(f"CREATE OR REPLACE VIEW orders AS SELECT * FROM "
                    f"read_parquet('{tmp_path}/orders.parquet/*.parquet')")
        sdf = q.fn(spark, str(tmp_path)).toPandas()
        odf = con.execute(q.oracle).fetchdf()
        assert len(sdf) == len(odf) == expect, (n_days, len(sdf), len(odf))
        if expect:
            s = sdf[sorted(sdf.columns)].reset_index(drop=True)
            o = odf[sorted(odf.columns)].reset_index(drop=True)
            pd.testing.assert_frame_equal(s, o, check_dtype=False)


@pytest.mark.slow
def test_irls_driver_solve_equals_round_sql(spark):
    """The r13 driver-side det_val replay of the IRLS round solve is
    BITWISE identical to the old chained _irls_round_sql loop."""
    import covid_weather_etl_spark.ml.queries as M
    from covid_weather_etl_spark.queries.registry import all_queries

    def _blit(b):
        ks = [int(round(v * 1e6)) for v in b]
        return ("(SELECT " + ", ".join(
            f"CAST({k}e-6 AS DOUBLE) AS b{i}" for i, k in enumerate(ks))
            + ")")

    new = bitrows(all_queries()["irls_logreg_fit"].fn(spark, SF_DIR))
    # old loop: full round SQL (aggregate + in-plan Cramer) per round,
    # reusing the design view the query registered
    beta = (0.0, 0.0, 0.0, 0.0)
    for _ in range(M.IRLS_ROUNDS):
        row = spark.sql(
            M._irls_round_sql("irls_design_v", _blit(beta))).first()
        beta = (row.b0, row.b1, row.b2, row.b3)
    old = bitrows(spark.sql(M._irls_eval_sql("irls_design_v", _blit(beta))))
    assert new == old and len(new) == 1


def test_irls_singular_driver_solve_falls_back_to_round_sql(spark,
                                                            monkeypatch):
    """A zero driver-side determinant makes that IRLS round run the
    in-plan _irls_round_sql solve instead of raising
    ZeroDivisionError; both solves give the same grid coefficients,
    so the fit is unchanged."""
    import covid_weather_etl_spark.functions.numeric as N

    want = ML.irls_logreg_fit(spark, SF_DIR).collect()
    real = N.det_val

    def det_val(m):
        # zero only for the (symmetric) 4x4 system matrix, not for
        # the Cramer numerators with one column replaced
        sym = all(m[i][j] == m[j][i] for i in range(4) for j in range(4))
        return 0.0 if sym else real(m)

    monkeypatch.setattr(N, "det_val", det_val)
    got = ML.irls_logreg_fit(spark, SF_DIR).collect()
    assert got == want and len(got) == 1
