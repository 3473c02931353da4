"""ML layer (SURVEY.md §2.9 U2-U5) — Spark-first restatement of the
reference's forecasting / classification DAGs.

The reference runs per-country SARIMAX + XGBoost inside Airflow tasks,
shipping pandas frames as JSON over XCom at every edge
(reference `dags/forecasting_dag.py:46-231`,
`dags/classification_dag.py:46-152`). Here the same shapes become:

- **closed-form OLS trend per group** (U2 analog): simple linear
  regression computed from five map-side-combinable sums — slope =
  (nΣxy−ΣxΣy)/(nΣx²−(Σx)²). One aggregation pass, no model object, no
  driver loop; exact DECIMAL accumulation makes it bit-deterministic
  and therefore fully oracle-checkable (most engines' `regr_slope` is
  float-accumulation-order dependent; this formulation is not).
- **chronological 80/20 split + persistence-forecast eval** (W5+U5):
  the reference's `iloc[:int(n*0.8)]` split and MAE/RMSE/R² metrics
  (`dags/forecasting_dag.py:103-124,211-212`) as window-rank split and
  decimal-exact aggregate metrics.
- **train-fit StandardScaler** (U4): μ/σ fitted on the train split
  only (reference `dags/classification_dag.py:82-88`), applied to
  test — σ from the exact-sum identity σ² = (Σy²−(Σy)²/n)/(n−1).
- **per-group AR(p) forecast** (U2): `groupBy(key).applyInPandas`
  fitting a numpy least-squares AR model per nation — the canonical
  Spark pattern for the reference's per-country statsmodels loop;
  embarrassingly parallel across groups at 100 TB.
- **per-group seasonal ARIMA + eval** (U2/U5, SARIMAX parity):
  ADF-selected differencing, AIC order search, recursive forecast,
  MAE/RMSE/R² on the 80/20 chrono split — the full
  `forecasting_dag.py` task chain in one applyInPandas body, hitting
  the BASELINE.md anchor band on a reference-shaped fixture.
- **classification** (U3-U5): deterministic hash-based stratified
  split (no RNG — reproducible across cluster layouts, unlike
  `randomSplit`), `pyspark.ml` StandardScaler+LogisticRegression
  pipeline plus a seeded GBTClassifier (the reference's XGBoost
  family), confusion-matrix / accuracy / precision / recall metrics
  as plain aggregations.

Oracle status: the sum-composed operators (trend, split-eval, scaler,
rule-classifier metrics) are ANSI-SQL-expressible and oracle-checked;
the applyInPandas AR fit and the ml-pipeline classifier are rows-only
for the driver and pinned instead by numpy-oracle tests in
tests/test_ml.py.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from covid_weather_etl_spark.functions import driver
from covid_weather_etl_spark.functions.numeric import (
    cramer_sql, decimal_dot, decimal_dot_sql, dsum, dsum_sql, fround,
    fround_sql, fround_val, grid_sum, grid_sum_sql, md5_int,
)
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables

EPOCH = "1970-01-01"

# Shared series: daily order revenue per nation (the analog of the
# reference's per-country daily weather series). x = days since epoch
# (integer, exact), y = revenue (exact decimal sum cast to double).
_NATION_DAILY_SQL = f"""
    nation_daily AS (
        SELECT n.n_name,
               CAST(o.o_orderdate AS DATE) AS d,
               datediff('day', DATE '{EPOCH}', CAST(o.o_orderdate AS DATE)) AS x,
               {dsum_sql("o.o_totalprice")} AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2, 3
    )
"""


def nation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation daily revenue series — shuffles once on (nation, day);
    the two dimension hops broadcast (customer/nation are small dims)."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    return (
        t["orders"]
        .join(F.broadcast(t["customer"]),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.to_date("o_orderdate").alias("d"))
        .agg(dsum("o_totalprice").alias("y"))
        .withColumn("x", F.datediff("d", F.lit(EPOCH)))
    )


# ---------------------------------------------------------------------------
# U2 analog — closed-form OLS trend per group, one aggregation pass
# ---------------------------------------------------------------------------

@register(
    "ols_trend_per_group",
    survey="U2,A9,J1",
    oracle=f"""
    WITH {_NATION_DAILY_SQL},
    sums AS (
        SELECT n_name,
               COUNT(*) AS n,
               SUM(x) AS sx,
               SUM(x * x) AS sxx,
               {dsum_sql("y", "decimal(18,2)")} AS sy,
               CAST({decimal_dot_sql("y", "x", "decimal(18,2)",
                                     "decimal(8,0)")} AS DOUBLE) AS sxy,
               CAST({decimal_dot_sql("y", "y", "decimal(18,2)")}
                    AS DOUBLE) AS syy
        FROM nation_daily GROUP BY 1
    )
    SELECT n_name, n,
           {fround_sql("(n * sxy - sx * sy) / (n * sxx - sx * sx)")} AS slope,
           {fround_sql("(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)"
                       " / n")} AS intercept,
           {fround_sql("POWER(n * sxy - sx * sy, 2)"
                       " / ((n * sxx - sx * sx) * (n * syy - sy * sy))")} AS r2
    FROM sums
    """,
)
def ols_trend_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation linear trend of daily revenue — the reference's
    per-country model fit (`dags/forecasting_dag.py:165-190`) collapsed
    to closed-form OLS over five sums. Integer sums (x, x²) are exact;
    double sums go through DECIMAL so slope/intercept/r² are
    order-independent. Single shuffle on the group key; partial sums
    combine map-side — the plan a 1000-executor cluster wants."""
    daily = nation_daily(spark, sf_dir)
    # y is an exact-2-decimal money value: its DECIMAL(18,2) cast is
    # exact in both engines (data resolution 0.01 is far above ulp),
    # and every second moment is then an exact decimal PRODUCT-of-
    # decimals sum — never a cast of a messy double product, whose
    # 6th-decimal rounding is engine-dependent.
    sums = daily.groupBy("n_name").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        dsum("y", "decimal(18,2)").alias("sy"),
        decimal_dot("y", "x", "decimal(18,2)", "decimal(8,0)")
        .cast("double").alias("sxy"),
        decimal_dot("y", "y", "decimal(18,2)").cast("double").alias("syy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, sxy, syy = F.col("sy"), F.col("sxy"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return sums.select(
        "n_name", "n",
        fround(slope).alias("slope"),
        fround((sy - slope * sx) / n).alias("intercept"),
        fround(F.pow(n * sxy - sx * sy, F.lit(2))
               / ((n * sxx - sx * sx) * (n * syy - sy * sy))).alias("r2"),
    )


# ---------------------------------------------------------------------------
# W5 + U5 — chronological split, persistence forecast, MAE/RMSE/R²
# ---------------------------------------------------------------------------

_SPLIT_SQL = f"""
    ranked AS (
        SELECT n_name, d, y,
               row_number() OVER (PARTITION BY n_name ORDER BY d) AS rn,
               count(*)    OVER (PARTITION BY n_name) AS n_total,
               lag(y) OVER (PARTITION BY n_name ORDER BY d) AS y_prev
        FROM nation_daily
    ),
    test AS (
        SELECT n_name, y, y_prev, y - y_prev AS e
        FROM ranked WHERE rn > CAST(FLOOR(n_total * 0.8) AS BIGINT)
    )
"""


@register(
    "persistence_forecast_eval",
    survey="W5,U5,A4",
    oracle=f"""
    WITH {_NATION_DAILY_SQL},
    {_SPLIT_SQL}
    SELECT n_name,
           COUNT(*) AS n_test,
           {fround_sql(dsum_sql("ABS(e)", "decimal(18,2)")
                       + " / COUNT(*)")} AS mae,
           {fround_sql("SQRT(CAST("
                       + decimal_dot_sql("e", "e", "decimal(18,2)")
                       + " AS DOUBLE) / COUNT(*))")} AS rmse,
           {fround_sql("1.0 - CAST("
                       + decimal_dot_sql("e", "e", "decimal(18,2)")
                       + " AS DOUBLE) / (CAST("
                       + decimal_dot_sql("y", "y", "decimal(18,2)")
                       + " AS DOUBLE) - POWER("
                       + dsum_sql("y", "decimal(18,2)")
                       + ", 2) / COUNT(*))")} AS r2
    FROM test GROUP BY 1
    """,
)
def persistence_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chronological 80/20 split per nation (reference
    `iloc[:int(n*0.8)]`, `dags/forecasting_dag.py:103-105`) and the
    reference's MAE/RMSE/R² evaluation (`dags/forecasting_dag.py:
    211-212`) of the lag-1 persistence forecast — the baseline every
    fitted model must beat. Metrics are decimal-exact aggregates."""
    daily = nation_daily(spark, sf_dir)
    w = W.partitionBy("n_name").orderBy("d")
    wp = W.partitionBy("n_name")
    ranked = daily.select(
        "n_name", "y",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wp).alias("n_total"),
        F.lag("y").over(w).alias("y_prev"),
    )
    test = (ranked
            .filter(F.col("rn") >
                    F.floor(F.col("n_total") * 0.8).cast("long"))
            .withColumn("e", F.col("y") - F.col("y_prev")))
    # e = difference of exact-2-decimal values → itself clean 2-decimal;
    # second moments as exact decimal products (see ols_trend_per_group).
    sse = decimal_dot("e", "e", "decimal(18,2)").cast("double")
    syy = decimal_dot("y", "y", "decimal(18,2)").cast("double")
    sy = dsum("y", "decimal(18,2)")
    n = F.count("*")
    return test.groupBy("n_name").agg(
        n.alias("n_test"),
        fround(dsum(F.abs(F.col("e")), "decimal(18,2)") / n).alias("mae"),
        fround(F.sqrt(sse / n)).alias("rmse"),
        fround(F.lit(1.0) - sse / (syy - F.pow(sy, F.lit(2)) / n))
        .alias("r2"),
    )


@register(
    "standard_scaler_transform",
    survey="U4,W5",
    oracle=f"""
    WITH {_NATION_DAILY_SQL},
    ranked AS (
        SELECT n_name, d, y,
               row_number() OVER (PARTITION BY n_name ORDER BY d) AS rn,
               count(*)    OVER (PARTITION BY n_name) AS n_total
        FROM nation_daily
    ),
    stats AS (
        SELECT n_name,
               COUNT(*) AS n_train,
               {dsum_sql("y", "decimal(18,2)")} AS sy,
               CAST({decimal_dot_sql("y", "y", "decimal(18,2)")}
                    AS DOUBLE) AS syy
        FROM ranked WHERE rn <= CAST(FLOOR(n_total * 0.8) AS BIGINT)
        GROUP BY 1
    )
    SELECT r.n_name, r.d, r.y,
           {fround_sql("s.sy / s.n_train")} AS mu_train,
           {fround_sql("(r.y - s.sy / s.n_train)"
                       " / SQRT((s.syy - s.sy * s.sy / s.n_train)"
                       " / (s.n_train - 1))")} AS z
    FROM ranked r JOIN stats s ON r.n_name = s.n_name
    WHERE r.rn > CAST(FLOOR(r.n_total * 0.8) AS BIGINT)
    """,
)
def standard_scaler_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StandardScaler with fit-on-train-only semantics (reference
    `dags/classification_dag.py:82-88`: scaler fitted on X_train,
    applied to X_test — no leakage). σ via the exact-sum identity so
    the z-scores are bit-deterministic. The fitted stats are a tiny
    per-group frame — broadcast back onto the test split."""
    daily = nation_daily(spark, sf_dir)
    w = W.partitionBy("n_name").orderBy("d")
    wp = W.partitionBy("n_name")
    ranked = daily.select(
        "n_name", "d", "y",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wp).alias("n_total"),
    )
    cut = F.floor(F.col("n_total") * 0.8).cast("long")
    stats = (ranked.filter(F.col("rn") <= cut)
             .groupBy("n_name")
             .agg(F.count("*").alias("n_train"),
                  dsum("y", "decimal(18,2)").alias("sy"),
                  decimal_dot("y", "y", "decimal(18,2)")
                  .cast("double").alias("syy")))
    mu = F.col("sy") / F.col("n_train")
    sigma = F.sqrt((F.col("syy") - F.col("sy") * F.col("sy") / F.col("n_train"))
                   / (F.col("n_train") - 1))
    return (ranked.filter(F.col("rn") > cut)
            .join(F.broadcast(stats), "n_name")
            .select("n_name", "d", "y",
                    fround(mu).alias("mu_train"),
                    fround((F.col("y") - mu) / sigma).alias("z")))


# ---------------------------------------------------------------------------
# U2 — per-group AR(p) forecast by closed-form normal equations
# ---------------------------------------------------------------------------

AR_ORDER = 3
HORIZON = 7

#: X'X / X'y entry names over the design [1, y_{t-1}, y_{t-2}, y_{t-3}]
#: — the sufficient statistics one grouped aggregate produces.
_AR_A = [["n", "s1", "s2", "s3"],
         ["s1", "s11", "s12", "s13"],
         ["s2", "s12", "s22", "s23"],
         ["s3", "s13", "s23", "s33"]]
_AR_B = ["sy", "s1y", "s2y", "s3y"]

#: The first-order sums accumulate as DECIMAL(38,6): it holds 1e32, far
#: above a group's ~1e6-scale daily revenues, and stays map-combinable.
#: PRODUCT terms accumulate as exact centi-unit integers
#: (``grid_sum_sql(e, 2)``), not as a double→DECIMAL(p,6) cast.
#: Reason (measured at sf0.001: 61 of 350 Gram sums off in the last
#: digits): casting a ~1e12-magnitude double to DECIMAL(38,6) is
#: engine-divergent — Spark goes through exact shortest-repr
#: BigDecimal, DuckDB multiplies by 10^6 in double (ulp ≈ 512 at
#: 1e18) before rounding to integer. Bounds: per-term |x|·1e2 ≲
#: 1.6e15 and group sums ≲ 4e18 < 2^63 up to sf 1 — far above the
#: checked-in SFs; the 1e-2 grid is 1e-15 relative resolution on
#: ~1e13 terms.


# The fit+forecast is built from SHARED SQL TEXT FRAGMENTS that parse
# and evaluate identically on Spark SQL and DuckDB (only LAG /
# ROW_NUMBER / SUM / CASE / + - * / FLOOR ABS). The oracle composes
# them into one WITH chain; the Spark side evaluates the same
# fragments in STAGES over temp views, materializing the tiny
# (one-row-per-nation) coefficient frame in between — without the
# stage cut, Catalyst inlines the 120-term determinant expressions
# into every level of the 7-step forecast chain and analysis time
# explodes (~3^7 duplications); DuckDB's CTE planner doesn't, so the
# single-text form stays fine oracle-side. Fragment sharing keeps the
# IEEE op sequence identical either way.

def _ar_design_sql(src: str) -> str:
    return f"""
    SELECT * FROM (
        SELECT n_name, d, y,
               LAG(y, 1) OVER (PARTITION BY n_name ORDER BY d) AS y1,
               LAG(y, 2) OVER (PARTITION BY n_name ORDER BY d) AS y2,
               LAG(y, 3) OVER (PARTITION BY n_name ORDER BY d) AS y3
        FROM {src}
    ) lagged WHERE y3 IS NOT NULL
    """


def _ar_sums_sql(design_src: str) -> str:
    d = {c: dsum_sql(c, "decimal(38,6)") for c in ("y1", "y2", "y3", "y")}
    return f"""
    SELECT n_name, CAST(COUNT(*) AS DOUBLE) AS n,
           {d['y1']} AS s1, {d['y2']} AS s2, {d['y3']} AS s3,
           {d['y']} AS sy,
           {grid_sum_sql('y1 * y1', 2)} AS s11,
           {grid_sum_sql('y1 * y2', 2)} AS s12,
           {grid_sum_sql('y1 * y3', 2)} AS s13,
           {grid_sum_sql('y2 * y2', 2)} AS s22,
           {grid_sum_sql('y2 * y3', 2)} AS s23,
           {grid_sum_sql('y3 * y3', 2)} AS s33,
           {grid_sum_sql('y1 * y', 2)} AS s1y,
           {grid_sum_sql('y2 * y', 2)} AS s2y,
           {grid_sum_sql('y3 * y', 2)} AS s3y
    FROM {design_src} GROUP BY n_name
    HAVING COUNT(*) >= 5
    """


def _ar_coef_sql(sums_src: str) -> str:
    c = {f"c{k}": cramer_sql(_AR_A, _AR_B, k) for k in range(4)}
    return f"""
    SELECT n_name, {c['c0']} AS c0, {c['c1']} AS c1,
           {c['c2']} AS c2, {c['c3']} AS c3
    FROM {sums_src}
    """


def _ar_final_sql(src: str, design_src: str, coef_src: str) -> str:
    return f"""
    mae AS (
        SELECT dd.n_name,
               {grid_sum_sql('ABS(dd.y - (c.c0 + c.c1 * dd.y1'
                             ' + c.c2 * dd.y2 + c.c3 * dd.y3))', 2)}
                   / COUNT(*) AS mae_raw
        FROM {design_src} dd JOIN {coef_src} c ON c.n_name = dd.n_name
        GROUP BY dd.n_name
    ), last3 AS (
        SELECT n_name,
               MAX(CASE WHEN rn = 1 THEN y END) AS l1,
               MAX(CASE WHEN rn = 2 THEN y END) AS l2,
               MAX(CASE WHEN rn = 3 THEN y END) AS l3
        FROM (SELECT n_name, y,
                     ROW_NUMBER() OVER (PARTITION BY n_name
                                        ORDER BY d DESC) AS rn
              FROM {src}) ranked
        WHERE rn <= 3 GROUP BY n_name
    ), f1t AS (
        SELECT c.n_name, c0, c1, c2, c3, l1, l2, l3,
               c0 + c1 * l1 + c2 * l2 + c3 * l3 AS f1
        FROM {coef_src} c JOIN last3 t ON t.n_name = c.n_name
    ),
    f2t AS (SELECT *, c0 + c1 * f1 + c2 * l1 + c3 * l2 AS f2 FROM f1t),
    f3t AS (SELECT *, c0 + c1 * f2 + c2 * f1 + c3 * l1 AS f3 FROM f2t),
    f4t AS (SELECT *, c0 + c1 * f3 + c2 * f2 + c3 * f1 AS f4 FROM f3t),
    f5t AS (SELECT *, c0 + c1 * f4 + c2 * f3 + c3 * f2 AS f5 FROM f4t),
    f6t AS (SELECT *, c0 + c1 * f5 + c2 * f4 + c3 * f3 AS f6 FROM f5t),
    f7t AS (SELECT *, c0 + c1 * f6 + c2 * f5 + c3 * f4 AS f7 FROM f6t),
    steps AS (
                  SELECT n_name, 1 AS step, f1 AS fc FROM f7t
        UNION ALL SELECT n_name, 2 AS step, f2 AS fc FROM f7t
        UNION ALL SELECT n_name, 3 AS step, f3 AS fc FROM f7t
        UNION ALL SELECT n_name, 4 AS step, f4 AS fc FROM f7t
        UNION ALL SELECT n_name, 5 AS step, f5 AS fc FROM f7t
        UNION ALL SELECT n_name, 6 AS step, f6 AS fc FROM f7t
        UNION ALL SELECT n_name, 7 AS step, f7 AS fc FROM f7t
    )
    SELECT s.n_name, CAST(s.step AS INT) AS step,
           {fround_sql('s.fc')} AS forecast,
           {fround_sql('m.mae_raw')} AS mae_insample
    FROM steps s JOIN mae m ON m.n_name = s.n_name
    """


def _ar_oracle_sql() -> str:
    """Single-text DuckDB composition of the shared fragments."""
    return (f"WITH {_NATION_DAILY_SQL}, "
            f"design AS ({_ar_design_sql('nation_daily')}), "
            f"sums AS ({_ar_sums_sql('design')}), "
            f"coef AS ({_ar_coef_sql('sums')}), "
            + _ar_final_sql("nation_daily", "design", "coef"))


@register(
    "ar_forecast_per_group",
    survey="U2,W2,A6",
    oracle=_ar_oracle_sql(),
)
def ar_forecast_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation AR(3) fit + 7-step recursive forecast in CLOSED
    FORM — the Spark restatement of the reference's per-country
    SARIMAX tasks (`dags/forecasting_dag.py:127-231`), done the way a
    100 TB engine should: no per-group model object, no Python. Lag
    features via a partitioned window, ONE grouped aggregate for the
    14 sufficient statistics (exact DECIMAL sums, map-combinable),
    the 4x4 normal equations solved by a Leibniz/Cramer expansion
    whose term order is SHARED SQL TEXT (functions/numeric.cramer_sql
    — the markov_attribution technique), the in-sample MAE re-scored
    distributed, and the 7 recursive steps unrolled as chained CTEs.
    The identical fragments run on Spark (staged over temp views,
    with the one-row-per-nation coefficient frame localCheckpointed
    so Catalyst never inlines the 120-term determinants into the
    forecast chain) and on DuckDB (one WITH chain), so every double —
    coefficients, forecasts, MAE — is bit-identical before the final
    1e-6 display grid. Groups with < 5 design rows are excluded (a
    4-parameter fit is underdetermined below that).

    Semantics pinned against an independent numpy normal-equations
    solve in tests/test_ml.py (np.linalg.solve, tolerance-banded —
    different factorization, same model)."""
    daily = nation_daily(spark, sf_dir)
    # nations x days — bounded small; read by design (twice: sums and
    # mae — one cheap window pass each over the checkpointed rows) and
    # by last3
    daily.localCheckpoint(eager=False).createOrReplaceTempView("ar_nd_v")
    spark.sql(_ar_design_sql("ar_nd_v")) \
        .createOrReplaceTempView("ar_design_v")
    sums = spark.sql(_ar_sums_sql("ar_design_v"))
    sums.createOrReplaceTempView("ar_sums_v")
    # one row per nation: materializing here is what cuts the
    # determinant expressions out of downstream analysis
    coef = spark.sql(_ar_coef_sql("ar_sums_v"))
    coef.localCheckpoint(eager=False).createOrReplaceTempView("ar_coef_v")
    return spark.sql(
        "WITH " + _ar_final_sql("ar_nd_v", "ar_design_v", "ar_coef_v")) \
        .orderBy("n_name", "step")


# ---------------------------------------------------------------------------
# U3-U5 — classification: stratified split, pipeline, metrics
# ---------------------------------------------------------------------------

def _labeled_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary label analog of the reference's `rain = (prcp > 0)`
    (`dags/classification_dag.py:69`): discounted = l_discount > 0.05,
    with numeric + cyclical date features (c.cell 8)."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = t["lineitem"]
    two_pi = 2 * math.pi
    return li.select(
        "l_orderkey", "l_linenumber",
        (F.col("l_discount") > 0.05).cast("int").alias("label"),
        F.col("l_quantity").alias("f_qty"),
        F.col("l_extendedprice").alias("f_price"),
        F.col("l_tax").alias("f_tax"),
        F.sin(F.lit(two_pi) * F.month("l_shipdate") / 12).alias("f_month_sin"),
        F.cos(F.lit(two_pi) * F.month("l_shipdate") / 12).alias("f_month_cos"),
        (F.dayofweek("l_shipdate").isin(1, 7)).cast("int").alias("f_weekend"),
    )


@register(
    "stratified_split_summary",
    survey="U4",
    oracle="""
    WITH labeled AS (
        SELECT CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS label,
               CASE WHEN (l_orderkey * 31 + l_linenumber) % 10 < 7
                    THEN 'train' ELSE 'test' END AS split
        FROM lineitem
    )
    SELECT label, split, COUNT(*) AS n
    FROM labeled GROUP BY 1, 2
    """,
)
def stratified_split_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 70/30 stratified split (reference
    `train_test_split(test_size=0.3, stratify=y, random_state=42)`,
    `dags/classification_dag.py:103-106`) via key hashing instead of
    RNG: `(orderkey*31 + linenumber) % 10 < 7`. Hash splits are
    reproducible across cluster layouts and re-runs — the property the
    reference buys with random_state — and need no driver coordination.
    Returns the per-(label, split) contingency the stratification
    guarantee is judged by."""
    df = _labeled_lineitem(spark, sf_dir)
    split = F.when(
        (F.col("l_orderkey") * 31 + F.col("l_linenumber")) % 10 < 7,
        "train").otherwise("test")
    return (df.withColumn("split", split)
            .groupBy("label", "split").count()
            .select("label", "split", F.col("count").alias("n")))


@register(
    "rule_classifier_confusion",
    survey="U5,A3,A5",
    oracle="""
    WITH scored AS (
        SELECT CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS label,
               CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS pred
        FROM lineitem
    ),
    cm AS (
        SELECT
            SUM(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END) AS tp,
            SUM(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END) AS fp,
            SUM(CASE WHEN label = 1 AND pred = 0 THEN 1 ELSE 0 END) AS fn,
            SUM(CASE WHEN label = 0 AND pred = 0 THEN 1 ELSE 0 END) AS tn,
            COUNT(*) AS n
        FROM scored
    )
    SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           ROUND((tp + tn) * 1.0 / n, 6) AS accuracy,
           ROUND(tp * 1.0 / (tp + fp), 6) AS precision,
           ROUND(tp * 1.0 / (tp + fn), 6) AS recall,
           ROUND(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1
    FROM cm
    """,
)
def rule_classifier_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + accuracy/precision/recall/F1 as one
    conditional-aggregate pass (reference's classification_report /
    confusion_matrix, c.cell 16) — counts are integer-exact, ratios
    single divisions, fully oracle-checked."""
    df = _labeled_lineitem(spark, sf_dir)
    scored = df.select(
        "label", (F.col("f_qty") >= 25).cast("int").alias("pred"))
    tp = F.sum(((F.col("label") == 1) & (F.col("pred") == 1)).cast("long"))
    fp = F.sum(((F.col("label") == 0) & (F.col("pred") == 1)).cast("long"))
    fn = F.sum(((F.col("label") == 1) & (F.col("pred") == 0)).cast("long"))
    tn = F.sum(((F.col("label") == 0) & (F.col("pred") == 0)).cast("long"))
    cm = scored.agg(tp.alias("tp"), fp.alias("fp"), fn.alias("fn"),
                    tn.alias("tn"), F.count("*").alias("n"))
    tp_, fp_ = F.col("tp"), F.col("fp")
    fn_, tn_, n_ = F.col("fn"), F.col("tn"), F.col("n")
    return cm.select(
        "tp", "fp", "fn", "tn",
        F.round((tp_ + tn_) * 1.0 / n_, 6).alias("accuracy"),
        F.round(tp_ * 1.0 / (tp_ + fp_), 6).alias("precision"),
        F.round(tp_ * 1.0 / (tp_ + fn_), 6).alias("recall"),
        F.round(2.0 * tp_ / (2.0 * tp_ + fp_ + fn_), 6).alias("f1"),
    )


FEATURES = ["f_qty", "f_price", "f_tax", "f_month_sin", "f_month_cos",
            "f_weekend"]


@register("logreg_classifier_eval", survey="U3,U4,U5")
def logreg_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark ML pipeline for the reference's rain classifier
    (`dags/classification_dag.py:82-125`): hash-stratified 70/30 split,
    StandardScaler fitted on train only, logistic regression, scored
    distributed (`PipelineModel.transform` — no collect), evaluated
    with accuracy / AUC / confusion counts. Rows-only driver check;
    metric-range + determinism tests in tests/test_ml.py."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    # the single-file parquet scan arrives as ONE partition, and the
    # scaler-fit pass, LR's internal instance build, and the test-side
    # transform each re-run it single-threaded — spread once across the
    # cores and cache (LR's 20 treeAggregate rounds then run over an
    # in-memory, fully parallel instance RDD)
    from covid_weather_etl_spark.sources.catalog import spread
    df = spread(_labeled_lineitem(spark, sf_dir)).cache()
    split_key = (F.col("l_orderkey") * 31 + F.col("l_linenumber")) % 10
    train = df.filter(split_key < 7)
    test = df.filter(split_key >= 7)

    pipe = Pipeline(stages=[
        VectorAssembler(inputCols=FEATURES, outputCol="features_raw"),
        StandardScaler(inputCol="features_raw", outputCol="features",
                       withMean=True, withStd=True),
        LogisticRegression(featuresCol="features", labelCol="label",
                           maxIter=20, regParam=0.01, tol=1e-5),
    ])
    model = pipe.fit(train)
    # scored feeds two actions (AUC + confusion counts) — cache so the
    # assemble/scale/predict chain runs once
    scored = model.transform(test).select("label", "prediction",
                                          "rawPrediction").cache()
    auc = BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="rawPrediction",
        metricName="areaUnderROC").evaluate(scored)
    cm = scored.groupBy("label",
                        F.col("prediction").cast("int").alias("pred")) \
               .count().collect()
    scored.unpersist()
    df.unpersist()
    counts = {(r["label"], r["pred"]): r["count"] for r in cm}
    tp = counts.get((1, 1), 0)
    fp = counts.get((0, 1), 0)
    fn = counts.get((1, 0), 0)
    tn = counts.get((0, 0), 0)
    n = tp + fp + fn + tn
    return driver.local_frame(
        spark, [(tp, fp, fn, tn,
                 round((tp + tn) / n, 4), round(auc, 3))],
        "tp long, fp long, fn long, tn long, accuracy double, auc double")


# ---------------------------------------------------------------------------
# U3 graduation path — fixed-round IRLS logistic regression, SQL-replayable
# ---------------------------------------------------------------------------

#: fixed IRLS round count (production early-stops on the grid-snapped
#: step norm; a FIXED count is what makes the fit replayable).
IRLS_ROUNDS = 4
#: ridge added to every Gram diagonal — conditions the 4x4 solve and
#: keeps it non-singular even if a round saturates the sigmoid.
_IRLS_RIDGE = "1e-3"

#: IRLS sufficient statistics accumulate as exact nano-unit integers
#: (``grid_sum_sql(e, 9)``: every addend here is O(1) — w = mu(1-mu)
#: <= 0.25, |x_j| <= 1.04 — so the fine grid costs nothing and group
#: sums stay far under 2^63 through sf 1+). The per-row sigmoid and
#: the coefficients snap with ``fround_sql``, whose exponent-form text
#: both engines run.


def _irls_eta(d: str = "d", b: str = "b") -> str:
    """Left-associative linear predictor — ONE shared text, so both
    engines execute the identical IEEE op sequence."""
    return (f"((({b}.b0 + {b}.b1 * {d}.x1) + {b}.b2 * {d}.x2) "
            f"+ {b}.b3 * {d}.x3)")


def _irls_sums_sql(design_src: str, beta_src: str) -> str:
    """The 14 nano-grid sufficient-statistic sums of one IRLS round
    (per-row sigmoid snapped to the 1e-6 grid first) — the data-sized
    half of _irls_round_sql, exposed separately so the engine can run
    just the aggregate and replay the 4x4 Cramer solve on the driver
    (functions/numeric.det_val is the documented exact op-sequence
    twin of det_sql)."""
    mu = fround_sql(f"1e0 / (1e0 + EXP(0e0 - {_irls_eta()}))")
    mrows = (f"SELECT d.y, d.x1, d.x2, d.x3, "
             f"b.b0, b.b1, b.b2, b.b3, {mu} AS mu "
             f"FROM {design_src} d CROSS JOIN {beta_src} b "
             f"WHERE d.is_train")
    w = "(mu * (1e0 - mu))"
    r = "(y - mu)"
    terms = {
        "s00": w,
        "s01": f"({w} * x1)", "s02": f"({w} * x2)", "s03": f"({w} * x3)",
        "s11": f"(({w} * x1) * x1)", "s12": f"(({w} * x1) * x2)",
        "s13": f"(({w} * x1) * x3)", "s22": f"(({w} * x2) * x2)",
        "s23": f"(({w} * x2) * x3)", "s33": f"(({w} * x3) * x3)",
        "g0": r,
        "g1": f"({r} * x1)", "g2": f"({r} * x2)", "g3": f"({r} * x3)",
    }
    return (f"SELECT b0, b1, b2, b3, "
            + ", ".join(f"{grid_sum_sql(e, 9)} AS {k}"
                        for k, e in terms.items())
            + f" FROM ({mrows}) mm GROUP BY b0, b1, b2, b3")


def _irls_round_sql(design_src: str, beta_src: str) -> str:
    """One IRLS (Newton) round as shared SQL text: per-row sigmoid
    snapped to the 1e-6 grid, 14 nano-grid integer sums, the 4x4
    ridge-damped normal equations solved by the shared-term-order
    Cramer expansion, and the updated coefficients snapped back to
    the 1e-6 grid (so every round STARTS from grid numbers)."""
    sums = _irls_sums_sql(design_src, beta_src)
    lam = _IRLS_RIDGE
    A = [[f"(s.s00 + {lam})", "s.s01", "s.s02", "s.s03"],
         ["s.s01", f"(s.s11 + {lam})", "s.s12", "s.s13"],
         ["s.s02", "s.s12", f"(s.s22 + {lam})", "s.s23"],
         ["s.s03", "s.s13", "s.s23", f"(s.s33 + {lam})"]]
    g = ["s.g0", "s.g1", "s.g2", "s.g3"]
    newb = ", ".join(
        fround_sql(f"(s.b{k} + {cramer_sql(A, g, k)})") + f" AS b{k}"
        for k in range(4))
    return f"SELECT {newb} FROM ({sums}) s"


def _irls_eval_sql(design_src: str, beta_src: str) -> str:
    """Held-out confusion + accuracy for the fitted coefficients:
    pred = 1 iff the linear predictor is >= 0 (mu >= 1/2) — an
    integer-exact rule, no sigmoid on the eval path."""
    eta = _irls_eta()
    pred = f"CASE WHEN {eta} >= 0e0 THEN 1 ELSE 0 END"
    y1 = "d.y = 1e0"
    return f"""
    SELECT b.b0 AS b0, b.b1 AS b1, b.b2 AS b2, b.b3 AS b3,
           CAST(SUM(CASE WHEN {y1} AND {pred} = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN NOT ({y1}) AND {pred} = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN {y1} AND {pred} = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN NOT ({y1}) AND {pred} = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS tn,
           {fround_sql("SUM(CASE WHEN (CASE WHEN " + y1 + " THEN 1 ELSE 0 END)"
                       " = " + pred + " THEN 1e0 ELSE 0e0 END) / COUNT(*)")}
               AS accuracy
    FROM {design_src} d CROSS JOIN {beta_src} b
    WHERE NOT d.is_train
    GROUP BY b.b0, b.b1, b.b2, b.b3
    """


_IRLS_DESIGN_DUCK = """
    SELECT CASE WHEN l_discount > 0.05 THEN 1.0 ELSE 0.0 END AS y,
           l_quantity / 25.0 - 1.0 AS x1,
           l_tax * 10.0 AS x2,
           CASE WHEN dayofweek(l_shipdate) IN (0, 6)
                THEN 1.0 ELSE 0.0 END AS x3,
           (l_orderkey * 31 + l_linenumber) % 10 < 7 AS is_train
    FROM lineitem
"""

_IRLS_B0 = ("SELECT 0e0 AS b0, 0e0 AS b1, "
            "0e0 AS b2, 0e0 AS b3")


def _irls_oracle_sql() -> str:
    ctes = [f"design AS ({_IRLS_DESIGN_DUCK})", f"ib0 AS ({_IRLS_B0})"]
    for r in range(1, IRLS_ROUNDS + 1):
        ctes.append(f"ib{r} AS ({_irls_round_sql('design', f'ib{r-1}')})")
    return ("WITH " + ", ".join(ctes)
            + _irls_eval_sql("design", f"ib{IRLS_ROUNDS}"))


@register(
    "irls_logreg_fit",
    survey="U3,U4,U5,F10",
    oracle=_irls_oracle_sql(),
)
def irls_logreg_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression fit by FIXED-ROUND IRLS (Newton-Raphson),
    fully SQL-replayable — the graduation path the 6-feature
    pyspark.ml twin (logreg_classifier_eval, LBFGS internals) cannot
    take (verdict r8 #5; PARITY.md §11). Same task (the reference's
    rain classifier analog, `dags/classification_dag.py:82-125`:
    discounted = l_discount > 0.05), same hash 70/30 split; 3 bounded
    features + intercept (qty/25-1, tax*10, weekend — all in
    [-1.04, 1]) keep the per-round normal equations 4x4, i.e.
    Cramer-expressible in the shared-term-order Leibniz expansion
    (functions/numeric.cramer_sql — the ar_forecast/markov technique).

    Replay discipline, per round: the linear predictor is ONE shared
    left-associative text over grid coefficients; the sigmoid is the
    single transcendental and its output is snapped to the 1e-6 grid
    immediately (the ngram_perplexity EXP discipline — a sub-ULP
    engine difference flips a snap only within ~1e-10 of a grid
    boundary); the 14 sufficient statistics accumulate as exact
    nano-unit integers (order-free); the ridge-damped 4x4 solve is
    shared Cramer text; updated coefficients snap back to the 1e-6
    grid, so round r+1 starts from identical numbers on both engines.
    {IRLS_ROUNDS} rounds unrolled (fixed count = replayable; the
    production variant early-stops on the snapped step norm). Eval is
    sigmoid-free: pred = (eta >= 0).

    Plan: one design scan per round (4 map-combinable aggregate
    passes over the cached design — at 100 TB each is one
    tree-aggregate of 14 doubles) + one eval pass; each round's four
    grid coefficients return to the driver (a bounded scalar collect)
    and enter the next round as EXACT exponent literals, so Catalyst
    never analyzes a chain of nested determinant texts (the
    ar_forecast stage-cut, without the temp-view checkpoints)."""
    from covid_weather_etl_spark.sources.catalog import spread
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = t["lineitem"]
    design = li.select(
        F.when(F.col("l_discount") > 0.05, 1.0).otherwise(0.0).alias("y"),
        (F.col("l_quantity") / 25.0 - 1.0).alias("x1"),
        (F.col("l_tax") * 10.0).alias("x2"),
        F.when(F.dayofweek("l_shipdate").isin(1, 7), 1.0)
        .otherwise(0.0).alias("x3"),
        ((F.col("l_orderkey") * 31 + F.col("l_linenumber")) % 10 < 7)
        .alias("is_train"))
    # spread across the cores BEFORE checkpointing: the single-file
    # scan arrives as ~3 partitions and every IRLS round would run
    # its 14-sum aggregate nearly single-threaded otherwise
    spread(design).localCheckpoint(eager=False) \
        .createOrReplaceTempView("irls_design_v")

    def _blit(b: tuple) -> str:
        # coefficients are EXACTLY k/1e6 doubles (the grid snap), so
        # the exponent literal "{k}e-6" parses back to the identical
        # double on both engines — the round's 4 scalars ride the
        # driver as exact text, never as re-rounded floats (a bounded
        # 4-value collect per round, the stats.py refinement shape)
        ks = [int(round(v * 1e6)) for v in b]
        return ("(SELECT " + ", ".join(
            f"CAST({k}e-6 AS DOUBLE) AS b{i}" for i, k in enumerate(ks))
            + ")")

    # r13: per round the engine runs ONLY the 14-stat aggregate and the
    # driver replays the ridge-damped Cramer solve with det_val — the
    # exact op-sequence twin of det_sql (same signed_perms term order,
    # left-associative products/sums), so the grid coefficients are
    # bit-identical to the old in-plan solve (pinned in tests/test_ml)
    # while Catalyst no longer analyzes ~800 determinant ops per round
    # (the dominant per-round cost: planning, not the aggregate).
    from covid_weather_etl_spark.functions.numeric import det_val
    lam = float(_IRLS_RIDGE)
    beta = (0.0, 0.0, 0.0, 0.0)
    for _ in range(IRLS_ROUNDS):
        s = spark.sql(
            _irls_sums_sql("irls_design_v", _blit(beta))).first()
        A = [[s.s00 + lam, s.s01, s.s02, s.s03],
             [s.s01, s.s11 + lam, s.s12, s.s13],
             [s.s02, s.s12, s.s22 + lam, s.s23],
             [s.s03, s.s13, s.s23, s.s33 + lam]]
        g = [s.g0, s.g1, s.g2, s.g3]
        det_a = det_val(A)
        if det_a == 0.0:
            # singular on the driver: fall back to the in-plan solve
            # for this round rather than dividing by zero
            beta = tuple(spark.sql(_irls_round_sql(
                "irls_design_v", _blit(beta))).first())
            continue
        beta = tuple(
            fround_val(beta[k] + det_val(
                [[g[r] if c == k else A[r][c] for c in range(4)]
                 for r in range(4)]) / det_a)
            for k in range(4))
    return spark.sql(_irls_eval_sql("irls_design_v", _blit(beta)))


# ---------------------------------------------------------------------------
# U2 — per-group seasonal-ARIMA forecast + eval (SARIMAX parity path)
# ---------------------------------------------------------------------------

# The reference's flagship forecast is per-country SARIMAX with
# auto-ARIMA order search and an 80/20 chronological split
# (`dags/forecasting_dag.py:127-231`; anchors in BASELINE.md: MAE
# 2.073–2.161 on Moldova tavg_diff with (1,1,1)(1,1,1,12)). statsmodels
# is not available in this environment, so the model here is the pure-
# numpy AR approximation of the same family: SARIMA(p,d,0)(P,D,0,s)
# fit by least squares on the (d,D,s)-differenced series — MA terms are
# approximated by the longer AR lags (AR(∞) representation). The order
# search below mirrors `find_optimal_parameters` (auto_arima, stepwise)
# as a small AIC grid over (p, P). Parity with the BASELINE anchor band
# is asserted in tests/test_ml.py on a reference-shaped seasonal
# fixture.

SARIMA_SEASON = 7   # weekly cycle for the daily revenue series
_SARIMA_GRID = [(p, P) for p in (1, 2, 3) for P in (0, 1)]


def _sarima_fit(z: np.ndarray, p: int, P: int, s: int):
    """LS fit of an AR with lags 1..p and s..P·s on the differenced
    series z. Returns (coef, lags, sse, n_eff) or None if too short."""
    lags = list(range(1, p + 1)) + [s * k for k in range(1, P + 1)]
    maxlag = max(lags)
    n_eff = len(z) - maxlag
    if n_eff < len(lags) + 3:
        return None
    X = np.column_stack(
        [np.ones(n_eff)] + [z[maxlag - l:len(z) - l] for l in lags])
    target = z[maxlag:]
    coef, *_ = np.linalg.lstsq(X, target, rcond=None)
    sse = float(np.sum((target - X @ coef) ** 2))
    return coef, lags, sse, n_eff


def _sarima_forecast(y: np.ndarray, steps: int,
                     s: int = SARIMA_SEASON) -> np.ndarray | None:
    """Seasonal difference (D=1) → ADF-test-selected regular difference
    (d ∈ {0,1}, auto_arima's `d=None` behavior) → AIC-selected AR fit →
    recursive forecast → exact inversion. Pure numpy. Hardcoding d=1
    measured 3× worse than the test-selected d on seasonal fixtures —
    over-differencing turns the residual into an MA process the AR
    approximation tracks poorly over long horizons."""
    if len(y) < 3 * s + 8 or steps < 1:
        return None
    z1 = y[s:] - y[:-s]                     # Δ_s y
    stat = adf_stat(z1)
    d = 0 if stat == stat and stat < ADF_CRIT_5PCT else 1
    z = np.diff(z1) if d else z1
    best = None
    for p, P in _SARIMA_GRID:
        fit = _sarima_fit(z, p, P, s)
        if fit is None:
            continue
        coef, lags, sse, n_eff = fit
        # Gaussian AIC up to a constant: n·ln(SSE/n) + 2k
        aic = n_eff * math.log(max(sse, 1e-300) / n_eff) + 2 * (len(lags) + 1)
        if best is None or aic < best[0]:
            best = (aic, coef, lags)
    if best is None:
        return None
    _, coef, lags = best
    hist = list(z)
    fc_z = []
    for _ in range(steps):
        nxt = float(coef[0] + sum(coef[i + 1] * hist[-l]
                                  for i, l in enumerate(lags)))
        fc_z.append(nxt)
        hist.append(nxt)
    # invert regular diff (ẑ1_{T+h} = ẑ_{T+h} + ẑ1_{T+h-1}) ...
    if d:
        z1_tail = float(z1[-1])
        inv = []
        for v in fc_z:
            z1_tail += v
            inv.append(z1_tail)
        fc_z = inv
    # ... then seasonal: ŷ_{T+h} = ẑ1_{T+h} + ŷ_{T+h-s}
    y_ext = list(y)
    for h in range(steps):
        y_ext.append(fc_z[h] + y_ext[len(y) + h - s])
    return np.asarray(y_ext[len(y):])


_SARIMA_EVAL_SCHEMA = T.StructType([
    T.StructField("n_name", T.StringType()),
    T.StructField("n_train", T.IntegerType()),
    T.StructField("n_test", T.IntegerType()),
    T.StructField("mae", T.DoubleType()),
    T.StructField("rmse", T.DoubleType()),
    T.StructField("r2", T.DoubleType()),
])


def _sarima_eval_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """One group's 80/20 chrono split + seasonal-ARIMA fit + forecast
    eval — the per-country body of the reference's forecasting DAG
    (`prepare_train_test_data` → `train_forecasting_model` →
    `forecast_and_evaluate`, dags/forecasting_dag.py:95-231)."""
    pdf = pdf.sort_values("d")
    y = pdf["y"].to_numpy(dtype=np.float64)
    name = pdf["n_name"].iloc[0]
    n_train = int(len(y) * 0.8)
    train, test = y[:n_train], y[n_train:]
    fc = _sarima_forecast(train, len(test))
    if fc is None or not len(test):
        return pd.DataFrame([{
            "n_name": name, "n_train": n_train, "n_test": len(test),
            "mae": float("nan"), "rmse": float("nan"), "r2": float("nan")}])
    err = test - fc
    mae = float(np.mean(np.abs(err)))
    rmse = float(np.sqrt(np.mean(err ** 2)))
    denom = float(np.sum((test - test.mean()) ** 2))
    r2 = float(1.0 - np.sum(err ** 2) / denom) if denom > 0 else float("nan")
    return pd.DataFrame([{
        "n_name": name, "n_train": n_train, "n_test": len(test),
        "mae": round(mae, 6), "rmse": round(rmse, 6), "r2": round(r2, 6)}])


@register("sarima_forecast_eval", survey="U2,U5,W5")
def sarima_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation seasonal-ARIMA forecast evaluation — the Spark
    restatement of the reference's SARIMAX-per-country DAG
    (`dags/forecasting_dag.py:127-231`): chronological 80/20 split,
    AIC order search (auto-ARIMA analog), fit on train only, forecast
    the full test horizon, MAE/RMSE/R². One Arrow batch per nation via
    `groupBy.applyInPandas` — embarrassingly parallel across groups at
    100 TB (each country's series fits one task; no cross-group data).
    Rows-only driver check; anchor-band parity on a reference-shaped
    seasonal fixture in tests/test_ml.py."""
    daily = nation_daily(spark, sf_dir)
    return (daily.groupBy("n_name")
            .applyInPandas(_sarima_eval_group, schema=_SARIMA_EVAL_SCHEMA)
            .orderBy("n_name"))


# ---------------------------------------------------------------------------
# U2/U5 — fixed-path SARIMA via Hannan-Rissanen: the graduation twin
# ---------------------------------------------------------------------------

# The SARIMA graduation attempt (verdict r11 #5): the auto-order numpy
# query above cannot graduate (AIC grid + ADF-selected d = a
# data-dependent MODEL CHOICE cascade; see PARITY.md §11 addendum),
# but the FIXED-order family member can, by the irls precedent: pin
# the order at ARIMA(1,1,1)(0,1,0)_7 and fit by the Hannan-Rissanen
# two-stage CLOSED FORM — (1) a long-AR(3) least squares on the
# doubly-differenced series yields residuals that estimate the
# innovations; (2) ONE more least squares of w_t on [1, w_{t-1},
# e_{t-1}] yields (c, phi, theta). Both stages are linear solves =
# shared-term-order Cramer text (the ar_forecast_per_group 4x4 reused
# VERBATIM for stage 1; a 3x3 for stage 2). No iteration anywhere.

_HR_SEASON = 7   # weekly cycle, same unit as SARIMA_SEASON
_HR_H = 7        # forecast horizon == season, so the seasonal
                 # inversion needs only TRAIN values (no feedback)

_HR_A = [["n2", "t1", "t2"],
         ["t1", "t11", "t12"],
         ["t2", "t12", "t22"]]
_HR_B = ["ty", "t1y", "t2y"]

def _hr_series_sql(src: str) -> str:
    """rn/cnt indexing, the 80/20 cut, and the (D=1,s=7)(d=1) double
    difference w = Δ1 Δ7 y — pure window algebra, shared text."""
    return f"""
    SELECT n_name, rn, cnt, ntr, y, z1,
           z1 - LAG(z1, 1) OVER (PARTITION BY n_name ORDER BY rn) AS w
    FROM (
        SELECT n_name, rn, cnt,
               CAST(FLOOR(cnt * 8e-1) AS INT) AS ntr, y,
               y - LAG(y, {_HR_SEASON})
                   OVER (PARTITION BY n_name ORDER BY rn) AS z1
        FROM (
            SELECT n_name, y,
                   ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY d)
                       AS rn,
                   COUNT(*) OVER (PARTITION BY n_name) AS cnt
            FROM {src}
        ) b
    ) z
    """


def _hr_train_sql(series_src: str) -> str:
    """TRAIN slice of the differenced series, shaped (n_name, d, y) so
    the ar_forecast_per_group design/sums/Cramer fragments apply
    verbatim (d = rn, y = w)."""
    return f"""
    SELECT n_name, rn AS d, w AS y FROM {series_src}
    WHERE w IS NOT NULL AND rn <= ntr
    """


def _hr_resid_sql(design_src: str, coef_src: str) -> str:
    """Stage-1 innovations estimate: e = w - AR(3) fit, snapped to the
    1e-6 grid so stage 2 starts from identical numbers cross-engine
    (the irls re-snap discipline)."""
    eta = "(c.c0 + c.c1 * d.y1 + c.c2 * d.y2 + c.c3 * d.y3)"
    return f"""
    SELECT d.n_name, d.d, d.y, d.y1,
           {fround_sql(f'd.y - {eta}')} AS e
    FROM {design_src} d JOIN {coef_src} c ON c.n_name = d.n_name
    """


def _hr_design2_sql(resid_src: str) -> str:
    return f"""
    SELECT * FROM (
        SELECT n_name, d, y AS wv, y1 AS w1,
               LAG(e, 1) OVER (PARTITION BY n_name ORDER BY d) AS e1
        FROM {resid_src}
    ) r WHERE e1 IS NOT NULL
    """


def _hr_sums2_sql(d2_src: str) -> str:
    """Stage-2 sufficient statistics over [1, w_{{t-1}}, e_{{t-1}}] —
    all nine accumulate on the exact centi-unit integer grid
    (order-free, map-combinable)."""
    return f"""
    SELECT n_name, CAST(COUNT(*) AS DOUBLE) AS n2,
           {grid_sum_sql('w1', 2)} AS t1, {grid_sum_sql('e1', 2)} AS t2,
           {grid_sum_sql('wv', 2)} AS ty,
           {grid_sum_sql('w1 * w1', 2)} AS t11,
           {grid_sum_sql('w1 * e1', 2)} AS t12,
           {grid_sum_sql('e1 * e1', 2)} AS t22,
           {grid_sum_sql('w1 * wv', 2)} AS t1y,
           {grid_sum_sql('e1 * wv', 2)} AS t2y
    FROM {d2_src} GROUP BY n_name
    HAVING COUNT(*) >= 4
    """


def _hr_coef2_sql(sums2_src: str) -> str:
    c = {f"k{k}": cramer_sql(_HR_A, _HR_B, k) for k in range(3)}
    return f"""
    SELECT n_name, {c['k0']} AS cc, {c['k1']} AS phi, {c['k2']} AS theta
    FROM {sums2_src}
    """


def _hr_final_sql(series_src: str, resid_src: str, coef2_src: str) -> str:
    """Boundary scalars + the 7-step unrolled forecast + inversion.
    With horizon == season, the seasonal inversion ŷ_{{T+h}} =
    ẑ1_{{T+h}} + y_{{T+h-7}} reads only TRAIN values b1..b7 — no
    forecast feedback — and the d=1 inversion is the chained partial
    sum zc_h = zc_{{h-1}} + f_h; theta enters step 1 only (future
    innovations are zero)."""
    bcols = ", ".join(
        f"MAX(CASE WHEN rn = ntr - {6 - h} THEN y END) AS b{h + 1}"
        for h in range(_HR_H))
    acols = ", ".join(
        f"MAX(CASE WHEN rn = ntr + {h + 1} THEN y END) AS a{h + 1}"
        for h in range(_HR_H))
    zchain = ", ".join(
        f"z{h}c AS (SELECT *, zc{h - 1} + f{h} AS zc{h} FROM z{h - 1}c)"
        for h in range(2, _HR_H + 1))
    gchain = ", ".join(
        f"g{h} AS (SELECT *, cc + phi * f{h - 1} AS f{h} FROM g{h - 1})"
        for h in range(2, _HR_H + 1))
    ycols = ", ".join(f"zc{h} + b{h} AS yh{h}" for h in range(1, _HR_H + 1))
    steps = " UNION ALL ".join(
        f"SELECT n_name, {h} AS step, ntr, yh{h} AS fc, a{h} AS actual "
        f"FROM yh" for h in range(1, _HR_H + 1))
    return f"""
    bounds AS (
        SELECT n_name, MAX(cnt) AS cnt, MAX(ntr) AS ntr,
               MAX(CASE WHEN rn = ntr THEN z1 END) AS z1t,
               {bcols}, {acols}
        FROM {series_src} GROUP BY n_name
    ), lastr AS (
        SELECT r.n_name, r.y AS wt, r.e AS et,
               b.cnt, b.ntr, b.z1t,
               {', '.join(f'b.b{h}' for h in range(1, _HR_H + 1))},
               {', '.join(f'b.a{h}' for h in range(1, _HR_H + 1))},
               c.cc, c.phi, c.theta
        FROM {resid_src} r
        JOIN bounds b ON b.n_name = r.n_name AND r.d = b.ntr
        JOIN {coef2_src} c ON c.n_name = r.n_name
        WHERE b.cnt >= b.ntr + {_HR_H}
    ),
    g1 AS (SELECT *, cc + phi * wt + theta * et AS f1 FROM lastr),
    {gchain},
    z1c AS (SELECT *, z1t + f1 AS zc1 FROM g{_HR_H}),
    {zchain},
    yh AS (SELECT *, {ycols} FROM z{_HR_H}c),
    steps AS ({steps})
    SELECT n_name, CAST(step AS INT) AS step, CAST(ntr AS INT) AS n_train,
           {fround_sql('fc')} AS forecast, {fround_sql('actual')} AS actual,
           {fround_sql('ABS(fc - actual)')} AS abs_err
    FROM steps
    """


def _hr_oracle_sql() -> str:
    """Single-text DuckDB composition — stage-1 fragments shared with
    ar_forecast_per_group verbatim."""
    return (f"WITH {_NATION_DAILY_SQL}, "
            f"hr_series AS ({_hr_series_sql('nation_daily')}), "
            f"hr_train AS ({_hr_train_sql('hr_series')}), "
            f"hr_design AS ({_ar_design_sql('hr_train')}), "
            f"hr_sums AS ({_ar_sums_sql('hr_design')}), "
            f"hr_coef AS ({_ar_coef_sql('hr_sums')}), "
            f"hr_resid AS ({_hr_resid_sql('hr_design', 'hr_coef')}), "
            f"hr_d2 AS ({_hr_design2_sql('hr_resid')}), "
            f"hr_sums2 AS ({_hr_sums2_sql('hr_d2')}), "
            f"hr_coef2 AS ({_hr_coef2_sql('hr_sums2')}), "
            + _hr_final_sql("hr_series", "hr_resid", "hr_coef2"))


@register(
    "sarima_hr_forecast_eval",
    survey="U2,U5,W5",
    oracle=_hr_oracle_sql(),
)
def sarima_hr_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation SARIMA with a FIXED order and a DETERMINISTIC
    closed-form fit path — the graduation twin of the rows-only
    auto-order query above (verdict r11 #5), standing to
    sarima_forecast_eval exactly as irls_logreg_fit stands to
    logreg_classifier_eval: same reference task (per-country SARIMAX,
    `dags/forecasting_dag.py:127-231`, 80/20 chrono split), the
    data-dependent model search replaced by the pinned
    ARIMA(1,1,1)(0,1,0)_7 the reference's own headline anchor uses a
    (1,1,1)-family member of, and every float step SQL-replayable:

      difference   w = Δ1 Δ7 y (window lags — exact IEEE, shared text)
      stage 1      long-AR(3) on train w — the ar_forecast_per_group
                   design/14-sums/4x4 Cramer fragments REUSED VERBATIM
                   (exact centi-grid integer accumulation, order-free)
      innovations  e = w - fit, snapped to the 1e-6 grid (irls re-snap)
      stage 2      w_t ~ [1, w_{t-1}, e_{t-1}] (Hannan-Rissanen):
                   nine centi-grid sums, 3x3 shared-term-order Cramer
                   -> (c, phi, theta) — MA estimated WITHOUT iteration
      forecast     7 steps unrolled as chained CTEs; theta enters step
                   1 only (future innovations = 0); horizon == season
                   makes the seasonal inversion feedback-free (reads
                   only the last 7 TRAIN values); the d=1 inversion is
                   a chained partial sum
      eval         per-step forecast/actual/abs_err on the 1e-6 grid
                   over the first 7 test days — per-step rows, so no
                   cross-engine aggregate-order question exists

    The driver hash is therefore a cross-engine replay of the ENTIRE
    fit+forecast: identical IEEE op sequences via shared SQL text,
    order-free accumulations, grid re-snaps between stages. What still
    cannot graduate — and why this query does not subsume the numpy
    twin — is the auto-order search itself (AIC over 6 fits + an
    ADF-gated d: a float-ranked argmin whose tie distances approach
    ULPs; PARITY.md §11).

    Plan: one shuffle on (nation, day) for the base series; every
    window is nation-partitioned (25 bounded groups; no global
    window); the two sufficient-statistic aggregates are
    map-combinable single passes; coefficient frames are one row per
    nation, localCheckpointed so Catalyst never inlines the 120-term
    determinants into the forecast chain (the ar_forecast stage-cut).
    At 100 TB: the series aggregate dominates and scales as one
    combinable shuffle; everything after it is per-group scalar
    algebra on 25-row frames."""
    daily = nation_daily(spark, sf_dir)
    daily.localCheckpoint(eager=False).createOrReplaceTempView("hr_nd_v")
    spark.sql(_hr_series_sql("hr_nd_v")) \
        .localCheckpoint(eager=False) \
        .createOrReplaceTempView("hr_series_v")
    spark.sql(_hr_train_sql("hr_series_v")) \
        .createOrReplaceTempView("hr_train_v")
    spark.sql(_ar_design_sql("hr_train_v")) \
        .createOrReplaceTempView("hr_design_v")
    spark.sql(_ar_sums_sql("hr_design_v")) \
        .createOrReplaceTempView("hr_sums_v")
    coef = spark.sql(_ar_coef_sql("hr_sums_v"))
    coef.localCheckpoint(eager=False).createOrReplaceTempView("hr_coef_v")
    spark.sql(_hr_resid_sql("hr_design_v", "hr_coef_v")) \
        .localCheckpoint(eager=False) \
        .createOrReplaceTempView("hr_resid_v")
    spark.sql(_hr_design2_sql("hr_resid_v")) \
        .createOrReplaceTempView("hr_d2_v")
    spark.sql(_hr_sums2_sql("hr_d2_v")) \
        .createOrReplaceTempView("hr_sums2_v")
    coef2 = spark.sql(_hr_coef2_sql("hr_sums2_v"))
    coef2.localCheckpoint(eager=False).createOrReplaceTempView("hr_coef2_v")
    return spark.sql(
        "WITH " + _hr_final_sql("hr_series_v", "hr_resid_v", "hr_coef2_v")) \
        .orderBy("n_name", "step")


# ---------------------------------------------------------------------------
# U2/U5 — Fourier trend regression (Prophet parity path)
# ---------------------------------------------------------------------------

# The reference's Prophet forecast (BASELINE.md: RMSE 2.763 / MAE 2.135,
# notebooks/weather_forecasting.ipynb cell 25) is additive trend +
# Fourier seasonality + exogenous regressors (prcp/season/wspd/snow/
# pres, `add_regressor` per column). The same family in closed form:
# OLS on [1, t, sin/cos harmonics | exog columns] — fit per group in
# one applyInPandas body, forecast by extending the design matrix with
# the regressors' observed test-window values (the reference likewise
# feeds actual weather covariates for the forecast horizon). Anchor-
# band parity + planted-exog coefficient recovery in tests/test_ml.py.

FOURIER_K = 3

#: exogenous regressor columns of the per-nation daily series — the
#: engine's analog of the reference's weather covariates.
EXOG_COLS = ("n_orders", "urgent_share")


def _fourier_design(t: np.ndarray, period: float,
                    k: int = FOURIER_K) -> np.ndarray:
    cols = [np.ones(len(t)), t]
    for h in range(1, k + 1):
        w = 2.0 * math.pi * h / period
        cols += [np.sin(w * t), np.cos(w * t)]
    return np.column_stack(cols)


def _fourier_fit(y: np.ndarray, period: float, k: int = FOURIER_K,
                 X: np.ndarray | None = None) -> np.ndarray | None:
    """OLS coefficients of y ~ [1, t, harmonics | exog] on t=0..n-1.
    Returns None when the system is under-determined. Coefficient
    layout: 2 + 2k trend/seasonal terms, then one β per exog column."""
    n = len(y)
    n_exog = 0 if X is None else X.shape[1]
    if n < 2 * k + 4 + n_exog:
        return None
    D = _fourier_design(np.arange(n), period, k)
    if X is not None:
        D = np.column_stack([D, X[:n]])
    coef, *_ = np.linalg.lstsq(D, y, rcond=None)
    return coef


def _fourier_forecast(y: np.ndarray, steps: int, period: float,
                      k: int = FOURIER_K,
                      X: np.ndarray | None = None) -> np.ndarray | None:
    """Fit y ~ trend + K Fourier harmonics (+ exog βs when X is given)
    on t = 0..n-1; predict the next `steps` points. X must cover the
    forecast horizon too (rows n..n+steps-1) — exogenous regressors
    are known covariates, exactly the reference's Prophet
    `add_regressor` contract. Pure numpy."""
    n = len(y)
    if steps < 1:
        return None
    coef = _fourier_fit(y, period, k, X)
    if coef is None:
        return None
    t_f = np.arange(n, n + steps, dtype=np.float64)
    Df = _fourier_design(t_f, period, k)
    if X is not None:
        Df = np.column_stack([Df, X[n:n + steps]])
    return Df @ coef


def _fourier_eval_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("d")
    y = pdf["y"].to_numpy(dtype=np.float64)
    name = pdf["n_name"].iloc[0]
    have_exog = all(c in pdf.columns for c in EXOG_COLS)
    X = (pdf[list(EXOG_COLS)].to_numpy(dtype=np.float64)
         if have_exog else None)
    n_train = int(len(y) * 0.8)
    test = y[n_train:]
    fc = _fourier_forecast(y[:n_train], len(test),
                           period=float(SARIMA_SEASON), X=X)
    if fc is None or not len(test):
        return pd.DataFrame([{
            "n_name": name, "n_train": n_train, "n_test": len(test),
            "mae": float("nan"), "rmse": float("nan"), "r2": float("nan")}])
    err = test - fc
    denom = float(np.sum((test - test.mean()) ** 2))
    return pd.DataFrame([{
        "n_name": name, "n_train": n_train, "n_test": len(test),
        "mae": round(float(np.mean(np.abs(err))), 6),
        "rmse": round(float(np.sqrt(np.mean(err ** 2))), 6),
        "r2": round(float(1.0 - np.sum(err ** 2) / denom), 6)
        if denom > 0 else float("nan")}])


def nation_daily_exog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation_daily plus the exogenous covariates: daily order count
    and urgent-order share — computed in the SAME single shuffle as y
    (extra aggregates are free map-side)."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    return (
        t["orders"]
        .join(F.broadcast(t["customer"]),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.to_date("o_orderdate").alias("d"))
        .agg(dsum("o_totalprice").alias("y"),
             F.count("*").alias("n_orders"),
             F.avg((F.col("o_orderpriority") == "1-URGENT")
                   .cast("double")).alias("urgent_share"))
        .withColumn("x", F.datediff("d", F.lit(EPOCH)))
    )


@register("fourier_trend_forecast_eval", survey="U2,U5,W5")
def fourier_trend_forecast_eval(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Per-nation additive trend + Fourier seasonality + exogenous
    regressors forecast eval — the closed-form restatement of the
    reference's full Prophet model incl. `add_regressor` covariates
    (same 80/20 chrono protocol as sarima_forecast_eval; test-window
    regressor values are observed covariates, as in the notebook).
    One Arrow batch per group; embarrassingly parallel. Rows-only
    driver check; Prophet anchor-band parity + planted-exog recovery
    on reference-shaped fixtures in tests/test_ml.py."""
    daily = nation_daily_exog(spark, sf_dir)
    return (daily.groupBy("n_name")
            .applyInPandas(_fourier_eval_group, schema=_SARIMA_EVAL_SCHEMA)
            .orderBy("n_name"))


# ---------------------------------------------------------------------------
# U2/U3/U5 — GBT regressor with lag/rolling features (notebook parity)
# ---------------------------------------------------------------------------

REG_LAGS = 7
REG_ROLLS = (3, 7, 14, 30)


def _lag_rolling_features(daily: DataFrame) -> DataFrame:
    """The reference regressor's feature set (BASELINE.md: lag 1–7 +
    rolling {3,7,14,30} means, weather_forecasting.ipynb cell 36) over
    the per-nation daily series. Rolling means use STRICTLY PAST rows
    (-m..-1) — the reference's leakage caveat ('linear models reach
    RMSE≈0 via leaky rolling features') is exactly why the current row
    must stay out of its own feature window."""
    w = W.partitionBy("n_name").orderBy("d")
    cols = [F.lag("y", k).over(w).alias(f"lag_{k}")
            for k in range(1, REG_LAGS + 1)]
    cols += [F.avg("y").over(w.rowsBetween(-m, -1)).alias(f"roll_{m}")
             for m in REG_ROLLS]
    wp = W.partitionBy("n_name")
    return (daily
            .select("n_name", "d", "y", *cols,
                    F.row_number().over(w).alias("rn"),
                    F.count("*").over(wp).alias("n_total"))
            .dropna())


@register("gbt_regressor_eval", survey="U2,U3,U5,W2,W4")
def gbt_regressor_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted-trees REGRESSOR on lag+rolling features with a
    chronological 80/20 split — the Spark restatement of the
    reference's best honest ML regressor (BASELINE.md: GB RMSE 1.341 /
    MAE 1.039 / R² 0.926 with the same feature recipe; the chrono
    split is the final TimeSeriesSplit fold, grid search replaced by
    fixed seeded hyperparameters). Feature building is pure window
    algebra; fit is distributed; scoring is PipelineModel.transform;
    metrics are decimal-rounded aggregates. Rows-only driver check;
    determinism + invariant tests in tests/test_ml.py. NOTE: on the
    driver's TPC-H-ish revenue series R² ≈ 0 is the CORRECT honest
    result — daily order revenue has no serial memory, unlike the
    reference's temperature target where the same recipe earns
    R² 0.926; the operator demonstrates the pipeline, the anchors
    live on the reference-shaped fixture tests."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import GBTRegressor

    # Boosting is sequential — 10 rounds of full passes over train —
    # so at this row count (tens of thousands) wall time is task
    # scheduling, not compute: build the window-algebra feature frame
    # ONCE, hash-repartitioned to a few EVEN partitions and cached,
    # and derive both splits from it — each boosting round is then a
    # handful of equal-sized in-memory tasks (coalesce left the
    # unshuffled skew of the upstream window stage in place; the
    # keyed repartition is layout-independent and thus deterministic
    # regardless of input file splits; fit 2.8→2.4 s measured). At
    # 100 TB the partition count scales back up with the data; the
    # knob is rows-per-task, not a constant.
    feats = (_lag_rolling_features(nation_daily(spark, sf_dir))
             .repartition(8, F.col("n_name"), F.col("rn")).cache())
    fcols = ([f"lag_{k}" for k in range(1, REG_LAGS + 1)]
             + [f"roll_{m}" for m in REG_ROLLS])
    cut = F.floor(F.col("n_total") * 0.8).cast("long")
    train = feats.filter(F.col("rn") <= cut)
    test = feats.filter(F.col("rn") > cut)
    # maxBins=16: the feature space is 10 lag/rolling doubles — 16
    # candidate thresholds per feature halve split-finding work per
    # round vs the default 32 with no measurable metric movement on
    # this target (still seeded/deterministic).
    pipe = Pipeline(stages=[
        VectorAssembler(inputCols=fcols, outputCol="features"),
        # maxIter 6 matches GBT_FAST (r10): sequential rounds are the
        # per-job-tax worst case and the metrics are flat in rounds
        GBTRegressor(featuresCol="features", labelCol="y",
                     maxIter=6, maxDepth=4, stepSize=0.1, maxBins=16,
                     seed=42),
    ])
    model = pipe.fit(train)
    scored = model.transform(test).select(
        "y", F.col("prediction").alias("p")).cache()
    err = F.col("y") - F.col("p")
    n = F.count("*")
    sse = F.sum(err * err)
    syy = F.sum(F.col("y") * F.col("y"))
    sy = F.sum("y")
    out = scored.agg(
        n.alias("n_test"),
        F.round(F.sum(F.abs(err)) / n, 4).alias("mae"),
        F.round(F.sqrt(sse / n), 4).alias("rmse"),
        F.round(F.lit(1.0) - sse / (syy - sy * sy / n), 4).alias("r2"),
    )
    rows = out.collect()
    scored.unpersist()
    feats.unpersist()
    return driver.local_frame(spark, rows, out.schema)


# ---------------------------------------------------------------------------
# U3-U5 — GBT classifier (reference XGBoost family parity)
# ---------------------------------------------------------------------------

#: The reference's production hyperparameters —
#: XGBClassifier(learning_rate=0.1, max_depth=7, n_estimators=100,
#: subsample=0.8, random_state=42), `dags/classification_dag.py:103-106`
#: — mapped 1:1 onto pyspark.ml GBTClassifier:
#: learning_rate→stepSize, max_depth→maxDepth, n_estimators→maxIter,
#: subsample→subsamplingRate, random_state→seed. The daily-run query
#: below uses GBT_FAST (10 shallow rounds: the TPC-H discount label
#: saturates immediately, so 100 depth-7 rounds buy nothing but wall
#: clock); XGB_PROTOCOL exists to prove the full reference protocol
#: reproduces the BASELINE anchor band (acc 0.732 / AUC 0.789) when
#: given reference-shaped weather data —
#: tests/test_ml.py::test_xgboost_protocol_hits_baseline_anchor_band.
XGB_PROTOCOL = dict(maxIter=100, maxDepth=7, stepSize=0.1,
                    subsamplingRate=0.8, seed=42)
# maxIter 10 -> 6 (r10): boosting rounds are SEQUENTIAL Spark jobs, so
# rounds x per-job scheduler tax (129-223 ms measured, SCALE.md §13) is
# the pair's wall-clock floor on a busy host; the TPC-H discount label
# is at chance from round one (sf0.1: acc 0.55 / AUC 0.501 at 10
# rounds — identical at 6), so the extra four rounds bought only tax.
GBT_FAST = dict(maxIter=6, maxDepth=4, stepSize=0.1, maxBins=16, seed=42)


@register("gbt_classifier_eval", survey="U3,U4,U5")
def gbt_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted-trees classifier on the same hash-stratified
    70/30 split as logreg_classifier_eval — the pyspark.ml family match
    for the reference's XGBoost rain classifier
    (`dags/classification_dag.py:103-125`; BASELINE anchors acc 0.732 /
    AUC 0.789). Trees need no feature scaling, so the pipeline is
    assemble → GBTClassifier, seeded for determinism; scoring is
    distributed `PipelineModel.transform`. Rows-only driver check;
    determinism + metric-band tests in tests/test_ml.py."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import GBTClassifier
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import VectorAssembler

    # Same scheduling consideration as gbt_regressor_eval: 10 sequential
    # boosting rounds over a few hundred thousand narrow rows — cache
    # the labeled frame once and derive both splits from it, so each
    # round is a few in-memory tasks instead of parquet re-scans'
    # worth of task overhead per tree. Partitioning: 8 EVEN partitions
    # via a hash repartition on the row key — unlike the previous
    # coalesce(2), every boosting round's tasks are equal-sized and
    # 8-way parallel (fit 10.5→4.5 s at sf0.1), and the keyed shuffle
    # is deterministic independent of the input file layout, keeping
    # the seeded model bit-stable run-to-run (pinned by
    # test_gbt_eval_invariants_and_determinism; the quantile binning —
    # and hence the fitted trees — legitimately depends on the chosen
    # partition layout, which is why the layout is pinned by explicit
    # keys rather than left to file splits). At 100 TB the partition
    # count scales with the data; the knob is rows-per-task.
    df = (_labeled_lineitem(spark, sf_dir)
          .repartition(8, F.col("l_orderkey"), F.col("l_linenumber"))
          .cache())
    split_key = (F.col("l_orderkey") * 31 + F.col("l_linenumber")) % 10
    train = df.filter(split_key < 7)
    test = df.filter(split_key >= 7)

    # GBT_FAST (10 shallow rounds, maxBins=16): boosting is inherently
    # sequential, so rounds ARE the wall-clock knob, and the reference's
    # n_estimators=100 buys nothing on this label (BASELINE's anchors
    # come from real weather data — the full XGB_PROTOCOL config is
    # proven against the anchor band on a reference-shaped fixture in
    # tests/test_ml.py instead of being paid for on every run here).
    pipe = Pipeline(stages=[
        VectorAssembler(inputCols=FEATURES, outputCol="features"),
        GBTClassifier(featuresCol="features", labelCol="label",
                      **GBT_FAST),
    ])
    model = pipe.fit(train)
    scored = model.transform(test).select("label", "prediction",
                                          "rawPrediction").cache()
    auc = BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="rawPrediction",
        metricName="areaUnderROC").evaluate(scored)
    # confusion matrix in ONE single-row aggregate over the cached
    # scored frame (the groupBy+collect version was a second shuffle
    # job for four numbers)
    p = F.col("prediction")
    cm = scored.agg(
        F.count(F.when((F.col("label") == 1) & (p == 1.0), 1)).alias("tp"),
        F.count(F.when((F.col("label") == 0) & (p == 1.0), 1)).alias("fp"),
        F.count(F.when((F.col("label") == 1) & (p == 0.0), 1)).alias("fn"),
        F.count(F.when((F.col("label") == 0) & (p == 0.0), 1)).alias("tn"),
    ).collect()[0]
    scored.unpersist()
    df.unpersist()
    tp, fp, fn, tn = cm["tp"], cm["fp"], cm["fn"], cm["tn"]
    n = tp + fp + fn + tn
    return driver.local_frame(
        spark, [(tp, fp, fn, tn,
                 round((tp + tn) / n, 4), round(auc, 3))],
        "tp long, fp long, fn long, tn long, accuracy double, auc double")


# ---------------------------------------------------------------------------
# W10 — ADF stationarity test per group (applyInPandas, rows-only)
# ---------------------------------------------------------------------------

ADF_LAGS = 1
# MacKinnon 5% critical value for the constant-only ADF regression at
# large T (published statistical constant).
ADF_CRIT_5PCT = -2.86

_ADF_SCHEMA = T.StructType([
    T.StructField("n_name", T.StringType()),
    T.StructField("n_obs", T.IntegerType()),
    T.StructField("adf_stat", T.DoubleType()),
    T.StructField("stationary_5pct", T.BooleanType()),
])


def adf_stat(y: np.ndarray, lags: int = ADF_LAGS) -> float:
    """Augmented Dickey-Fuller t-statistic (constant, no trend):
    Δy_t = α + φ·y_{t-1} + Σβᵢ·Δy_{t-i} + ε, H0: φ = 0. Returns the
    t-stat of φ — compare against MacKinnon critical values. Pure
    numpy; the reference calls statsmodels `adfuller` (forecasting
    notebook cells 8-9)."""
    dy = np.diff(y)
    t_len = len(dy) - lags
    if t_len <= lags + 3:
        return float("nan")
    X = np.column_stack(
        [y[lags:-1]]
        + [dy[lags - i - 1:len(dy) - i - 1] for i in range(lags)]
        + [np.ones(t_len)])
    target = dy[lags:]
    try:
        coef, *_ = np.linalg.lstsq(X, target, rcond=None)
        resid = target - X @ coef
        dof = t_len - X.shape[1]
        s2 = float(resid @ resid) / dof
        cov00 = s2 * np.linalg.inv(X.T @ X)[0, 0]
    except np.linalg.LinAlgError:
        # degenerate series (e.g. constant after differencing): the
        # regression is singular and the unit-root test undefined
        return float("nan")
    return float(coef[0] / np.sqrt(cov00))


def _adf_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("d")
    y = pdf["y"].to_numpy(dtype=np.float64)
    stat = adf_stat(y)
    return pd.DataFrame({
        "n_name": [pdf["n_name"].iloc[0]],
        "n_obs": [len(y)],
        "adf_stat": [round(stat, 6) if stat == stat else stat],
        "stationary_5pct": [bool(stat < ADF_CRIT_5PCT)
                            if stat == stat else None],
    })


@register("adf_stationarity", survey="W10,U2")
def adf_stationarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation ADF stationarity test of the daily revenue series —
    the reference's `adfuller(series)` gate before differencing
    (forecasting notebook cells 8-9) as a `groupBy.applyInPandas`
    numpy regression. Rows-only driver check; numpy oracle in
    tests/test_ml.py."""
    daily = nation_daily(spark, sf_dir)
    return (daily.groupBy("n_name")
            .applyInPandas(_adf_group, schema=_ADF_SCHEMA)
            .orderBy("n_name"))


# ---------------------------------------------------------------------------
# U2/U5/W5 — rolling-origin CV + grid search (TimeSeriesSplit parity)
# ---------------------------------------------------------------------------

# The reference tunes its GB regressor with `TimeSeriesSplit(5)` +
# `GridSearchCV` (weather_forecasting.ipynb cell 36; grid also in
# dags/classification_dag.py): K expanding-window chronological folds,
# every config scored on every fold, winner = lowest mean error.
# Spark-first restatement: the fold protocol is plain index arithmetic
# per group, the grid×fold fit matrix runs inside ONE applyInPandas
# body per group (a group's whole series is one Arrow batch — the same
# distribution unit as sarima_forecast_eval), and the model is a
# deterministic pure-numpy gradient-boosted-tree regressor on the
# notebook's lag+rolling feature recipe. Embarrassingly parallel
# across groups; nothing leaves the executor but (group × config ×
# fold) metric rows.

CV_SPLITS = 5
CV_MIN_TRAIN = 60
#: grid of boosted-tree settings (n_trees, learning rate, depth) —
#: deliberately small, like the reference's 2-3-value grids.
CV_GRID = (
    {"n_trees": 20, "lr": 0.1, "depth": 2},
    {"n_trees": 40, "lr": 0.05, "depth": 2},
    {"n_trees": 20, "lr": 0.3, "depth": 1},
)

_CV_SCHEMA = ("n_name string, config string, fold int, n_train int, "
              "n_test int, rmse double, is_winner boolean")


def ts_split_bounds(n: int, k: int = CV_SPLITS) -> list[tuple[int, int]]:
    """sklearn `TimeSeriesSplit(k)` fold boundaries: test blocks of
    size n // (k+1); fold i trains on EVERYTHING before its test block
    (expanding window — train always precedes test chronologically).
    Returns [(n_train, n_test)] per fold."""
    ts = n // (k + 1)
    if ts < 1:
        return []
    return [(n - (k - i) * ts, ts) for i in range(k)]


def _lag_roll_matrix(y: np.ndarray) -> np.ndarray:
    """The notebook's feature recipe (lags 1..7 + strictly-past rolling
    means {3,7,14,30}) as a numpy matrix; rows with incomplete windows
    are NaN (min_periods = window — null-until-full, leakage-free)."""
    s = pd.Series(y)
    cols = [s.shift(kk) for kk in range(1, REG_LAGS + 1)]
    cols += [s.shift(1).rolling(m, min_periods=m).mean()
             for m in REG_ROLLS]
    return pd.concat(cols, axis=1).to_numpy(dtype=np.float64)


N_BINS = 32


def _bin_columns(Xtr: np.ndarray, Xte: np.ndarray,
                 n_bins: int = N_BINS) -> tuple[np.ndarray, np.ndarray]:
    """Quantile-bin every feature column into int codes (edges from the
    TRAIN fold only; test binned with the same edges). Histogram
    boosting: split search then needs one bincount per (node, feature)
    instead of a sort — the same trick as sklearn's HistGradientBoosting
    and LightGBM."""
    ctr = np.empty(Xtr.shape, dtype=np.int64)
    cte = np.empty(Xte.shape, dtype=np.int64)
    for j in range(Xtr.shape[1]):
        edges = np.unique(np.quantile(
            Xtr[:, j], np.linspace(0.0, 1.0, n_bins + 1)[1:-1]))
        ctr[:, j] = np.searchsorted(edges, Xtr[:, j], side="left")
        cte[:, j] = np.searchsorted(edges, Xte[:, j], side="left")
    return ctr, cte


def _fit_tree(C: np.ndarray, r: np.ndarray, depth: int,
              min_leaf: int = 20, n_bins: int = N_BINS):
    """Greedy variance-reduction CART on residuals over BINNED feature
    codes — deterministic (bincount accumulation, first-argmax
    tie-breaks). Nodes are dicts splitting on (feature, bin); leaves
    are floats."""
    def build(idx: np.ndarray, d: int):
        if d == 0 or len(idx) < 2 * min_leaf:
            return float(r[idx].mean())
        n = len(idx)
        ri = r[idx]
        total = float(ri.sum())
        best = None
        for j in range(C.shape[1]):
            c = C[idx, j]
            cnt = np.bincount(c, minlength=n_bins)
            sm = np.bincount(c, weights=ri, minlength=n_bins)
            nl = np.cumsum(cnt)[:-1]          # left size for split <= b
            sl = np.cumsum(sm)[:-1]
            ok = (nl >= min_leaf) & (n - nl >= min_leaf)
            if not ok.any():
                continue
            with np.errstate(divide="ignore", invalid="ignore"):
                gain = np.where(
                    ok,
                    sl ** 2 / np.maximum(nl, 1)
                    + (total - sl) ** 2 / np.maximum(n - nl, 1),
                    -np.inf)
            b = int(np.argmax(gain))
            if best is None or gain[b] > best[0]:
                best = (float(gain[b]), j, b)
        if best is None:
            return float(ri.mean())
        _, j, b = best
        mask = C[idx, j] <= b
        return {"j": j, "thr": b,
                "l": build(idx[mask], d - 1),
                "r": build(idx[~mask], d - 1)}
    return build(np.arange(len(r)), depth)


def _tree_predict(node, C: np.ndarray) -> np.ndarray:
    if not isinstance(node, dict):
        return np.full(len(C), node)
    out = np.empty(len(C))
    mask = C[:, node["j"]] <= node["thr"]
    out[mask] = _tree_predict(node["l"], C[mask])
    out[~mask] = _tree_predict(node["r"], C[~mask])
    return out


def gbm_fit_predict(Ctr: np.ndarray, ytr: np.ndarray, Cte: np.ndarray,
                    n_trees: int, lr: float, depth: int) -> np.ndarray:
    """Plain gradient boosting for squared loss over binned codes:
    each round fits a small tree to the current residual and steps by
    `lr`. Bin with `_bin_columns` first."""
    mean0 = float(ytr.mean())
    pred_tr = np.full(len(ytr), mean0)
    pred_te = np.full(len(Cte), mean0)
    for _ in range(n_trees):
        tree = _fit_tree(Ctr, ytr - pred_tr, depth)
        pred_tr += lr * _tree_predict(tree, Ctr)
        pred_te += lr * _tree_predict(tree, Cte)
    return pred_te


def _cv_grid_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("d")
    name = pdf["n_name"].iloc[0]
    y = pdf["y"].to_numpy(dtype=np.float64)
    X = _lag_roll_matrix(y)
    valid = ~np.isnan(X).any(axis=1)
    out = []
    fold_rmses: dict[str, list[float]] = {}
    for fold, (n_tr, n_te) in enumerate(ts_split_bounds(len(y))):
        vtr = valid[:n_tr]
        if n_te < 1 or int(vtr.sum()) < CV_MIN_TRAIN:
            continue
        ytr = y[:n_tr][vtr]
        yte = y[n_tr:n_tr + n_te]
        # bin once per fold (edges from the fold's train only — no
        # leakage), reuse the codes for every grid config
        Ctr, Cte = _bin_columns(X[:n_tr][vtr], X[n_tr:n_tr + n_te])
        for cfg in CV_GRID:
            label = (f"trees={cfg['n_trees']},lr={cfg['lr']},"
                     f"depth={cfg['depth']}")
            fc = gbm_fit_predict(Ctr, ytr, Cte, **cfg)
            rmse = float(np.sqrt(np.mean((yte - fc) ** 2)))
            fold_rmses.setdefault(label, []).append(rmse)
            out.append({"n_name": name, "config": label, "fold": fold,
                        "n_train": n_tr, "n_test": n_te,
                        "rmse": round(rmse, 6)})
    if not out:
        return pd.DataFrame([{"n_name": name, "config": "insufficient",
                              "fold": -1, "n_train": len(y), "n_test": 0,
                              "rmse": float("nan"), "is_winner": False}])
    means = {c: float(np.mean(v)) for c, v in fold_rmses.items()}
    winner = min(means, key=lambda c: (means[c], c))
    for row in out:
        row["is_winner"] = row["config"] == winner
    return pd.DataFrame(out)


@register("rolling_cv_gbt", survey="U2,U5,W5")
def rolling_cv_gbt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation rolling-origin cross-validated grid search — the
    reference's `TimeSeriesSplit(5)` + `GridSearchCV` protocol
    (weather_forecasting.ipynb cell 36) per group: 5 expanding-window
    chronological folds × 3 boosted-tree configs, per-fold RMSE, and
    the per-group winner flagged (lowest mean RMSE, ties broken by
    config label — deterministic). Rows-only driver check (iterative
    tree fitting is not ANSI-SQL-expressible); fold-boundary
    chronology, sklearn-parity arithmetic, and winner determinism are
    pinned in tests/test_ml.py."""
    from covid_weather_etl_spark.sources.catalog import spread
    # The fit matrix is ~1 s of numpy PER GROUP while the series rows
    # are tiny — left alone, AQE coalesces the upstream shuffle to one
    # partition and runs every group in ONE Python worker. An explicit
    # keyed repartition pins one-task-per-group parallelism (user
    # repartitions are exempt from AQE coalescing); applyInPandas then
    # reuses that distribution (keys superset rule — no extra shuffle).
    daily = spread(nation_daily(spark, sf_dir), "n_name")
    return (daily.groupBy("n_name")
            .applyInPandas(_cv_grid_group, schema=_CV_SCHEMA)
            .orderBy("n_name", "config", "fold"))


# ---------------------------------------------------------------------------
# U2/U5 — Holt-Winters triple exponential smoothing forecast eval
# ---------------------------------------------------------------------------

#: damped additive Holt-Winters constants (level/trend/seasonal/damping)
#: and the weekly period of the daily revenue series. Fixed, not
#: searched, so runs are deterministic without an optimizer; the values
#: are conservative because the eval forecasts the FULL 20% test
#: horizon statically — an undamped trend extrapolates linearly and a
#: 72-step horizon amplifies any trend-estimate error ~72×, which is
#: exactly the failure Gardner-McKenzie damping (φ<1 geometric decay of
#: the trend contribution) exists to bound.
HW_ALPHA, HW_BETA, HW_GAMMA, HW_PHI = 0.1, 0.01, 0.1, 0.5
HW_PERIOD = 7


def _holt_winters_forecast(train: np.ndarray, horizon: int,
                           m: int = HW_PERIOD) -> np.ndarray | None:
    """Damped additive Holt-Winters: level/trend/seasonal recurrences
    fit on the train slice, h-step-ahead forecast from the final state
    with the trend contribution damped as φ+φ²+…+φʰ. Classical
    initialization: level = first-season mean, trend = (second-season
    mean − first-season mean)/m, seasonal = first-season deviations
    from the initial level. Returns None when the series is shorter
    than two seasons (state cannot initialize)."""
    if len(train) < 2 * m or horizon <= 0:
        return None
    # season means via explicit LEFT-TO-RIGHT accumulation (not
    # np.mean's pairwise summation) so the DuckDB oracle's left-
    # associative (v1+v2+...+vm)/m expression replays the exact same
    # IEEE op sequence — the recurrence is then bit-identical on both
    # engines all the way to the final state.
    acc1 = 0.0
    for v in train[:m]:
        acc1 += float(v)
    s1 = acc1 / m
    acc2 = 0.0
    for v in train[m:2 * m]:
        acc2 += float(v)
    s2 = acc2 / m
    level, trend = s1, (s2 - s1) / m
    seas = [float(v) - s1 for v in train[:m]]
    for t in range(len(train)):
        x, si = float(train[t]), t % m
        prev = level
        level = (HW_ALPHA * (x - seas[si])
                 + (1 - HW_ALPHA) * (level + HW_PHI * trend))
        trend = (HW_BETA * (level - prev)
                 + (1 - HW_BETA) * HW_PHI * trend)
        seas[si] = HW_GAMMA * (x - level) + (1 - HW_GAMMA) * seas[si]
    n = len(train)
    out, damp, p = [], 0.0, 1.0
    for k in range(horizon):
        p *= HW_PHI
        damp += p
        out.append(level + damp * trend + seas[(n + k) % m])
    return np.array(out, dtype=np.float64)


_HW_FC_SCHEMA = T.StructType([
    T.StructField("n_name", T.StringType()),
    T.StructField("n_train", T.IntegerType()),
    T.StructField("k", T.IntegerType()),
    T.StructField("y", T.DoubleType()),
    T.StructField("fc", T.DoubleType()),
])


def _hw_test_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """One group's 80/20 chrono split + Holt-Winters fit: emit the
    per-step TEST rows (k, observed, forecast) instead of finished
    metrics — the metrics then run as deterministic decimal-summed
    Spark aggregates the DuckDB oracle mirrors exactly."""
    pdf = pdf.sort_values("d")
    y = pdf["y"].to_numpy(dtype=np.float64)
    name = pdf["n_name"].iloc[0]
    n_train = int(len(y) * 0.8)
    train, test = y[:n_train], y[n_train:]
    fc = _holt_winters_forecast(train, len(test))
    if fc is None:
        return pd.DataFrame({"n_name": [], "n_train": [], "k": [],
                             "y": [], "fc": []})
    return pd.DataFrame({
        "n_name": name, "n_train": n_train,
        "k": np.arange(1, len(test) + 1), "y": test, "fc": fc})


def _hw_oracle() -> str:
    """DuckDB twin of the full Holt-Winters eval: the damped recurrence
    as a recursive CTE carrying (level, trend, s0..s6) state, the
    damped-trend forecast as a second recursive CTE over the horizon,
    then the same decimal-accumulated metric aggregates as the Spark
    side. Every constant is embedded via repr (string-parse round-trips
    to the identical double) and every expression tree mirrors the
    Python recurrence's op order, so the state — and therefore each
    forecast — is bit-identical on both engines."""
    m = HW_PERIOD
    c = lambda x: f"CAST('{x!r}' AS DOUBLE)"
    A, IA = c(HW_ALPHA), c(1 - HW_ALPHA)
    G, IG = c(HW_GAMMA), c(1 - HW_GAMMA)
    B, BPHI, PHI = c(HW_BETA), c((1 - HW_BETA) * HW_PHI), c(HW_PHI)
    scols = ", ".join(f"s{i}" for i in range(m))
    s_case = (f"CASE h.t % {m} " +
              " ".join(f"WHEN {i} THEN h.s{i}" for i in range(m)) + " END")
    s_upd = ",\n               ".join(
        f"CASE WHEN q.si = {i} THEN {G} * (q.x - q.lvl_new) + {IG} * q.s{i} "
        f"ELSE q.s{i} END" for i in range(m))
    s1 = "(" + " + ".join(f"vs[{i + 1}]" for i in range(m)) + f") / {m}e0"
    s2 = "(" + " + ".join(f"vs[{m + i + 1}]" for i in range(m)) + f") / {m}e0"
    seas0 = ", ".join(f"vs[{i + 1}] - s1m AS s{i}" for i in range(m))
    f_case = (f"CASE (f.n_train + d.k - 1) % {m} " +
              " ".join(f"WHEN {i} THEN f.s{i}" for i in range(m)) + " END")
    return f"""
    WITH RECURSIVE {_NATION_DAILY_SQL},
    ranked AS (
        SELECT n_name, y,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY n_name ORDER BY d) AS INT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY n_name) AS INT) AS n
        FROM nation_daily
    ),
    init AS (
        -- guard mirrors the Python side exactly: the TRAIN slice
        -- (floor(0.8·n) rows), not the full series, must hold two
        -- seasons, else the state cannot initialize and the series
        -- is dropped (a 14 <= n <= 17 series has n_train < 14)
        SELECT n_name, n, CAST(FLOOR(n * 8e-1) AS INT) AS n_train,
               {s1} AS s1m, {s2} AS s2m, vs
        FROM (SELECT n_name, n, list(y ORDER BY rn) AS vs
              FROM ranked WHERE rn <= {2 * m} GROUP BY n_name, n)
        WHERE CAST(FLOOR(n * 8e-1) AS INT) >= {2 * m}
    ),
    st AS (
        SELECT n_name, n, n_train, 0 AS t,
               s1m AS level, (s2m - s1m) / {m}e0 AS trend, {seas0}
        FROM init
        UNION ALL
        SELECT q.n_name, q.n, q.n_train, q.t + 1,
               q.lvl_new,
               {B} * (q.lvl_new - q.level) + {BPHI} * q.trend,
               {s_upd}
        FROM (
            SELECT h.*, r.y AS x, h.t % {m} AS si,
                   {A} * (r.y - {s_case})
                   + {IA} * (h.level + {PHI} * h.trend) AS lvl_new
            FROM st h
            JOIN ranked r ON r.n_name = h.n_name AND r.rn = h.t + 1
            WHERE h.t < h.n_train
        ) q
    ),
    damp AS (
        SELECT 1 AS k, {PHI} AS p, {PHI} AS damp
        UNION ALL
        SELECT k + 1, p * {PHI}, damp + p * {PHI}
        FROM damp
        WHERE k < (SELECT MAX(n - n_train) FROM init)
    ),
    fc AS (
        SELECT f.n_name, f.n_train, d.k,
               (f.level + d.damp * f.trend) + {f_case} AS fc
        FROM (SELECT * FROM st WHERE t = n_train) f
        JOIN damp d ON d.k <= f.n - f.n_train
    ),
    joined AS (
        SELECT c.n_name, c.n_train, r.y, c.fc
        FROM fc c
        JOIN ranked r ON r.n_name = c.n_name AND r.rn = c.n_train + c.k
    ),
    agg AS (
        SELECT n_name, n_train,
               CAST(COUNT(*) AS INT) AS n_test,
               {dsum_sql('ABS(y - fc)', 'decimal(38,6)')} AS sae,
               {grid_sum_sql('(y - fc) * (y - fc)', 4)} AS sse,
               {dsum_sql('y')} AS sy,
               {grid_sum_sql('y * y', 4)} AS syy
        FROM joined GROUP BY n_name, n_train
    )
    SELECT n_name, n_train, n_test,
           {fround_sql('sae / n_test')} AS mae,
           {fround_sql('SQRT(sse / n_test)')} AS rmse,
           CASE WHEN syy - sy * sy / n_test > 0
                THEN {fround_sql('1e0 - sse / (syy - sy * sy / n_test)')}
                ELSE NULL END AS r2
    FROM agg
    """


@register("holt_winters_forecast_eval", survey="U2,U5,W5",
          oracle=_hw_oracle())
def holt_winters_forecast_eval(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Per-nation damped additive Holt-Winters (triple exponential
    smoothing) forecast eval — completes the classical family between
    ewma_smoothing (level only) and sarima_forecast_eval (full ARMA
    state): level + trend + weekly-seasonal recurrences, O(1) state
    per series, the production choice when SARIMA's fit cost isn't
    justified. Same 80/20 chrono protocol and metric columns as the
    SARIMA/Fourier evals (reference forecasting DAG protocol,
    dags/forecasting_dag.py:95-231).

    Division of labor: the recurrence runs per-series in one Arrow
    batch via applyInPandas (embarrassingly parallel; at 100 TB the
    per-series state is three floats + one season vector regardless
    of series length) and emits the per-step test rows; MAE/RMSE/R²
    then run as DISTRIBUTED decimal-accumulated aggregates (exact,
    order-independent). Fully oracled (graduated from rows-only, r6):
    the DuckDB twin replays the identical recurrence as a recursive
    CTE — same literals, same IEEE op order, left-to-right init means
    — so both engines agree bit-for-bit before the 6dp display
    rounding; the EWMA recursive-CTE precedent extended to
    level/trend/seasonal state (ewma_smoothing, timeseries.py)."""
    daily = nation_daily(spark, sf_dir)
    rows = (daily.groupBy("n_name")
            .applyInPandas(_hw_test_rows, schema=_HW_FC_SCHEMA))
    err = F.col("y") - F.col("fc")

    # PRODUCT terms (squares, ~1e10-1e11 scale) accumulate as exact
    # 1e-4-grid integers, not via a double→DECIMAL(38,6) cast — that
    # cast is engine-divergent above ~2^53·10^-6 (PARITY.md §3b).
    # ABS(err) stays under the safe-cast bound and keeps the exact
    # decimal path.
    agg = (rows.groupBy("n_name", "n_train")
           .agg(F.count("*").cast("int").alias("n_test"),
                dsum(F.abs(err), "decimal(38,6)").alias("sae"),
                grid_sum(err * err, 4).alias("sse"),
                dsum("y").alias("sy"),
                grid_sum(F.col("y") * F.col("y"), 4).alias("syy")))
    sst = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n_test")
    return (agg.select(
        "n_name", "n_train", "n_test",
        fround(F.col("sae") / F.col("n_test")).alias("mae"),
        fround(F.sqrt(F.col("sse") / F.col("n_test"))).alias("rmse"),
        F.when(sst > 0, fround(F.lit(1.0) - F.col("sse") / sst))
        .otherwise(F.lit(None).cast("double")).alias("r2"))
        .orderBy("n_name"))


# ---------------------------------------------------------------------------
# collaborative filtering (engine extension: recsys family)
# ---------------------------------------------------------------------------

ALS_RANK = 8
ALS_TOP = 3


@register("als_part_recommendations", survey="ext-ml,U2,U3",
          bench=True)  # r13: heavy flagged for the driver PERF table
def als_part_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit-feedback collaborative filtering (Hu, Koren & Volinsky
    2008) over the customer × part purchase matrix: interactions =
    lineitem counts per (o_custkey, l_partkey), ALS rank 8,
    seeded, confidence-weighted; output = top-3 part
    recommendations per customer for the 20 lowest-numbered customers
    (deterministic slice), with the model score rounded to 4dp.

    Spark-first: ALS IS the canonical distributed matrix
    factorization — blocked alternating least squares where each
    round solves per-user (then per-item) normal equations against
    the broadcast other-side factor blocks; no driver-side math. The
    interaction build is one key-projected aggregate off the
    orders⋈lineitem join. No DuckDB oracle (iterative factorization
    is not SQL-expressible); driver records a rows-only check, and
    tests/test_ml.py pins the semantics: fixed output shape, dense
    per-user rank positions, and scores non-increasing down each
    user's list."""
    from covid_weather_etl_spark.sources.catalog import spread
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    inter = (spread(t["lineitem"], "l_orderkey")
             .join(t["orders"],
                   F.col("l_orderkey") == F.col("o_orderkey"))
             .groupBy(F.col("o_custkey").cast("int").alias("user"),
                      F.col("l_partkey").cast("int").alias("item"))
             .agg(F.count("*").cast("float").alias("rating")))
    from pyspark.ml.recommendation import ALS
    # 8×8 factor blocks: ALS defaults its block count to the session
    # parallelism (32 here), which shreds this ~600k-interaction
    # matrix into 1024 near-empty block pairs — per-block scheduling
    # then dominates the normal-equation solves (fit 5.1→2.3 s, the
    # top-20 recommend scan 2.0→1.0 s, measured at sf0.1). The block
    # count is the rows-per-block knob: on a real cluster it scales
    # back up with the interaction count.
    als = ALS(rank=ALS_RANK, maxIter=5, regParam=0.1, seed=42,
              implicitPrefs=True, alpha=10.0,
              numUserBlocks=8, numItemBlocks=8,
              userCol="user", itemCol="item", ratingCol="rating",
              coldStartStrategy="drop")
    model = als.fit(inter)
    users = (inter.select("user").distinct()
             .orderBy("user").limit(20))
    recs = model.recommendForUserSubset(users, ALS_TOP)
    return (recs.select(
        F.col("user").cast("long").alias("user_id"),
        F.posexplode("recommendations").alias("pos", "rec"))
        .select("user_id",
                (F.col("pos") + 1).alias("rank_pos"),
                F.col("rec.item").cast("long").alias("rec_partkey"),
                F.round(F.col("rec.rating"), 4).alias("score")))


#: stratified k-fold: fold count (md5-assigned within strata).
KFOLD_K = 5


@register(
    "stratified_kfold_summary",
    survey="U4,A6,F9",
    oracle=f"""
    WITH folds AS (
        SELECT c_mktsegment AS stratum,
               CAST(CAST('0x' || substr(md5('fold:' ||
                    CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT)
                    % {KFOLD_K} AS BIGINT) AS fold,
               CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS y
        FROM customer
    )
    SELECT stratum, fold,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           ROUND(SUM(y) * 1.0 / COUNT(*), 6) AS pos_rate
    FROM folds GROUP BY stratum, fold
    """,
)
def stratified_kfold_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified K-fold assignment (K=5) for cross-validation over
    the customer table: fold = md5(id) % K — a pure function of the
    row key, so folds are reproducible across runs, partitionings and
    backfills (no randomSplit state), disjoint and exhaustive by
    construction; the summary reports per-(stratum, fold) sizes and
    positive-label balance, which is what stratification promises to
    hold roughly constant. One map-combinable aggregate; the same
    fold column feeds any per-fold fit via a filter (the
    rolling_cv_gbt protocol with hash folds instead of time folds).
    tests/test_ml.py pins fold balance (each stratum's folds within
    ±40% of the stratum mean) and label-rate concentration."""
    t = load_tables(spark, sf_dir, ("customer",))
    fold = md5_int(F.concat(F.lit("fold:"), F.col("c_custkey").cast("string")),
                   8) % KFOLD_K
    y = F.when(F.col("c_acctbal") > 0, 1).otherwise(0)
    return (t["customer"]
            .select(F.col("c_mktsegment").alias("stratum"),
                    fold.alias("fold"), y.alias("y"))
            .groupBy("stratum", "fold")
            .agg(F.count("*").alias("n_rows"),
                 F.sum("y").alias("n_pos"),
                 F.round(F.sum("y") * 1.0 / F.count("*"), 6)
                 .alias("pos_rate")))


# ---------------------------------------------------------------------------
# MASE — scale-free forecast accuracy (Hyndman & Koehler 2006)
# ---------------------------------------------------------------------------

#: seasonal-naive forecast period (weekly seasonality of daily revenue).
MASE_SEASON = 7


@register(
    "mase_forecast_eval",
    survey="W5,U5,A4,W2",
    oracle=f"""
    WITH {_NATION_DAILY_SQL},
    ranked AS (
        SELECT n_name, d, y,
               row_number() OVER w AS rn,
               count(*)    OVER (PARTITION BY n_name) AS n_total,
               lag(y)    OVER w AS y_prev,
               lag(y, {MASE_SEASON}) OVER w AS y_lag7
        FROM nation_daily
        WINDOW w AS (PARTITION BY n_name ORDER BY d)
    ),
    scal AS (
        SELECT n_name,
               {dsum_sql("ABS(y - y_prev)", "decimal(18,2)")}
                 / COUNT(*) AS s
        FROM ranked
        WHERE rn <= CAST(FLOOR(n_total * 0.8) AS BIGINT)
          AND y_prev IS NOT NULL
        GROUP BY 1
    ),
    test AS (
        SELECT n_name, y - y_lag7 AS e
        FROM ranked
        WHERE rn > CAST(FLOOR(n_total * 0.8) AS BIGINT)
          AND y_lag7 IS NOT NULL
    )
    SELECT t.n_name,
           COUNT(*) AS n_test,
           {fround_sql(dsum_sql("ABS(e)", "decimal(18,2)")
                       + " / COUNT(*)")} AS mae_snaive,
           {fround_sql("s")} AS naive_scale,
           {fround_sql("(" + dsum_sql("ABS(e)", "decimal(18,2)")
                       + " / COUNT(*)) / s")} AS mase
    FROM test t JOIN scal USING (n_name)
    GROUP BY t.n_name, s
    """,
)
def mase_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE — Mean Absolute SCALED Error (Hyndman & Koehler 2006) of a
    weekly seasonal-naive forecast on the per-nation test split: test
    MAE divided by the TRAIN-set MAE of the one-step naive forecast.
    The scale-free metric the forecasting literature recommends over
    raw MAE/RMSE (which `persistence_forecast_eval` reports): MASE < 1
    means the model beats the naive walk it would replace, comparably
    across series of different magnitudes — the reference compares raw
    MAE across countries (`dags/forecasting_dag.py:274-277`), exactly
    the comparison MASE makes valid.

    Same split protocol and decimal discipline as the persistence
    eval: chronological 80/20 per nation, errors are exact-2-decimal
    differences summed in DECIMAL, the two divisions are scalar double
    ops under `fround` — hash-identical on both engines. One shuffle
    on the nation key; the windows partition on it (registry pin)."""
    daily = nation_daily(spark, sf_dir)
    w = W.partitionBy("n_name").orderBy("d")
    wp = W.partitionBy("n_name")
    ranked = daily.select(
        "n_name", "y",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wp).alias("n_total"),
        F.lag("y").over(w).alias("y_prev"),
        F.lag("y", MASE_SEASON).over(w).alias("y_lag7"),
    )
    cut = F.floor(F.col("n_total") * 0.8).cast("long")
    scal = (ranked
            .filter((F.col("rn") <= cut) & F.col("y_prev").isNotNull())
            .groupBy("n_name")
            .agg((dsum(F.abs(F.col("y") - F.col("y_prev")), "decimal(18,2)")
                  / F.count("*")).alias("s")))
    test = (ranked
            .filter((F.col("rn") > cut) & F.col("y_lag7").isNotNull())
            .withColumn("e", F.col("y") - F.col("y_lag7")))
    mae = dsum(F.abs(F.col("e")), "decimal(18,2)") / F.count("*")
    return (test.groupBy("n_name")
            .agg(F.count("*").alias("n_test"), mae.alias("mae_raw"))
            .join(scal, "n_name")
            .select("n_name", "n_test",
                    fround(F.col("mae_raw")).alias("mae_snaive"),
                    fround(F.col("s")).alias("naive_scale"),
                    fround(F.col("mae_raw") / F.col("s")).alias("mase")))


# ---------------------------------------------------------------------------
# split-conformal prediction intervals for the persistence forecast
# ---------------------------------------------------------------------------

#: conformal miscoverage level — intervals target 1-alpha coverage.
CONF_ALPHA = 0.1


@register(
    "conformal_forecast_intervals",
    survey="ext-mlops,U5,W5,A11",
    oracle=f"""
    WITH {_NATION_DAILY_SQL},
    ranked AS (
        SELECT n_name, y,
               row_number() OVER (PARTITION BY n_name ORDER BY d) AS rn,
               count(*)    OVER (PARTITION BY n_name) AS n_total,
               lag(y) OVER (PARTITION BY n_name ORDER BY d) AS y_prev
        FROM nation_daily
    ),
    cal AS (
        SELECT n_name, ABS(y - y_prev) AS abs_e,
               row_number() OVER (PARTITION BY n_name
                                  ORDER BY ABS(y - y_prev), rn) AS rk,
               count(*) OVER (PARTITION BY n_name) AS n_cal
        FROM ranked
        WHERE rn > 1 AND rn <= CAST(FLOOR(n_total * 0.8) AS BIGINT)
    ),
    q AS (
        SELECT n_name, CAST(n_cal AS BIGINT) AS n_cal, abs_e AS q_alpha
        FROM cal
        WHERE rk = LEAST((9 * (n_cal + 1) + 9) // 10, n_cal)
    ),
    test AS (
        SELECT n_name, ABS(y - y_prev) AS abs_e
        FROM ranked WHERE rn > CAST(FLOOR(n_total * 0.8) AS BIGINT)
    )
    SELECT t.n_name, q.n_cal, q.q_alpha,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN t.abs_e <= q.q_alpha THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           {fround_sql("SUM(CASE WHEN t.abs_e <= q.q_alpha THEN 1 ELSE 0 END)"
                       " * 1.0 / COUNT(*)")} AS coverage
    FROM test t JOIN q ON t.n_name = q.n_name
    GROUP BY 1, 2, 3
    """,
)
def conformal_forecast_intervals(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Vovk; Lei et al. 2018)
    around the per-nation lag-1 persistence forecast: the calibration
    window's absolute residuals yield the exact order-statistic
    radius q = the ⌈(n+1)(1−α)⌉-th smallest |e| — the
    distribution-free guarantee that future |y − ŷ| ≤ q with
    probability ≥ 1−α under exchangeability (the honest uncertainty
    wrapper the reference's forecasting DAG never had). Reports per
    nation the radius and the realized test coverage.

    Exactness: |e| values are differences of exact decimal daily sums
    (clean 2-decimal doubles), so the rank selection picks bit-equal
    values on both engines; the rank index is pure integer ceil
    arithmetic ((9·(n+1)+9) div 10 for α=0.1); coverage is an integer
    count over deterministic comparisons, fround-rounded once.
    Plan: the nation_daily aggregate (one shuffle), nation-partitioned
    windows (bounded state), a 25-row quantile frame broadcast back
    onto the test slice. At 100 TB the only fact-sized pass is the
    daily aggregate; conformal calibration itself is per-group
    order-statistics — embarrassingly partitionable."""
    daily = nation_daily(spark, sf_dir)
    w = W.partitionBy("n_name").orderBy("d")
    wp = W.partitionBy("n_name")
    ranked = daily.select(
        "n_name", "y",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wp).alias("n_total"),
        F.lag("y").over(w).alias("y_prev"))
    cut = F.floor(F.col("n_total") * 0.8).cast("long")
    abs_e = F.abs(F.col("y") - F.col("y_prev"))
    cal = (ranked.filter((F.col("rn") > 1) & (F.col("rn") <= cut))
           .select("n_name", abs_e.alias("abs_e"), "rn")
           .withColumn("rk", F.row_number().over(
               W.partitionBy("n_name").orderBy("abs_e", "rn")))
           .withColumn("n_cal", F.count("*").over(wp)))
    # exact conformal rank: ceil((n_cal+1)·(1−α)) via integer ceil-div,
    # clamped to n_cal — for n_cal < ceil(1/α)-1 the conformal rank
    # n_cal+1 matches no order statistic and the group would silently
    # vanish (advice r4); the clamp emits the MAX calibration residual
    # as a conservative radius so every nation stays visible (the
    # exchangeability guarantee is vacuous at that n anyway)
    q = (cal.filter(F.col("rk")
                    == F.expr("least((9 * (n_cal + 1) + 9) div 10, n_cal)"))
         .select("n_name", F.col("n_cal").cast("long").alias("n_cal"),
                 F.col("abs_e").alias("q_alpha")))
    test = (ranked.filter(F.col("rn") > cut)
            .select(F.col("n_name").alias("t_name"),
                    abs_e.alias("abs_e")))
    covered = F.sum(F.when(F.col("abs_e") <= F.col("q_alpha"), 1)
                    .otherwise(0)).cast("long")
    return (test.join(F.broadcast(q), F.col("t_name") == F.col("n_name"))
            .groupBy("n_name", "n_cal", "q_alpha")
            .agg(F.count("*").alias("n_test"),
                 covered.alias("n_covered"),
                 fround(covered * 1.0 / F.count("*")).alias("coverage")))


# ---------------------------------------------------------------------------
# frequent-pattern mining: FP-Growth itemsets + PrefixSpan sequences
# ---------------------------------------------------------------------------

#: FP-Growth support floor (fraction of baskets) at type granularity
#: (6 part types over ~4-line orders keep the itemset lattice dense —
#: brand granularity spreads 25 items so thin that only singletons
#: survive any workable floor).
FPG_MIN_SUPPORT = 0.05
#: PrefixSpan support floor (fraction of user sequences) and length cap.
PSPAN_MIN_SUPPORT = 0.3
PSPAN_MAX_LEN = 3
#: per-user event-sequence truncation (bounds pattern-growth work).
PSPAN_SEQ_CAP = 20


def _fpgrowth_oracle() -> str:
    """DuckDB twin of the FP-Growth mine: level-wise Apriori as k-way
    ordered self-joins of the unnested distinct-item baskets, k = 1..6.
    The driver corpus' item universe is the 6 p_type values, so level 6
    is the complete lattice — the oracle provably covers every itemset
    FP-Growth can emit (pure integer counts, no float anywhere). A
    guard CTE empties the oracle loudly (driver rows mismatch, not an
    opaque hash mismatch) if the universe ever exceeds 6 items. The
    support threshold mirrors Spark's minCount = ceil(minSupport ·
    numBaskets) double arithmetic exactly."""
    levels = []
    for k in range(1, 7):
        a = [f"t{i}" for i in range(k)]
        joins = "ui " + a[0]
        for i in range(1, k):
            joins += (f" JOIN ui {a[i]} ON {a[i]}.l_orderkey = "
                      f"{a[i - 1]}.l_orderkey AND {a[i]}.item > "
                      f"{a[i - 1]}.item")
        items = " || ',' || ".join(f"{x}.item" for x in a)
        keys = ", ".join(f"{x}.item" for x in a)
        levels.append(f"""
        SELECT {items} AS itemset, {k} AS n_items, COUNT(*) AS freq
        FROM {joins}
        GROUP BY {keys}
        HAVING COUNT(*) >= (SELECT mc FROM minc)""")
    body = "\n        UNION ALL".join(levels)
    return f"""
    WITH baskets AS (
        SELECT l.l_orderkey, list(DISTINCT p.p_type) AS items
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY l.l_orderkey
    ),
    minc AS (
        SELECT CAST(CEIL(CAST('{FPG_MIN_SUPPORT!r}' AS DOUBLE) * COUNT(*))
                    AS BIGINT) AS mc
        FROM baskets
    ),
    ui0 AS (SELECT l_orderkey, unnest(items) AS item FROM baskets),
    -- guard: the level-wise lattice below is complete only to itemset
    -- size 6. If the item universe ever outgrows 6 distinct types,
    -- FP-Growth could emit itemsets this oracle cannot enumerate, so
    -- empty the oracle LOUDLY (rows-count mismatch in the driver)
    -- instead of surfacing an opaque hash mismatch.
    ui AS (SELECT * FROM ui0
           WHERE (SELECT COUNT(DISTINCT item) FROM ui0) <= 6)
    SELECT CAST(itemset AS VARCHAR) AS itemset,
           CAST(n_items AS INT) AS n_items,
           CAST(freq AS BIGINT) AS freq
    FROM ({body})
    """


@register("fpgrowth_type_itemsets", survey="ext-ml,A6,U2",
          oracle=_fpgrowth_oracle())
def fpgrowth_type_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part-type itemsets over order baskets via distributed
    FP-Growth (Han et al. 2000; Spark's parallel PFP variant, Li et
    al. 2008) — the classic market-basket miner, upgraded from
    `basket_affinity`'s pairs-only lift table to arbitrary-size
    itemsets. Baskets are the DISTINCT part-type sets per order (type
    granularity keeps the lattice dense enough to be interesting);
    the itemset column is emitted sorted and joined to one string so
    the output is canonical and hashable.

    Spark-first: FPGrowth is the canonical distributed
    frequent-pattern algorithm — group-dependent projections of the
    FP-tree are mined per partition, no candidate-generation joins
    (that's Apriori's weakness). Fully oracled (graduated from
    rows-only, r6): the driver corpus' item universe is small enough
    (6 p_type values) that a level-wise Apriori in DuckDB enumerates
    the COMPLETE lattice to size 6 — exact integer counts, identical
    ceil(minSupport·n) threshold arithmetic, so the hash-match is a
    true cross-algorithm equality (FP-tree mining vs candidate
    joins). tests/test_ml.py additionally pins equality against a
    brute-force Apriori over the collected baskets at sf0.001 plus
    the anti-monotone support property."""
    from pyspark.ml.fpm import FPGrowth

    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    # no spread() ahead of this: the basket aggregate is itself the
    # parallelizing shuffle, and a pre-repartition just moves the same
    # 600k rows twice (measured +2.5 s)
    baskets = (t["lineitem"]
               .join(F.broadcast(t["part"]),
                     F.col("l_partkey") == F.col("p_partkey"))
               .groupBy("l_orderkey")
               .agg(F.array_sort(F.collect_set("p_type")).alias("items")))
    # 8 mining partitions: the conditional-transaction flatMap defaults
    # to the input partition count; 6 items need no such fan-out
    # (fit 1.2->0.3 s measured; scales back up with the item universe)
    fp = FPGrowth(itemsCol="items", minSupport=FPG_MIN_SUPPORT,
                  minConfidence=0.5, numPartitions=8)
    model = fp.fit(baskets)
    return (model.freqItemsets
            .select(F.concat_ws(",", F.array_sort("items"))
                    .alias("itemset"),
                    F.size("items").alias("n_items"),
                    F.col("freq").cast("long").alias("freq")))


def _prefixspan_oracle() -> str:
    """DuckDB twin of the PrefixSpan mine: enumerate EVERY candidate
    pattern up to length {PSPAN_MAX_LEN} over the data-present event
    types (5 types -> 155 candidates), then count supporting users by
    gapped-subsequence matching — each user's capped sequence becomes
    a string of first-letter codes and a pattern (a,b,c) matches via
    LIKE '%a%b%c%' (single-char codes make token collisions
    impossible; the corpus' five event types have distinct first
    letters, asserted by the guard CTE). Pure integer counts; the
    support threshold mirrors Spark's ceil(minSupport · numSequences)
    double arithmetic."""
    return f"""
    WITH ev AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    seqs AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), '' ORDER BY rn) AS seq
        FROM ev WHERE rn <= {PSPAN_SEQ_CAP} GROUP BY user_id
    ),
    minc AS (
        SELECT CAST(CEIL(CAST('{PSPAN_MIN_SUPPORT!r}' AS DOUBLE)
                         * COUNT(*)) AS BIGINT) AS mc
        FROM seqs
    ),
    types AS (
        -- guard: first letters must be unique or the code mapping
        -- (and therefore the LIKE subsequence test) is unsound
        SELECT event_type AS t, substr(event_type, 1, 1) AS ch
        FROM (SELECT DISTINCT event_type FROM events)
        WHERE (SELECT COUNT(DISTINCT substr(event_type, 1, 1))
               FROM (SELECT DISTINCT event_type FROM events))
            = (SELECT COUNT(DISTINCT event_type) FROM events)
    ),
    cand AS (
        SELECT t AS pattern, 1 AS n_steps,
               '%' || ch || '%' AS pat
        FROM types
        UNION ALL
        SELECT a.t || '>' || b.t, 2, '%' || a.ch || '%' || b.ch || '%'
        FROM types a, types b
        UNION ALL
        SELECT a.t || '>' || b.t || '>' || c.t, 3,
               '%' || a.ch || '%' || b.ch || '%' || c.ch || '%'
        FROM types a, types b, types c
    ),
    counted AS (
        SELECT c.pattern, c.n_steps, COUNT(*) AS freq
        FROM cand c JOIN seqs s ON s.seq LIKE c.pat
        GROUP BY c.pattern, c.n_steps
    )
    SELECT pattern, CAST(n_steps AS INT) AS n_steps,
           CAST(freq AS BIGINT) AS freq
    FROM counted WHERE freq >= (SELECT mc FROM minc)
    """


@register("prefixspan_event_patterns", survey="ext-ml,W1,U2",
          oracle=_prefixspan_oracle())
def prefixspan_event_patterns(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Frequent sequential event-type patterns per user via
    distributed PrefixSpan (Pei et al. 2001): each user's first
    PSPAN_SEQ_CAP events (chronological, event_id tie-break) form a
    sequence of single-item itemsets; patterns up to length
    PSPAN_MAX_LEN with support ≥ PSPAN_MIN_SUPPORT of users are
    mined by recursive database projection — the behavioral-motif
    counterpart of `event_transition_matrix` (which sees only
    adjacent pairs; PrefixSpan finds GAPPED subsequences).

    The sequence build is one user-partitioned window + one
    aggregate; the cap bounds projection depth at any scale. Fully
    oracled (graduated from rows-only, r6): with a 5-symbol alphabet
    and maxPatternLength 3, the candidate space is 155 patterns —
    the DuckDB twin enumerates ALL of them and counts supporting
    users by gapped-subsequence LIKE matching over single-char-coded
    sequences, with the identical ceil(minSupport·n) threshold; the
    hash-match is a true cross-algorithm equality (recursive database
    projection vs exhaustive candidate counting). tests/test_ml.py
    additionally pins equality against a brute-force subsequence
    counter over the collected sequences at sf0.001."""
    from pyspark.ml.fpm import PrefixSpan

    t = load_tables(spark, sf_dir, ("events",))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seqs = (t["events"]
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= PSPAN_SEQ_CAP)
            .groupBy("user_id")
            .agg(F.transform(
                F.array_sort(F.collect_list(
                    F.struct("rn", "event_type"))),
                lambda s: F.array(s["event_type"])).alias("sequence")))
    ps = PrefixSpan(minSupport=PSPAN_MIN_SUPPORT,
                    maxPatternLength=PSPAN_MAX_LEN,
                    maxLocalProjDBSize=32_000_000)
    return (ps.findFrequentSequentialPatterns(seqs)
            .select(F.concat_ws(
                ">", F.transform(F.col("sequence"),
                                 lambda x: F.element_at(x, 1)))
                .alias("pattern"),
                F.size("sequence").alias("n_steps"),
                F.col("freq").cast("long").alias("freq")))
