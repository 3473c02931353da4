"""Composite time-series operators (SURVEY.md §2.5 W8/W9).

The reference calls statsmodels' `seasonal_decompose` and pandas'
`interpolate()` on per-country series (`streamlit/weather_analysis.py:
101-103`, forecasting notebook cell 10). Neither exists as a Spark
builtin; both are *compositions of window frames* — no UDF needed:

- W8 seasonal decompose (additive, period p): trend = centered moving
  average (full-window guard), detrended = y − trend, seasonal = per-
  phase mean of detrended re-centered to sum~0, resid = y − trend −
  seasonal. Three window/groupBy passes over a series that shuffles
  once on the series key.
- W9 linear interpolation: for each null, last/first non-null value
  and position via IGNORE NULLS frames, then one deterministic lerp.

Scale: both operators are per-series (partitionBy the series key) —
a 100 TB corpus of many series parallelizes to one task per series
chunk; the demo daily-revenue series is a single global series, the
degenerate case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from covid_weather_etl_spark.functions import driver
from covid_weather_etl_spark.functions.numeric import (
    decimal_dot_sql, decimal_sum, decimal_sum_sql, dsum, dsum_sql, fround,
    fround_sql, fround_val, grid_sum, grid_sum_sql,
)
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables

PERIOD = 7  # weekly seasonality for the daily order-revenue series


@register(
    "seasonal_decompose",
    survey="W8,A6,A9,F5",
    bench=True,
    oracle=f"""
    WITH daily AS (
        SELECT n.n_name,
               CAST(o.o_orderdate AS DATE) AS d,
               {dsum_sql("o.o_totalprice")} AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ),
    with_trend AS (
        SELECT n_name, d, y, CAST(isodow(d) AS INT) - 1 AS phase,
               CASE WHEN count(y) OVER w = {PERIOD}
                    THEN avg(y) OVER w END AS trend
        FROM daily
        WINDOW w AS (PARTITION BY n_name ORDER BY d
                     ROWS BETWEEN {PERIOD // 2} PRECEDING
                              AND {PERIOD // 2} FOLLOWING)
    ),
    phase_means AS (
        SELECT n_name, phase, avg(y - trend) AS sm
        FROM with_trend WHERE trend IS NOT NULL GROUP BY n_name, phase
    ),
    grand AS (SELECT n_name, avg(sm) AS g FROM phase_means GROUP BY n_name)
    SELECT t.n_name, t.d, t.y,
           ROUND(t.trend, 6) + 0.0                    AS trend,
           ROUND(p.sm - gr.g, 6) + 0.0                AS seasonal,
           ROUND(t.y - t.trend - (p.sm - gr.g), 6) + 0.0 AS resid
    FROM with_trend t
    JOIN phase_means p ON t.n_name = p.n_name AND t.phase = p.phase
    JOIN grand gr ON t.n_name = gr.n_name
    """,
)
def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the PER-NATION daily revenue
    series (period=7), composed purely from windows + groupBy —
    observed/trend/seasonal/resid like statsmodels, no UDF. Every
    window partitions on the series key, so a 100 TB corpus of many
    series decomposes with zero global shuffles (one series per task
    chunk); the phase/grand means are tiny per-series frames that
    broadcast back."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    half = PERIOD // 2
    daily = (t["orders"]
             .join(F.broadcast(t["customer"]),
                   F.col("o_custkey") == F.col("c_custkey"))
             .join(F.broadcast(t["nation"]),
                   F.col("c_nationkey") == F.col("n_nationkey"))
             .groupBy("n_name", F.to_date("o_orderdate").alias("d"))
             .agg(dsum("o_totalprice").alias("y")))
    w = W.partitionBy("n_name").orderBy("d").rowsBetween(-half, half)
    with_trend = daily.select(
        "n_name", "d", "y",
        (F.weekday("d")).alias("phase"),
        F.when(F.count("y").over(w) == PERIOD, F.avg("y").over(w)).alias("trend"))
    phase_means = (with_trend
                   .filter(F.col("trend").isNotNull())
                   .groupBy("n_name", "phase")
                   .agg(F.avg(F.col("y") - F.col("trend")).alias("sm")))
    grand = phase_means.groupBy("n_name").agg(F.avg("sm").alias("g"))
    seasonal = F.col("sm") - F.col("g")
    return (
        with_trend
        .join(F.broadcast(phase_means), ["n_name", "phase"])
        .join(F.broadcast(grand), "n_name")
        .select(
            "n_name", "d", "y",
            F.round("trend", 6).alias("trend"),
            F.round(seasonal, 6).alias("seasonal"),
            F.round(F.col("y") - F.col("trend") - seasonal, 6).alias("resid"))
    )


@register(
    "interpolate_gaps",
    survey="W9",
    oracle="""
    WITH gapped AS (
        SELECT user_id, event_id,
               CASE WHEN event_id % 7 <> 0 THEN value END AS v,
               row_number() OVER w_ord AS rn
        FROM events
        WINDOW w_ord AS (PARTITION BY user_id ORDER BY event_id)
    ),
    ctx AS (
        SELECT user_id, event_id, v, rn,
               last_value(v IGNORE NULLS) OVER w_prev  AS prev_v,
               first_value(v IGNORE NULLS) OVER w_next AS next_v,
               max(CASE WHEN v IS NOT NULL THEN rn END) OVER w_prev AS prev_rn,
               min(CASE WHEN v IS NOT NULL THEN rn END) OVER w_next AS next_rn
        FROM gapped
        WINDOW
          w_prev AS (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          w_next AS (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, event_id, v AS observed,
           CASE WHEN v IS NOT NULL THEN v
                WHEN prev_v IS NULL THEN next_v
                WHEN next_v IS NULL THEN prev_v
                ELSE prev_v + (next_v - prev_v) * (rn - prev_rn)
                              / (next_rn - prev_rn)
           END AS value_filled
    FROM ctx
    """,
)
def interpolate_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of gaps (reference `series.interpolate()`,
    `streamlit/weather_analysis.py:101`): nulls are injected
    deterministically (event_id % 7 == 0), then filled from the
    nearest non-null neighbors on each side via IGNORE NULLS frames +
    one lerp. Edge gaps fall back to nearest-value fill, matching
    pandas' default. All per-row IEEE ops — bit-exact vs the oracle."""
    t = load_tables(spark, sf_dir, ("events",))
    w_ord = W.partitionBy("user_id").orderBy("event_id")
    gapped = t["events"].select(
        "user_id", "event_id",
        F.when(F.col("event_id") % 7 != 0, F.col("value")).alias("v"),
    ).withColumn("rn", F.row_number().over(w_ord))

    w_prev = W.partitionBy("user_id").orderBy("rn") \
        .rowsBetween(W.unboundedPreceding, -1)
    w_next = W.partitionBy("user_id").orderBy("rn") \
        .rowsBetween(1, W.unboundedFollowing)
    v = F.col("v")
    ctx = gapped.select(
        "user_id", "event_id", "v", "rn",
        F.last(v, ignorenulls=True).over(w_prev).alias("prev_v"),
        F.first(v, ignorenulls=True).over(w_next).alias("next_v"),
        F.max(F.when(v.isNotNull(), F.col("rn"))).over(w_prev).alias("prev_rn"),
        F.min(F.when(v.isNotNull(), F.col("rn"))).over(w_next).alias("next_rn"),
    )
    lerp = (F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * (F.col("rn") - F.col("prev_rn"))
            / (F.col("next_rn") - F.col("prev_rn")))
    return ctx.select(
        "user_id", "event_id", v.alias("observed"),
        F.when(v.isNotNull(), v)
         .when(F.col("prev_v").isNull(), F.col("next_v"))
         .when(F.col("next_v").isNull(), F.col("prev_v"))
         .otherwise(lerp).alias("value_filled"),
    )


ALPHA = 0.3  # EWMA smoothing factor; literal mirrored in the oracle SQL


@register(
    "ewma_smoothing",
    survey="ext-timeseries,W4,U2,A6",
    oracle=f"""
    WITH RECURSIVE m AS (
        SELECT o_orderpriority AS priority,
               date_trunc('month', o_orderdate) AS month,
               {{rev}} AS rev,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY date_trunc('month', o_orderdate)) AS INT) AS rn
        FROM orders
        GROUP BY 1, 2
    ),
    e AS (
        SELECT priority, month, rev, rn, rev AS ewma FROM m WHERE rn = 1
        UNION ALL
        SELECT m.priority, m.month, m.rev, m.rn,
               {ALPHA} * m.rev + {1 - ALPHA} * e.ewma
        FROM m JOIN e ON m.priority = e.priority AND m.rn = e.rn + 1
    )
    SELECT priority, month, rev, rn, ROUND(ewma, 6) AS ewma FROM e
    """.format(rev=dsum_sql("o_totalprice")),
)
def ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average over the monthly revenue
    series per order priority: y_1 = x_1, y_t = α·x_t + (1−α)·y_{t−1}.
    A linear recurrence has no fixed-size window form, so the scale
    path is per-series applyInPandas (one Arrow batch per priority;
    at 100 TB one task per series chunk after the monthly rollup has
    already shrunk the data by orders of magnitude). The oracle runs
    the SAME recurrence as a DuckDB recursive CTE; both sides compute
    α·x + (1−α)·y in IEEE double with identical literals and op order,
    so results agree bit-for-bit before the 6dp display rounding.

    Reference provenance: the forecasting notebook smooths series with
    pandas rolling means (notebooks/weather_forecasting.ipynb cell 10);
    EWMA is the streaming-friendly upgrade (O(1) state per series).
    """
    import pandas as pd

    t = load_tables(spark, sf_dir, ("orders",))
    monthly = (t["orders"]
               .groupBy(F.col("o_orderpriority").alias("priority"),
                        F.date_trunc("month", "o_orderdate").alias("month"))
               .agg(dsum("o_totalprice").alias("rev")))

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("month").reset_index(drop=True)
        x = pdf["rev"].to_numpy()
        y = x.copy()
        for i in range(1, len(y)):
            # identical op order to the oracle: α·x first, then add
            y[i] = ALPHA * x[i] + (1 - ALPHA) * y[i - 1]
        pdf["rn"] = range(1, len(pdf) + 1)
        pdf["ewma"] = y
        return pdf

    schema = ("priority string, month timestamp, rev double, "
              "rn int, ewma double")
    # display rounding happens in Spark (HALF_UP, like the oracle's
    # ROUND and the rest of the repo) — numpy's .round is half-to-even
    # and would diverge from the oracle on an exact 6dp tie.
    return (monthly.groupBy("priority")
            .applyInPandas(smooth, schema=schema)
            .withColumn("ewma", F.round("ewma", 6)))


#: 1-D Kalman local-level constants. The gain recursion only sees the
#: Q/R RATIO, so unit variances make the filter scale-free over the
#: revenue series; literals mirrored into the oracle via repr.
KAL_Q, KAL_R, KAL_P0 = 0.1, 1.0, 1.0


def _kalman_oracle() -> str:
    q, r, p0 = repr(KAL_Q), repr(KAL_R), repr(KAL_P0)
    rev = dsum_sql("o_totalprice")
    return f"""
    WITH RECURSIVE m AS (
        SELECT o_orderpriority AS priority,
               date_trunc('month', o_orderdate) AS month,
               {rev} AS rev,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY date_trunc('month', o_orderdate)) AS INT) AS rn
        FROM orders
        GROUP BY 1, 2
    ),
    kf AS (
        SELECT priority, month, rev, rn,
               rev AS x, CAST('{p0}' AS DOUBLE) AS p,
               CAST('1.0' AS DOUBLE) AS gain
        FROM m WHERE rn = 1
        UNION ALL
        SELECT s.priority, s.month, s.rev, s.rn,
               s.x_prior + s.k * (s.rev - s.x_prior),
               (1e0 - s.k) * s.p_prior,
               s.k
        FROM (
            SELECT m.priority, m.month, m.rev, m.rn,
                   kf.x AS x_prior,
                   kf.p + CAST('{q}' AS DOUBLE) AS p_prior,
                   (kf.p + CAST('{q}' AS DOUBLE))
                       / ((kf.p + CAST('{q}' AS DOUBLE))
                          + CAST('{r}' AS DOUBLE)) AS k
            FROM m JOIN kf ON m.priority = kf.priority
                          AND m.rn = kf.rn + 1
        ) s
    )
    SELECT priority, month, rev, rn,
           {fround_sql("x")} AS kalman,
           {fround_sql("gain")} AS gain
    FROM kf
    """


@register(
    "kalman_level_smooth",
    survey="ext-timeseries,W4,U2,A6",
    oracle=_kalman_oracle(),
)
def kalman_level_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filter (local-level model) over the monthly revenue
    series per order priority — the adaptive-gain member of the
    smoothing family: where `ewma_smoothing` trusts every observation
    with a FIXED α, the Kalman gain starts high (new series, wide
    prior) and converges to the steady-state α implied by the
    process/measurement variance ratio Q/R — the principled warm-up
    EWMA lacks. With unit variances the gain sequence is scale-free;
    the reported `gain` column shows the convergence. Same recursion
    discipline as EWMA/Holt-Winters: per-series applyInPandas with
    the exact IEEE op tree (predict variance, gain, update, variance
    contraction) the DuckDB recursive-CTE twin replays — constants
    embedded via repr, so both engines are bit-identical before the
    6dp display rounding (PARITY.md §5)."""
    import pandas as pd

    t = load_tables(spark, sf_dir, ("orders",))
    monthly = (t["orders"]
               .groupBy(F.col("o_orderpriority").alias("priority"),
                        F.date_trunc("month", "o_orderdate").alias("month"))
               .agg(dsum("o_totalprice").alias("rev")))

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("month").reset_index(drop=True)
        z = pdf["rev"].to_numpy()
        xs, gs = [], []
        x, p = float(z[0]), KAL_P0
        xs.append(x)
        gs.append(1.0)
        for i in range(1, len(z)):
            p_prior = p + KAL_Q
            k = p_prior / (p_prior + KAL_R)
            x = x + k * (float(z[i]) - x)
            p = (1.0 - k) * p_prior
            xs.append(x)
            gs.append(k)
        pdf["rn"] = range(1, len(pdf) + 1)
        pdf["kalman"] = [fround_val(v) for v in xs]
        pdf["gain"] = [fround_val(v) for v in gs]
        return pdf

    schema = ("priority string, month timestamp, rev double, "
              "rn int, kalman double, gain double")
    return monthly.groupBy("priority").applyInPandas(smooth, schema=schema)


@register(
    "cusum_changepoint",
    survey="ext-timeseries,W1,A6,A9",
    oracle="""
    WITH m AS (
        SELECT n_name,
               date_trunc('month', o_orderdate) AS month,
               COUNT(*) AS cnt
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    ),
    s AS (
        SELECT n_name, month, cnt,
               SUM(cnt) OVER w AS cum,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS t,
               COUNT(*) OVER (PARTITION BY n_name) AS n_months,
               SUM(cnt) OVER (PARTITION BY n_name) AS total
        FROM m
        WINDOW w AS (PARTITION BY n_name ORDER BY month)
    ),
    scored AS (
        SELECT n_name, month, n_months, total,
               cum * n_months - t * total AS score,
               ROW_NUMBER() OVER (
                   PARTITION BY n_name
                   ORDER BY abs(cum * n_months - t * total) DESC, month
               ) AS pick
        FROM s
    )
    SELECT n_name,
           month                                   AS cp_month,
           ROUND(score * 1.0 / n_months, 6)        AS s_value,
           CAST(n_months AS BIGINT)                AS n_months,
           ROUND(total * 1.0 / n_months, 6)        AS mean_monthly
    FROM scored WHERE pick = 1
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per nation over monthly order
    counts: S_t = Σ_{i≤t}(x_i − x̄); the changepoint is the month
    maximizing |S_t| (Page 1954 / binary-segmentation step 1). The
    comparison key is kept in EXACT integer arithmetic — |S_t|·N =
    |cum·N − t·total| — so the argmax can't flip on float noise; the
    reported S value divides once at the end. Shape: one shuffle to
    (nation, month), then nation-partitioned windows and a top-1 pick
    per nation — bounded state, no global window, scales per series."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    m = (t["orders"]
         .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(t["nation"]),
               F.col("c_nationkey") == F.col("n_nationkey"))
         .groupBy("n_name", F.date_trunc("month", "o_orderdate").alias("month"))
         .agg(F.count("*").alias("cnt")))
    w = W.partitionBy("n_name").orderBy("month")
    wn = W.partitionBy("n_name")
    s = m.select(
        "n_name", "month", "cnt",
        F.sum("cnt").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
        F.row_number().over(w).cast("bigint").alias("t"),
        F.count("*").over(wn).alias("n_months"),
        F.sum("cnt").over(wn).alias("total"),
    )
    score = F.col("cum") * F.col("n_months") - F.col("t") * F.col("total")
    scored = s.select(
        "n_name", "month", "n_months", "total", score.alias("score"),
        F.row_number().over(
            W.partitionBy("n_name")
            .orderBy(F.abs(score).desc(), F.col("month"))).alias("pick"),
    )
    return (scored.filter(F.col("pick") == 1)
            .select("n_name",
                    F.col("month").alias("cp_month"),
                    F.round(F.col("score") * 1.0 / F.col("n_months"), 6)
                     .alias("s_value"),
                    F.col("n_months").cast("bigint").alias("n_months"),
                    F.round(F.col("total") * 1.0 / F.col("n_months"), 6)
                     .alias("mean_monthly")))


MEDIAN_WINDOW = 7  # trailing rows for the robust rolling median


@register(
    "rolling_median_revenue",
    survey="W4,A11,A6",
    oracle=f"""
    WITH daily AS (
        SELECT n.n_name,
               CAST(o.o_orderdate AS DATE) AS d,
               {dsum_sql("o.o_totalprice")} AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    )
    SELECT n_name, d, y,
           CASE WHEN count(y) OVER w = {MEDIAN_WINDOW}
                THEN ROUND(CAST(quantile_cont(y, 0.5) OVER w AS DOUBLE), 6)
           END AS roll_median
    FROM daily
    WINDOW w AS (PARTITION BY n_name ORDER BY d
                 ROWS BETWEEN {MEDIAN_WINDOW - 1} PRECEDING AND CURRENT ROW)
    """,
)
def rolling_median_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact MEDIAN of the per-nation daily revenue series over
    a trailing {MEDIAN_WINDOW}-row frame — the robust complement of the
    rolling means in `rolling_features` (one spike corrupts a rolling
    mean for a full window; the median shrugs it off, which is why
    robust monitors alert on median-vs-mean divergence). Emitted only
    for full frames (null-until-full, pandas/W4 parity convention).

    Windowed exact percentile runs per (nation) partition — never a
    global window — and both engines interpolate identically (rounded
    6dp as last-ulp hygiene). At 100 TB the frame is row-bounded
    ({MEDIAN_WINDOW} values live per task at a time after the one
    series shuffle); a value-RANGE frame variant swaps the frame spec
    without changing the plan."""
    from covid_weather_etl_spark.ml.queries import nation_daily

    w = (W.partitionBy("n_name").orderBy("d")
         .rowsBetween(-(MEDIAN_WINDOW - 1), 0))
    daily = nation_daily(spark, sf_dir).select("n_name", "d", "y")
    med = F.when(
        F.count("y").over(w) == MEDIAN_WINDOW,
        F.round(F.percentile("y", F.lit(0.5)).over(w), 6))
    return daily.select("n_name", "d", "y", med.alias("roll_median"))


#: Hampel/robust-z parameters: 1.4826 scales MAD to the stddev of a
#: normal distribution; 3.5 is the standard Hampel identifier cutoff.
MAD_SIGMA = 1.4826
MAD_CUTOFF = 3.5


@register(
    "mad_anomaly_report",
    survey="ext-timeseries,A11,A6,P7",
    oracle=f"""
    WITH daily AS (
        SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS d,
               {dsum_sql("o.o_totalprice")} AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ), med AS (
        SELECT n_name, ROUND(quantile_cont(y, 0.5), 6) AS med
        FROM daily GROUP BY 1
    ), mad AS (
        SELECT d.n_name,
               ROUND(quantile_cont(ABS(d.y - m.med), 0.5), 6) AS mad
        FROM daily d JOIN med m USING (n_name) GROUP BY 1
    )
    SELECT d.n_name, d.d, d.y, m.med, a.mad,
           ROUND(ABS(d.y - m.med) / ({MAD_SIGMA} * a.mad), 6) AS robust_z
    FROM daily d
    JOIN med m USING (n_name)
    JOIN mad a USING (n_name)
    WHERE a.mad > 0
      AND ABS(d.y - m.med) > {MAD_CUTOFF} * {MAD_SIGMA} * a.mad
    """,
)
def mad_anomaly_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly report (Hampel identifier) over the per-nation
    daily revenue series: a day is anomalous when its deviation from
    the nation's MEDIAN exceeds {MAD_CUTOFF}·{MAD_SIGMA}·MAD (median
    absolute deviation). Mean/stddev monitors drown in their own
    outliers — one spike inflates sigma and masks the next spike; the
    median/MAD pair has a 50% breakdown point, which is why production
    data-quality monitors alert on robust z. Completes the monitoring
    family next to ewma_smoothing (drift) and cusum_changepoint (level
    shifts): this one catches point anomalies.

    Plan shape: the one (nation, day) rollup shuffle, then both
    exact percentiles as whole-partition WINDOW aggregates over the
    same n_name partitioning (median, then median of absolute
    deviations — the second needs the first, an inherent two-pass
    dependency): one exchange establishes the partitioning and both
    Window operators reuse it (guide §2.4), so the plan is linear —
    no cache, no broadcast builds, one action. Both medians are
    rounded 6dp before any comparison so both engines threshold
    identical values; groups with MAD = 0 are excluded on both sides
    rather than dividing by zero. At 100 TB the rollup IS the data
    reduction (days×nations rows per window partition — never a
    global window); the percentile swaps for approx_percentile,
    nothing else changes."""
    from covid_weather_etl_spark.ml.queries import nation_daily

    # r13 (guide §2.4): both medians as whole-partition window
    # aggregates over the SAME n_name partitioning — one exchange
    # establishes the partitioning and both Window operators reuse it,
    # replacing the cached daily frame + two groupBy aggregates + two
    # broadcast-exchange builds (each a scheduled job) with one linear
    # plan. percentile() over an unbounded frame evaluates once per
    # partition on the identical per-nation value multiset, so med/mad
    # are the same doubles as the groupBy form (6dp-rounded as before).
    wn = W.partitionBy("n_name")
    daily = nation_daily(spark, sf_dir).select("n_name", "d", "y")
    med = F.round(F.percentile("y", F.lit(0.5)).over(wn), 6)
    with_med = daily.select("n_name", "d", "y", med.alias("med"))
    mad = F.round(F.percentile(F.abs(F.col("y") - F.col("med")),
                               F.lit(0.5)).over(wn), 6)
    with_mad = with_med.select("n_name", "d", "y", "med",
                               mad.alias("mad"))
    dev = F.abs(F.col("y") - F.col("med"))
    return (with_mad
            .filter((F.col("mad") > 0)
                    & (dev > MAD_CUTOFF * MAD_SIGMA * F.col("mad")))
            .select("n_name", "d", "y", "med", "mad",
                    F.round(dev / (MAD_SIGMA * F.col("mad")), 6)
                     .alias("robust_z")))


#: autocorrelation diagnostic: maximum lag reported.
ACF_MAX_LAG = 7


@register(
    "acf_daily_revenue",
    survey="ext-ts,W2,A6,J1",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               -- not the kernel: the daily DECIMAL total also feeds x - xbar
               CAST({decimal_sum_sql("o_totalprice", "decimal(18,2)")}
                    AS DECIMAL(18,2)) AS x
        FROM orders GROUP BY 1
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6)
                    AS DECIMAL(16,6)) AS xbar
        FROM daily
    ), dev AS (
        SELECT d, CAST(x - xbar AS DECIMAL(16,6)) AS e
        FROM daily CROSS JOIN stats
    ), den AS (
        SELECT {decimal_dot_sql("e", "e", "decimal(19,6)")} AS s_ee
        FROM dev
    ), lags AS (SELECT unnest(range(1, {ACF_MAX_LAG} + 1)) AS lag)
    SELECT lags.lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST({decimal_dot_sql("a.e", "b.e", "decimal(19,6)")}
                      AS DOUBLE)
                 / CAST(MAX(den.s_ee) AS DOUBLE), 6) AS acf
    FROM lags
    JOIN dev a ON TRUE
    JOIN dev b ON b.d = a.d + CAST(lags.lag AS INTEGER) * INTERVAL 1 DAY
    CROSS JOIN den
    GROUP BY lags.lag
    """,
)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily-revenue series, lags 1-7
    — the diagnostic the reference's forecasting notebook reads off
    `plot_acf` before picking SARIMA orders (forecasting notebook
    cells 8-9), computed exactly in-engine: r_k = Σ e_t·e_{t+k} /
    Σ e_t² with e = x − x̄. CROSS-ENGINE EXACT by construction: x̄ is
    DEFINED as the 6dp-rounded mean (one double division — a single
    IEEE op, identical everywhere), deviations then live on the 1e-6
    grid as DECIMAL(16,6), every product is exact DECIMAL(33,12) (the
    oracle widens its multiply operands to DECIMAL(19,6) — DuckDB
    executes width<=18 products in int64, which overflows; 19 forces
    the int128 path at the same exact scale-12 value), and
    the one final division is again a single double op rounded 6dp.
    No float accumulation anywhere, so the result is independent of
    partitioning and join order on both engines.

    Plan shape: lag alignment is a self-JOIN of the day-grain frame
    on d+k (no window at all — the frame is calendar-bounded, the
    seven lags fan out from a 7-row broadcast), denominators and
    means are scalar aggregates broadcast back. At 100 TB the orders
    scan collapses to the day grain in one map-combinable shuffle and
    everything after is calendar-sized."""
    t = load_tables(spark, sf_dir, ("orders",))
    # not the kernel: the daily DECIMAL total also feeds x - xbar
    daily = (t["orders"]
             .groupBy(F.col("o_orderdate").cast("date").alias("d"))
             .agg(decimal_sum("o_totalprice", "decimal(18,2)")
                  .cast("decimal(18,2)").alias("x"))
             .localCheckpoint(eager=False))  # day-grain; reused 4x
    stats = daily.agg(
        F.count("*").alias("n"),
        F.round(F.sum("x").cast("double") / F.count("*"), 6)
         .cast("decimal(16,6)").alias("xbar"))
    # not the kernel: e feeds SUM(a.e * b.e) as a decimal
    dev = (daily.crossJoin(F.broadcast(stats))
           .select("d", (F.col("x") - F.col("xbar"))
                   .cast("decimal(16,6)").alias("e"))
           .localCheckpoint(eager=False))   # reused as both join sides
    den = dev.agg(F.sum(F.col("e") * F.col("e")).alias("s_ee"))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag"))
    a, b = dev.alias("a"), dev.alias("b")
    return (F.broadcast(lags)
            .join(a, F.lit(True))
            .join(b, F.col("b.d") == F.date_add(F.col("a.d"), F.col("lag")))
            .crossJoin(F.broadcast(den))
            .groupBy("lag")
            .agg(F.count("*").alias("n_pairs"),
                 F.round(F.sum(F.col("a.e") * F.col("b.e")).cast("double")
                         / F.max("s_ee").cast("double"), 6).alias("acf"))
            .select("lag", "n_pairs", "acf"))


# ---------------------------------------------------------------------------
# robust trend: Theil-Sen slope + Mann-Kendall test (pairwise algebra)
# ---------------------------------------------------------------------------

@register(
    "theilsen_mannkendall_trend",
    survey="ext-robust,A9,J1,W1,F9",
    oracle=f"""
    WITH monthly AS (
        SELECT n.n_name,
               (EXTRACT(year FROM o.o_orderdate) - 1995) * 12
                 + EXTRACT(month FROM o.o_orderdate) AS mx,
               {dsum_sql("o.o_totalprice")} AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ), pairs AS (
        SELECT a.n_name,
               (b.y - a.y) / (b.mx - a.mx) AS slope,
               CASE WHEN b.y > a.y THEN 1
                    WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
        FROM monthly a JOIN monthly b
          ON a.n_name = b.n_name AND a.mx < b.mx
    ), ties AS (
        SELECT n_name,
               CAST(SUM(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tie_corr
        FROM (SELECT n_name, y, CAST(COUNT(*) AS BIGINT) AS c
              FROM monthly GROUP BY 1, 2)
        GROUP BY 1
    ), per_nation AS (
        SELECT p.n_name,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(sgn) AS BIGINT) AS s_stat,
               {fround_sql("quantile_cont(slope, 0.5)")}
                   AS theil_sen_slope
        FROM pairs p GROUP BY 1
    ), sized AS (
        SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_months
        FROM monthly GROUP BY 1
    )
    SELECT pn.n_name, sz.n_months, pn.n_pairs, pn.s_stat,
           pn.theil_sen_slope,
           {fround_sql("(CASE"
                       " WHEN pn.s_stat > 0 THEN (pn.s_stat - 1) / SQRT("
                       " (sz.n_months * (sz.n_months - 1.0)"
                       " * (2 * sz.n_months + 5) - t.tie_corr) / 18.0)"
                       " WHEN pn.s_stat < 0 THEN (pn.s_stat + 1) / SQRT("
                       " (sz.n_months * (sz.n_months - 1.0)"
                       " * (2 * sz.n_months + 5) - t.tie_corr) / 18.0)"
                       " ELSE 0.0 END)")} AS mk_z
    FROM per_nation pn
    JOIN sized sz ON pn.n_name = sz.n_name
    JOIN ties t   ON pn.n_name = t.n_name
    """,
)
def theilsen_mannkendall_trend(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Robust trend pack per nation over the monthly revenue series:
    the Theil-Sen estimator (median of all pairwise slopes — 29%
    breakdown point, immune to the outlier months that wreck OLS;
    complements `ols_trend_per_group`) and the Mann-Kendall trend
    test (S = Σ sign(y_j − y_i), the distribution-free 'is there ANY
    monotone trend' hypothesis test hydrology/climatology runs before
    fitting anything), with the standard tie-corrected variance and
    continuity-corrected z.

    Pairwise algebra is O(m²) per group — fatal on daily grain at
    scale, bounded and CHEAP on the monthly pre-aggregate (m ≈ 80
    months ⇒ ~3k pairs per nation, forever, regardless of fact size:
    the aggregate-then-pair pattern is the scale story). The self-join
    keys on nation so pairs never cross groups; slopes are single
    exact-input divisions (decimal-exact monthly sums, integer month
    index); S and the tie correction are pure integers; only the
    median slope and z are floats, fround-rounded once each."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    monthly = (t["orders"]
               .join(F.broadcast(t["customer"]),
                     F.col("o_custkey") == F.col("c_custkey"))
               .join(F.broadcast(t["nation"]),
                     F.col("c_nationkey") == F.col("n_nationkey"))
               .groupBy("n_name",
                        ((F.year("o_orderdate") - 1995) * 12
                         + F.month("o_orderdate")).alias("mx"))
               .agg(dsum("o_totalprice").alias("y"))
               .localCheckpoint(eager=False))  # reused by pairs/ties/size
    a = monthly.select(F.col("n_name").alias("ln"),
                       F.col("mx").alias("ax"), F.col("y").alias("ay"))
    b = monthly.select(F.col("n_name").alias("rn"),
                       F.col("mx").alias("bx"), F.col("y").alias("by"))
    pairs = (a.join(b, (F.col("ln") == F.col("rn"))
                    & (F.col("ax") < F.col("bx")))
             .select(F.col("ln").alias("n_name"),
                     ((F.col("by") - F.col("ay"))
                      / (F.col("bx") - F.col("ax"))).alias("slope"),
                     F.when(F.col("by") > F.col("ay"), 1)
                      .when(F.col("by") < F.col("ay"), -1)
                      .otherwise(0).alias("sgn")))
    per_nation = (pairs.groupBy("n_name")
                  .agg(F.count("*").alias("n_pairs"),
                       F.sum("sgn").cast("long").alias("s_stat"),
                       fround(F.percentile("slope", F.lit(0.5)))
                       .alias("theil_sen_slope")))
    c = F.col("c")
    ties = (monthly.groupBy("n_name", "y")
            .agg(F.count("*").alias("c"))
            .groupBy("n_name")
            .agg(F.sum(c * (c - 1) * (2 * c + 5)).cast("long")
                 .alias("tie_corr")))
    sized = (monthly.groupBy(F.col("n_name").alias("s_name"))
             .agg(F.count("*").alias("n_months")))
    m = F.col("n_months")
    var_s = (m * (m - 1.0) * (2 * m + 5) - F.col("tie_corr")) / 18.0
    s = F.col("s_stat")
    z = (F.when(s > 0, (s - 1) / F.sqrt(var_s))
          .when(s < 0, (s + 1) / F.sqrt(var_s))
          .otherwise(F.lit(0.0)))
    return (per_nation
            .join(F.broadcast(sized), F.col("n_name") == F.col("s_name"))
            .join(F.broadcast(ties.withColumnRenamed("n_name", "t_name")),
                  F.col("n_name") == F.col("t_name"))
            .select("n_name", "n_months", "n_pairs", "s_stat",
                    "theil_sen_slope",
                    fround(z).alias("mk_z")))


# ---------------------------------------------------------------------------
# calendar date spine + LOCF gap fill
# ---------------------------------------------------------------------------

@register(
    "date_spine_fill",
    survey="ext-warehouse,W1,W9,J4,P10",
    oracle=f"""
    WITH daily AS (
        SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS d,
               {dsum_sql("o.o_totalprice")} AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ), bounds AS (
        SELECT n_name, MIN(d) AS lo, MAX(d) AS hi FROM daily GROUP BY 1
    ), spine AS (
        SELECT n_name,
               CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))
                    AS DATE) AS d
        FROM bounds
    )
    SELECT s.n_name, s.d, daily.y,
           daily.y IS NULL AS is_missing,
           LAST_VALUE(daily.y IGNORE NULLS) OVER (
               PARTITION BY s.n_name ORDER BY s.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS y_locf
    FROM spine s LEFT JOIN daily
      ON s.n_name = daily.n_name AND s.d = daily.d
    """,
)
def date_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar date-spine densification + last-observation-carried-
    forward fill: the warehouse step every daily-grain report needs
    before window math is trusted — a groupBy over transactions emits
    NO row for a day with no orders, so rolling means silently span
    gaps (the `range_frame_revenue` docstring's warning, solved here).
    Per nation: generate the complete day calendar between that
    nation's first and last order date (`sequence()` + explode — the
    rows are CREATED engine-side, distinguishing this from
    `interpolate_gaps`, which fills null VALUES at existing rows),
    left-join the daily revenue, flag the holes, and LOCF-fill via an
    IGNORE NULLS running last().

    Scale: the spine is |nations × days| rows built from a
    nation-count-sized bounds aggregate — never fact-sized; the join
    keys on (nation, day) like the aggregate before it; the LOCF
    window partitions by nation. All values are exact decimal daily
    sums; no float ever crosses an aggregation boundary."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    daily = (t["orders"]
             .join(F.broadcast(t["customer"]),
                   F.col("o_custkey") == F.col("c_custkey"))
             .join(F.broadcast(t["nation"]),
                   F.col("c_nationkey") == F.col("n_nationkey"))
             .groupBy("n_name", F.to_date("o_orderdate").alias("d"))
             .agg(dsum("o_totalprice").alias("y")))
    bounds = (daily.groupBy(F.col("n_name").alias("s_name"))
              .agg(F.min("d").alias("lo"), F.max("d").alias("hi")))
    spine = bounds.select(
        "s_name",
        F.explode(F.sequence("lo", "hi")).alias("d"))
    joined = spine.join(
        daily, (F.col("s_name") == F.col("n_name"))
        & (spine["d"] == daily["d"]), "left")
    w = (W.partitionBy("s_name").orderBy(spine["d"])
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return joined.select(
        F.col("s_name").alias("n_name"),
        spine["d"].alias("d"),
        "y",
        F.col("y").isNull().alias("is_missing"),
        F.last("y", ignorenulls=True).over(w).alias("y_locf"))


# ---------------------------------------------------------------------------
# quantile persistence forecast scored by pinball loss
# ---------------------------------------------------------------------------

#: trailing history length for the empirical quantile forecast.
PINBALL_LOOKBACK = 28
#: forecast quantiles under evaluation.
PINBALL_TAUS = (0.1, 0.5, 0.9)


@register(
    "pinball_quantile_forecast_eval",
    survey="ext-timeseries,W4,A11,U5",
    oracle=f"""
    WITH daily AS (
        SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS d,
               {dsum_sql("o.o_totalprice")} AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ), fc AS (
        SELECT n_name, d, y,
               COUNT(y) OVER w AS hist,
               quantile_cont(y, 0.1) OVER w AS q10,
               quantile_cont(y, 0.5) OVER w AS q50,
               quantile_cont(y, 0.9) OVER w AS q90
        FROM daily
        WINDOW w AS (PARTITION BY n_name ORDER BY d
                     ROWS BETWEEN {PINBALL_LOOKBACK} PRECEDING
                              AND 1 PRECEDING)
    ), scored AS (
        SELECT n_name, 0.1 AS tau, y, q10 AS q FROM fc
        WHERE hist = {PINBALL_LOOKBACK}
        UNION ALL
        SELECT n_name, 0.5 AS tau, y, q50 AS q FROM fc
        WHERE hist = {PINBALL_LOOKBACK}
        UNION ALL
        SELECT n_name, 0.9 AS tau, y, q90 AS q FROM fc
        WHERE hist = {PINBALL_LOOKBACK}
    )
    SELECT n_name, CAST(tau AS DOUBLE) AS tau,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           {fround_sql(dsum_sql("GREATEST(tau * (y - q),"
                                " (tau - 1e0) * (y - q))", "decimal(25,9)")
                       + " / COUNT(*)")} AS avg_pinball,
           CAST(SUM(CASE WHEN y <= q THEN 1 ELSE 0 END) AS BIGINT)
               AS n_covered
    FROM scored GROUP BY 1, 2
    """,
)
def pinball_quantile_forecast_eval(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Probabilistic forecast evaluation: a trailing-{PINBALL_LOOKBACK}-day
    EMPIRICAL QUANTILE persistence forecast (q10/q50/q90 of the recent
    history, the standard naive baseline every probabilistic model
    must beat) scored by PINBALL LOSS — the strictly proper scoring
    rule for quantiles (max(τ·e, (τ−1)·e)), completing the forecast-
    eval family next to MASE (point), ECE (calibration) and
    split-conformal (intervals). `n_covered`/`n_days` exposes
    empirical coverage per τ, the companion calibration read.

    Engine notes: the rolling quantiles are EXACT interpolated
    percentiles over a row-frame window EXCLUDING the current day
    (no leakage); days without a full lookback are dropped on both
    sides (the repo's null-until-full rolling convention). Both
    engines interpolate identically from identical history, so the
    per-day loss terms are bit-equal; they accumulate as
    DECIMAL(25,9) and the mean lands on the 1e-6 grid.

    Scale: one (nation, day) rollup shuffle, one nation-keyed window
    pass computing all three quantiles + history count, then an
    explode-to-(τ, q) and a tiny aggregate. Per-nation series are
    bounded; the window's percentile buffer is lookback-sized, not
    series-sized."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    daily = (t["orders"]
             .join(F.broadcast(t["customer"]),
                   F.col("o_custkey") == F.col("c_custkey"))
             .join(F.broadcast(t["nation"]),
                   F.col("c_nationkey") == F.col("n_nationkey"))
             .groupBy("n_name", F.to_date("o_orderdate").alias("d"))
             .agg(dsum("o_totalprice").alias("y")))
    w = (W.partitionBy("n_name").orderBy("d")
         .rowsBetween(-PINBALL_LOOKBACK, -1))
    fc = (daily
          .select("n_name", "d", "y",
                  F.count("y").over(w).alias("hist"),
                  *[F.percentile("y", F.lit(tau)).over(w)
                    .alias(f"q{int(tau * 100)}")
                    for tau in PINBALL_TAUS])
          .filter(F.col("hist") == PINBALL_LOOKBACK))
    scored = fc.select(
        "n_name", "y",
        F.explode(F.array(*[
            F.struct(F.lit(float(tau)).alias("tau"),
                     F.col(f"q{int(tau * 100)}").alias("q"))
            for tau in PINBALL_TAUS])).alias("fq"))
    tau, q, y = F.col("fq.tau"), F.col("fq.q"), F.col("y")
    loss = F.greatest(tau * (y - q), (tau - F.lit(1.0)) * (y - q))
    return (scored.groupBy("n_name", tau.alias("tau"))
            .agg(F.count("*").alias("n_days"),
                 fround(dsum(loss, "decimal(25,9)") / F.count("*"))
                 .alias("avg_pinball"),
                 F.sum(F.when(y <= q, 1).otherwise(0)).cast("bigint")
                 .alias("n_covered")))


# ---------------------------------------------------------------------------
# Croston's method — intermittent-demand forecasting
# ---------------------------------------------------------------------------

#: Croston smoothing constant (mirrored into the oracle via repr).
CROSTON_ALPHA = 0.1
#: a day 'demands' when at least this quantity ships (rare => sparse).
CROSTON_QTY_MIN = 45


def _croston_oracle() -> str:
    a = repr(CROSTON_ALPHA)
    return f"""
    WITH RECURSIVE m AS (
        SELECT p_brand AS brand, CAST(l_shipdate AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS d
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_quantity >= {CROSTON_QTY_MIN}
        GROUP BY 1, 2
    ),
    seq AS (
        SELECT brand, day, d,
               CAST(ROW_NUMBER() OVER w AS INT) AS rn,
               CAST(day - LAG(day) OVER w AS BIGINT) AS gap
        FROM m WINDOW w AS (PARTITION BY brand ORDER BY day)
    ),
    cr AS (
        SELECT brand, day, d, rn,
               d * 1e0 AS z, 1e0 AS p
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.brand, s.day, s.d, s.rn,
               CAST('{a}' AS DOUBLE) * s.d
                   + (1e0 - CAST('{a}' AS DOUBLE)) * cr.z,
               CAST('{a}' AS DOUBLE) * s.gap
                   + (1e0 - CAST('{a}' AS DOUBLE)) * cr.p
        FROM seq s JOIN cr ON s.brand = cr.brand AND s.rn = cr.rn + 1
    ),
    last AS (
        SELECT brand, MAX(rn) AS n FROM cr GROUP BY brand
    )
    SELECT cr.brand,
           CAST(last.n AS BIGINT) AS n_demands,
           cr.day AS last_demand_day,
           {fround_sql("cr.z")} AS size_ewma,
           {fround_sql("cr.p")} AS interval_ewma,
           {fround_sql("cr.z / cr.p")} AS demand_rate
    FROM cr JOIN last ON cr.brand = last.brand AND cr.rn = last.n
    """


@register(
    "croston_forecast_eval",
    survey="ext-timeseries,W2,W4,U2",
    oracle=_croston_oracle(),
)
def croston_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSTON'S METHOD (Croston 1972) — the forecaster for
    INTERMITTENT demand, where most periods are zero and a plain EWMA
    decays toward zero between spikes and lags after them: smooth the
    demand SIZES (z) and the inter-demand INTERVALS (p) as two
    separate EWMAs updated only when demand occurs; the demand rate
    z/p is the per-period forecast. Series: per-brand daily counts of
    rare large shipments (quantity ≥ {CROSTON_QTY_MIN} — a few
    demand days per thousand). This member completes the smoothing
    family (EWMA → Holt-Winters → Kalman → Croston) with the sparse
    case every spare-parts / long-tail-SKU pipeline hits.

    Replay discipline (the kalman_level_smooth pattern): updates only
    touch demand events, so the recursion length is n_demands per
    brand, replayed per-series in applyInPandas with the exact IEEE
    op order (α·x first, then add) the DuckDB recursive CTE mirrors;
    α rides repr'd literals; init z₁=d₁, p₁=1; 6dp display snap.
    Plan: one filtered brand/day aggregate (map-combinable; the
    filter prunes the scan to the rare rows), then per-brand state of
    TWO scalars — the 100 TB shape is groupBy(sku).applyInPandas over
    demand events only, never the dense calendar."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    m = (t["lineitem"].filter(F.col("l_quantity") >= CROSTON_QTY_MIN)
         .join(F.broadcast(t["part"].select("p_partkey", "p_brand")),
               F.col("l_partkey") == F.col("p_partkey"))
         .groupBy(F.col("p_brand").alias("brand"),
                  F.col("l_shipdate").cast("date").alias("day"))
         .agg(F.count("*").alias("d")))

    def croston(pdf):
        import pandas as pd
        pdf = pdf.sort_values("day").reset_index(drop=True)
        days = pdf["day"].to_numpy()
        dem = pdf["d"].to_numpy()
        z, p = float(dem[0]), 1.0
        for i in range(1, len(pdf)):
            gap = float((days[i] - days[i - 1]).days)
            z = CROSTON_ALPHA * float(dem[i]) + (1.0 - CROSTON_ALPHA) * z
            p = CROSTON_ALPHA * gap + (1.0 - CROSTON_ALPHA) * p
        return pd.DataFrame({
            "brand": [pdf["brand"].iloc[0]],
            "n_demands": [len(pdf)],
            "last_demand_day": [days[-1]],
            "size_ewma": [fround_val(z)],
            "interval_ewma": [fround_val(p)],
            "demand_rate": [fround_val(z / p)],
        })

    schema = ("brand string, n_demands bigint, last_demand_day date, "
              "size_ewma double, interval_ewma double, "
              "demand_rate double")
    return m.groupBy("brand").applyInPandas(croston, schema=schema)


# ---------------------------------------------------------------------------
# Haar wavelet energy decomposition — which time scales carry the signal
# ---------------------------------------------------------------------------

#: dyadic window length (2^6 days from the first order date).
HAAR_N = 64
HAAR_LEVELS = 6


# single-task collapse of the cascade (r12): the post-aggregate
# frame is ALWAYS HAAR_N rows by construction (a constant dyadic
# window, not a data-sized frame), so the whole 6-level cascade —
# previously 6 chained groupBys + 6 energy aggregates + union + total
# = 21 scheduled jobs / 85 stages of ≤64-row algebra, pure per-job
# scheduler tax (SCALE.md §13) — runs in ONE mapInPandas task. At any
# data scale the kernel input stays HAAR_N rows.
def _haar_single_task(cur) -> "DataFrame":
    """Whole-cascade-in-one-task kernel over the zero-filled dyadic
    frame (idx 0..HAAR_N-1, x = daily revenue as DOUBLE). Bit-exactness
    contract: each Haar step is (even±odd)/2 on doubles — IEEE-
    identical to the SQL cascade's 2-row SUM(CASE) groups (adding the
    CASE's 0e0 arm to a non-negative double is exact, division by 2 is
    exact); energy terms floor(d² + 0.5) are exact int sums; the total
    is accumulated in LEVEL ORDER 1..6 — the same sequential order the
    DuckDB oracle's union CTE sums, which the hash-green history proves
    equals the Spark aggregate's value; energy_share replays the 1e-6
    grid snap. Pinned kernel-vs-loop in tests/test_timeseries.py."""
    import math

    import pandas as pd

    def k(pdfs):
        parts = list(pdfs)
        cols = {"level": "int64", "n_coeffs": "int64",
                "energy": "float64", "energy_share": "float64"}
        if not parts:
            yield pd.DataFrame({c: pd.Series([], dtype=t)
                                for c, t in cols.items()})
            return
        e = pd.concat(parts, ignore_index=True).sort_values("idx")
        x = [float(v) for v in e["x"]]
        levels = []
        for lv in range(1, HAAR_LEVELS + 1):
            nxt, det = [], []
            for i in range(0, len(x), 2):
                nxt.append((x[i] + x[i + 1]) / 2.0)
                det.append((x[i] - x[i + 1]) / 2.0)
            energy = sum(int(math.floor(d * d + 0.5)) for d in det)
            levels.append((lv, len(det), float(energy)))
            x = nxt
        te = 0.0
        for _, _, en in levels:          # level order 1..6 — see above
            te = te + en
        yield pd.DataFrame({
            "level": pd.Series([l for l, _, _ in levels], dtype="int64"),
            "n_coeffs": pd.Series([n for _, n, _ in levels],
                                  dtype="int64"),
            "energy": pd.Series([en for _, _, en in levels],
                                dtype="float64"),
            "energy_share": pd.Series(
                [fround_val(en / te)
                 for _, _, en in levels], dtype="float64")})

    return cur.coalesce(1).mapInPandas(
        k, "level long, n_coeffs long, energy double, "
           "energy_share double")


def _haar_oracle() -> str:
    rev = dsum_sql("o_totalprice")
    ctes = [f"""
    d0 AS (
        SELECT g.i AS idx, COALESCE(m.rev, 0e0) AS x
        FROM (SELECT CAST(unnest(generate_series(0, {HAAR_N - 1}))
                     AS BIGINT) AS i) g
        LEFT JOIN (
            SELECT CAST(datediff('day', (SELECT MIN(CAST(o_orderdate
                            AS DATE)) FROM orders),
                        CAST(o_orderdate AS DATE)) AS BIGINT) AS idx,
                   {rev} AS rev
            FROM orders GROUP BY 1
        ) m ON m.idx = g.i
    )"""]
    for lv in range(1, HAAR_LEVELS + 1):
        ctes.append(f"""
    a{lv} AS (
        SELECT idx // 2 AS idx,
               (SUM(CASE WHEN idx % 2 = 0 THEN x ELSE 0e0 END)
                + SUM(CASE WHEN idx % 2 = 1 THEN x ELSE 0e0 END))
                   / 2e0 AS x,
               (SUM(CASE WHEN idx % 2 = 0 THEN x ELSE 0e0 END)
                - SUM(CASE WHEN idx % 2 = 1 THEN x ELSE 0e0 END))
                   / 2e0 AS d
        FROM {"d0" if lv == 1 else f"a{lv - 1}"}
        GROUP BY idx // 2
    )""")
    levels = " UNION ALL ".join(
        f"""SELECT CAST({lv} AS BIGINT) AS level,
               CAST(COUNT(*) AS BIGINT) AS n_coeffs,
               {grid_sum_sql("d * d", 0)} AS energy
        FROM a{lv}""" for lv in range(1, HAAR_LEVELS + 1))
    return ("WITH " + ", ".join(c.strip() for c in ctes) + f"""
    , lv AS ({levels}),
    tot AS (SELECT SUM(energy) AS te FROM lv)
    SELECT level, n_coeffs,
           energy,
           {fround_sql("energy / te")} AS energy_share
    FROM lv CROSS JOIN tot
    """)


@register(
    "haar_wavelet_energy",
    survey="ext-timeseries,W1,A6,F10",
    oracle=_haar_oracle(),
)
def haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAAR WAVELET energy decomposition of the first {HAAR_N} days of
    daily revenue — how much variance lives at each time SCALE: level
    1 details are day-to-day jitter, level 3 ≈ weekly structure,
    level 6 the one coarse half-vs-half trend split. The multi-
    resolution complement to `seasonal_decompose` (fixed period) and
    `acf_daily_revenue` (all lags, one scale): a spike concentrates
    energy at fine levels, a regime shift at coarse ones — which is
    why Haar energies are the standard cheap features for time-series
    classification and changepoint screening.

    Exactness: the zero-filled dyadic frame is exact (decimal daily
    sums); each Haar step is (even±odd)/2 — division by 2 is exact in
    binary floating point, so every coefficient is bit-identical on
    both engines; energy terms snap d² to the INTEGER grid (floor+0.5
    — revenue-scale energies are ~1e10, so unit precision is 10
    significant digits and the snap stays under 2^63 through sf 10+)
    and DECIMAL-sum. Plan: one fact aggregate to day grain, then
    {HAAR_LEVELS} chained {HAAR_N}-row-bounded groupBys (idx div 2) —
    constant-size after the first aggregate; at any corpus scale the
    cascade cost is the day-count, never rows."""
    t = load_tables(spark, sf_dir, ("orders",))
    first = t["orders"].agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"))
    daily = (t["orders"].crossJoin(F.broadcast(first))
             .groupBy(F.datediff(F.col("o_orderdate").cast("date"),
                                 F.col("d0")).cast("long").alias("idx"))
             .agg(dsum("o_totalprice").alias("rev")))
    grid = spark.range(HAAR_N).select(F.col("id").alias("idx"))
    cur = (grid.join(daily, "idx", "left")
           .select("idx", F.coalesce(F.col("rev"), F.lit(0.0))
                   .alias("x")))
    # single-task collapse (r12): the cascade input is HAAR_N rows by
    # construction at ANY data scale — run the whole 6-level cascade in
    # one kernel task (21 jobs → 1; kernel-vs-loop pinned in tests).
    if not driver.FORCE_DISTRIBUTED:
        return _haar_single_task(cur)
    out_parts = []
    for lv in range(1, HAAR_LEVELS + 1):
        even = F.sum(F.when(F.col("idx") % 2 == 0, F.col("x"))
                     .otherwise(F.lit(0.0)))
        odd = F.sum(F.when(F.col("idx") % 2 == 1, F.col("x"))
                    .otherwise(F.lit(0.0)))
        nxt = (cur.groupBy((F.col("idx") / 2).cast("long").alias("idx"))
               .agg(((even + odd) / F.lit(2.0)).alias("x"),
                    ((even - odd) / F.lit(2.0)).alias("d"))
               .localCheckpoint(eager=False))  # <=32-row frame per level
        out_parts.append(nxt.agg(
            F.lit(lv).cast("long").alias("level"),
            F.count("*").alias("n_coeffs"),
            grid_sum(F.col("d") * F.col("d"), 0).alias("energy")))
        cur = nxt.select("idx", "x")
    lv = out_parts[0]
    for o in out_parts[1:]:
        lv = lv.unionByName(o)
    lv = lv.localCheckpoint(eager=False)
    tot = lv.agg(F.sum("energy").alias("te"))
    # energy is ALREADY on the integer grid (decimal sum of floored
    # terms) — a further 1e-6 fround would overflow FLOOR's long at
    # sf0.1 energies (x*1e6 > 2^63), so it is emitted as-is
    return (lv.crossJoin(F.broadcast(tot))
            .select("level", "n_coeffs", F.col("energy"),
                    fround(F.col("energy") / F.col("te"))
                    .alias("energy_share")))
