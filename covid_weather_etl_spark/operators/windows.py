"""Window-function / ordered operator library (SURVEY.md §2.5).

The reference's richest non-SQL surface is pandas per-country
time-series feature engineering (lags, diffs, shifted rolling stats,
chronological splits — notebook cells 29-31). All of it maps onto
`Window.partitionBy(key).orderBy(time)`: per-key ordered computation
that shuffles ONCE on the partition key and then streams each partition
in sort order — exactly the layout a 1000-executor cluster wants (each
country/customer series lands whole on one task; no driver loops).

Parity details handled here:
- every window ORDER BY carries a unique tie-break key (pandas sort is
  stable; SQL isn't without one);
- pandas `rolling(w)` yields NaN until the window is full → replicated
  with a `count(...) >= w` guard over the same frame;
- pandas `std` is sample stddev (ddof=1) = Spark `stddev_samp`;
- windowed float means/stddevs are rounded to 6dp on both sides
  (segment-tree vs streaming accumulation order differs).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from covid_weather_etl_spark.functions import driver
from covid_weather_etl_spark.functions.numeric import exact_avg_sql
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables

# per-customer order history, ordered by date with orderkey tie-break —
# the analog of the reference's per-country date-ordered series.
_SERIES_ORDER_SQL = "o_orderdate, o_orderkey"


def _series_window():
    return W.partitionBy("o_custkey").orderBy(F.col("o_orderdate"), F.col("o_orderkey"))


@register(
    "lag_features",
    survey="W1,W2",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           o_totalprice,
           lag(o_totalprice, 1) OVER w AS price_lag_1,
           lag(o_totalprice, 2) OVER w AS price_lag_2,
           lag(o_totalprice, 3) OVER w AS price_lag_3
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY {_SERIES_ORDER_SQL})
    """,
)
def lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k features (reference `df['tavg'].shift(lag)` for lag 1..7,
    forecasting notebook cell 30) per customer series."""
    t = load_tables(spark, sf_dir, ("orders",))
    w = _series_window()
    return t["orders"].select(
        "o_custkey", "o_orderkey", "o_totalprice",
        F.lag("o_totalprice", 1).over(w).alias("price_lag_1"),
        F.lag("o_totalprice", 2).over(w).alias("price_lag_2"),
        F.lag("o_totalprice", 3).over(w).alias("price_lag_3"),
    )


@register(
    "first_difference",
    survey="W3",
    oracle=f"""
    SELECT o_custkey, o_orderkey, price_diff FROM (
        SELECT o_custkey, o_orderkey,
               o_totalprice - lag(o_totalprice, 1) OVER
                 (PARTITION BY o_custkey ORDER BY {_SERIES_ORDER_SQL}) AS price_diff
        FROM orders
    ) WHERE price_diff IS NOT NULL
    """,
)
def first_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First difference + dropna (reference `tavg.diff()` stationarity
    transform, forecasting notebook cell 9/29). Single subtraction per
    row — bit-deterministic, no rounding needed."""
    t = load_tables(spark, sf_dir, ("orders",))
    w = _series_window()
    return (
        t["orders"]
        .select("o_custkey", "o_orderkey",
                (F.col("o_totalprice") - F.lag("o_totalprice", 1).over(w))
                .alias("price_diff"))
        .filter(F.col("price_diff").isNotNull())
    )


@register(
    "rolling_features",
    survey="W4",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           CASE WHEN count(o_totalprice) OVER w3 >= 3
                THEN ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                                OVER w3 AS DOUBLE) / 3.0, 6)
           END AS roll_mean_3,
           CASE WHEN count(o_totalprice) OVER w3 >= 3
                THEN ROUND(sqrt(CAST(
                    3 * CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))
                                 * CAST(o_totalprice AS DECIMAL(12,2)))
                             OVER w3 AS DECIMAL(20,4))
                    - CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                           OVER w3 AS DECIMAL(14,2))
                      * CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                             OVER w3 AS DECIMAL(14,2))
                    AS DOUBLE) / 6.0), 6)
           END AS roll_std_3,
           CASE WHEN count(o_totalprice) OVER w3 >= 3
                THEN min(o_totalprice) OVER w3 END AS roll_min_3,
           CASE WHEN count(o_totalprice) OVER w3 >= 3
                THEN max(o_totalprice) OVER w3 END AS roll_max_3,
           CASE WHEN count(o_totalprice) OVER w7 >= 7
                THEN ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                                OVER w7 AS DOUBLE) / 7.0, 6)
           END AS roll_mean_7
    FROM orders
    WINDOW
      w3 AS (PARTITION BY o_custkey ORDER BY {_SERIES_ORDER_SQL}
             ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
      w7 AS (PARTITION BY o_custkey ORDER BY {_SERIES_ORDER_SQL}
             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    """,
)
def rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shifted rolling mean/std/min/max (reference
    `rolling(w).agg().shift(1)` — exclude current row — notebook cell
    30), with the pandas null-until-full semantics via a count guard.

    Mean and std are derived from EXACT decimal window sums (Σx, Σx²)
    with one final double division/sqrt, not from the engines' float
    avg/stddev accumulators: sliding-window float aggregation orders
    differ between engines (segment tree vs per-frame recompute),
    giving doubles 1 ulp apart that can straddle a 6dp rounding
    boundary — the sf0.1 parity sweep caught exactly that on
    roll_std_3. Same moment identity stddev_samp² = (nΣx² − (Σx)²) /
    (n(n−1)), computed where it is exact."""
    t = load_tables(spark, sf_dir, ("orders",))
    out_cols = ["o_custkey", "o_orderkey"]
    df = t["orders"]
    p = F.col("o_totalprice")
    pd_ = p.cast("decimal(12,2)")

    def guarded(agg: Column, w, size: int) -> Column:
        return F.when(F.count(p).over(w) >= size, agg)

    w3 = _series_window().rowsBetween(-3, -1)
    w7 = _series_window().rowsBetween(-7, -1)
    sx3 = F.sum(pd_).over(w3).cast("decimal(14,2)")
    sxx3 = F.sum(pd_ * pd_).over(w3).cast("decimal(20,4)")
    var_num = (F.lit(3) * sxx3 - sx3 * sx3).cast("double")
    mean3 = F.round(F.sum(pd_).over(w3).cast("double") / 3.0, 6)
    std3 = F.round(F.sqrt(var_num / 6.0), 6)
    mean7 = F.round(F.sum(pd_).over(w7).cast("double") / 7.0, 6)
    return df.select(
        *out_cols,
        guarded(mean3, w3, 3).alias("roll_mean_3"),
        guarded(std3, w3, 3).alias("roll_std_3"),
        guarded(F.min(p).over(w3), w3, 3).alias("roll_min_3"),
        guarded(F.max(p).over(w3), w3, 3).alias("roll_max_3"),
        guarded(mean7, w7, 7).alias("roll_mean_7"),
    )


@register(
    "chrono_split",
    survey="W5",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           CASE WHEN rn <= CAST(FLOOR(cnt * 0.8) AS BIGINT)
                THEN 'train' ELSE 'test' END AS split
    FROM (
        SELECT o_custkey, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey ORDER BY {_SERIES_ORDER_SQL}) AS rn,
               count(*)     OVER (PARTITION BY o_custkey) AS cnt
        FROM orders
    )
    """,
)
def chrono_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chronological 80/20 train/test split per series (reference
    `iloc[:int(n*0.8)]`, `dags/forecasting_dag.py:103-105`) — row_number
    vs per-group count, one shuffle on the series key."""
    t = load_tables(spark, sf_dir, ("orders",))
    w = _series_window()
    wall = W.partitionBy("o_custkey")
    return (
        t["orders"]
        .select("o_custkey", "o_orderkey",
                F.row_number().over(w).alias("rn"),
                F.count("*").over(wall).alias("cnt"))
        .select("o_custkey", "o_orderkey",
                F.when(F.col("rn") <= F.floor(F.col("cnt") * 0.8).cast("bigint"),
                       "train").otherwise("test").alias("split"))
    )


@register(
    "topk_orders",
    survey="W6",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K by value (reference 10-hottest-days,
    `streamlit/weather_analysis.py:232-236`). Spark plans this as
    TakeOrderedAndProject — per-partition heap + driver merge, no full
    sort even at 100 TB."""
    t = load_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "recent_events_limit",
    survey="W7",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    ORDER BY ts DESC, event_id
    LIMIT 1000
    """,
)
def recent_events_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY time DESC LIMIT 1000 (the reference's dashboard log-table
    cap, `streamlit/etl_logs.py:385-387`) — TakeOrderedAndProject again."""
    t = load_tables(spark, sf_dir, ("events",))
    return (
        t["events"]
        .orderBy(F.col("ts").desc(), F.col("event_id"))
        .select("event_id", "user_id", "event_type", "value")
        .limit(1000)
    )


@register(
    "date_parts",
    survey="W12,W13,F3",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)       AS year,
           CAST(month(o_orderdate) AS INT)      AS month,
           CAST(day(o_orderdate) AS INT)        AS day,
           CAST(quarter(o_orderdate) AS INT)    AS quarter,
           CAST(dayofyear(o_orderdate) AS INT)  AS day_of_year,
           CAST(isodow(o_orderdate) AS INT)     AS iso_dow,
           CAST(isodow(o_orderdate) >= 6 AS BOOLEAN) AS is_weekend,
           CASE WHEN month(o_orderdate) IN (12, 1, 2)  THEN 'winter'
                WHEN month(o_orderdate) IN (3, 4, 5)   THEN 'spring'
                WHEN month(o_orderdate) IN (6, 7, 8)   THEN 'summer'
                ELSE 'fall' END AS season
    FROM orders
    """,
)
def date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + season bucketing (reference notebook cell
    30 / cell 11). ISO day-of-week (Mon=1) is used on both sides —
    Spark's `dayofweek` is Sun=1, pandas is Mon=0; `weekday()+1`
    calibrates (SURVEY §7 'hard parts')."""
    t = load_tables(spark, sf_dir, ("orders",))
    d = F.col("o_orderdate")
    m = F.month(d)
    return t["orders"].select(
        "o_orderkey",
        F.year(d).alias("year"),
        m.alias("month"),
        F.dayofmonth(d).alias("day"),
        F.quarter(d).alias("quarter"),
        F.dayofyear(d).alias("day_of_year"),
        (F.weekday(d) + 1).alias("iso_dow"),
        ((F.weekday(d) + 1) >= 6).alias("is_weekend"),
        F.when(m.isin(12, 1, 2), "winter")
         .when(m.isin(3, 4, 5), "spring")
         .when(m.isin(6, 7, 8), "summer")
         .otherwise("fall").alias("season"),
    )


@register(
    "cyclical_encoding",
    survey="W11,F10",
    oracle="""
    -- each ROUND gets "+ 0.0": Spark's round() normalizes -0.0 to +0.0,
    -- DuckDB's preserves the sign bit; adding +0.0 normalizes both.
    SELECT o_orderkey,
           ROUND(sin(2 * pi() * month(o_orderdate) / 12.0), 6) + 0.0      AS month_sin,
           ROUND(cos(2 * pi() * month(o_orderdate) / 12.0), 6) + 0.0      AS month_cos,
           ROUND(sin(2 * pi() * dayofyear(o_orderdate) / 365.0), 6) + 0.0 AS doy_sin,
           ROUND(cos(2 * pi() * dayofyear(o_orderdate) / 365.0), 6) + 0.0 AS doy_cos
    FROM orders WHERE o_orderkey <= 1000
    """,
)
def cyclical_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cyclical time encodings sin/cos(2π·part/period) (reference
    notebook cell 30). Rounded to 6dp: JVM and libm trig differ in the
    last ulp."""
    t = load_tables(spark, sf_dir, ("orders",))
    d = F.col("o_orderdate")
    two_pi = 2 * math.pi
    return t["orders"].filter(F.col("o_orderkey") <= 1000).select(
        "o_orderkey",
        F.round(F.sin(F.lit(two_pi) * F.month(d) / 12.0), 6).alias("month_sin"),
        F.round(F.cos(F.lit(two_pi) * F.month(d) / 12.0), 6).alias("month_cos"),
        F.round(F.sin(F.lit(two_pi) * F.dayofyear(d) / 365.0), 6).alias("doy_sin"),
        F.round(F.cos(F.lit(two_pi) * F.dayofyear(d) / 365.0), 6).alias("doy_cos"),
    )


@register(
    "yoy_comparison",
    survey="W15,P6,A9",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT)  AS year,
           CAST(month(o_orderdate) AS INT) AS month,
           {avg_price} AS avg_price
    FROM orders
    WHERE year(o_orderdate) IN (1996, 1997, 1998)
    GROUP BY 1, 2
    """.format(avg_price=exact_avg_sql("o_totalprice")),
)
def yoy_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly comparison (reference
    `streamlit/weather_analysis.py:198-210`): year IN-list filter +
    (year, month) grouped means."""
    t = load_tables(spark, sf_dir, ("orders",))
    from covid_weather_etl_spark.functions.numeric import exact_avg
    return (
        t["orders"]
        .filter(F.year("o_orderdate").isin(1996, 1997, 1998))
        .groupBy(F.year("o_orderdate").alias("year"),
                 F.month("o_orderdate").alias("month"))
        .agg(exact_avg("o_totalprice", "avg_price"))
    )


@register(
    "running_total",
    survey="W1,A6",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) OVER
             (PARTITION BY o_custkey ORDER BY {_SERIES_ORDER_SQL}
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_spend
    FROM orders
    """,
)
def running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-series total — the incremental-cursor analog of the
    reference's running backfill progress. Decimal accumulation keeps
    the running sum bit-deterministic at any prefix length."""
    t = load_tables(spark, sf_dir, ("orders",))
    w = _series_window().rowsBetween(W.unboundedPreceding, W.currentRow)
    return t["orders"].select(
        "o_custkey", "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(25,6)")).over(w)
         .cast("double").alias("cum_spend"),
    )


@register(
    "monthly_boxplot_stats",
    survey="A16,A11,A6,W12",
    oracle="""
    SELECT CAST(month(o_orderdate) AS INT) AS m,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_totalprice) AS lo,
           ROUND(quantile_cont(o_totalprice, 0.25), 6) AS p25,
           ROUND(quantile_cont(o_totalprice, 0.50), 6) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.75), 6) AS p75,
           MAX(o_totalprice) AS hi
    FROM orders GROUP BY 1
    """,
)
def monthly_boxplot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped boxplot statistics (reference monthly `px.box` of tavg,
    `streamlit/weather_analysis.py:193-196`): exact interpolated
    quartiles per month in ONE grouped aggregate — the five-number
    summary the plot needs without shipping rows to the client. At
    100 TB swap `percentile` for `approx_percentile` (same call shape,
    mergeable sketch)."""
    t = load_tables(spark, sf_dir, ("orders",))
    p = F.col("o_totalprice")
    return (t["orders"]
            .groupBy(F.month("o_orderdate").alias("m"))
            .agg(F.count("*").alias("n"),
                 F.min(p).alias("lo"),
                 F.round(F.percentile(p, F.lit(0.25)), 6).alias("p25"),
                 F.round(F.percentile(p, F.lit(0.50)), 6).alias("p50"),
                 F.round(F.percentile(p, F.lit(0.75)), 6).alias("p75"),
                 F.max(p).alias("hi")))


@register(
    "label_encode_segment",
    survey="W14,A13,U1",
    oracle="""
    WITH vocab AS (
        SELECT c_mktsegment,
               CAST(dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS BIGINT)
                 AS segment_id
        FROM (SELECT DISTINCT c_mktsegment FROM customer)
    )
    SELECT c.c_custkey, c.c_mktsegment, v.segment_id
    FROM customer c JOIN vocab v ON c.c_mktsegment = v.c_mktsegment
    """,
)
def label_encode_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label encoding (reference `LabelEncoder` on season, forecasting
    notebook cell 12): sorted-vocabulary → dense integer ids. The
    vocabulary is collected (it is by definition small — this is what
    StringIndexer does internally) and broadcast-joined back, so the
    encode is one map-side join, no global window, no second shuffle."""
    t = load_tables(spark, sf_dir, ("customer",))
    cust = t["customer"]
    vocab = sorted(r[0] for r in
                   cust.select("c_mktsegment").distinct().collect())
    mapping = driver.local_frame(
        spark, [(s, i) for i, s in enumerate(vocab)],
        "c_mktsegment string, segment_id long")
    return (cust.join(F.broadcast(mapping), "c_mktsegment")
            .select("c_custkey", "c_mktsegment", "segment_id"))


@register(
    "skew_resilient_running_total",
    survey="W1,A6",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) OVER
             (PARTITION BY o_custkey ORDER BY {_SERIES_ORDER_SQL}
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_spend
    FROM orders
    """,
)
def skew_resilient_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as `running_total`, computed as a two-phase
    distributed prefix sum — the skew-resilient form for when one series
    key dominates (a hot user with 10M+ rows): a plain
    `Window.partitionBy(key)` funnels the whole hot series through ONE
    task, and AQE cannot split a window partition. Instead:

    1. block the series on a coarse monotone time key (`year`), so the
       in-block cumulative window partitions on (key, block) — the hot
       series splits across as many tasks as it spans blocks;
    2. aggregate per-block sums (tiny: keys × blocks rows) and take a
       cumulative sum over PRECEDING blocks on that aggregate;
    3. add the block offset back to the in-block prefix.

    Decimal accumulation makes phase-1 + phase-3 exactly equal to the
    single-window sum (decimal addition is associative), which the
    oracle — the PLAIN single-window SQL — verifies. At 100 TB, block
    granularity (year → month → day) tunes max-task size."""
    t = load_tables(spark, sf_dir, ("orders",))
    blk = F.year("o_orderdate").alias("blk")
    dec = F.col("o_totalprice").cast("decimal(25,6)")

    w_in = (W.partitionBy("o_custkey", "blk")
            .orderBy(F.col("o_orderdate"), F.col("o_orderkey"))
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    in_block = (t["orders"]
                .select("o_custkey", "o_orderkey", "o_orderdate",
                        "o_totalprice", blk)
                .withColumn("cum_in_blk", F.sum(dec).over(w_in)))

    w_off = (W.partitionBy("o_custkey").orderBy("blk")
             .rowsBetween(W.unboundedPreceding, -1))
    offsets = (t["orders"]
               .groupBy("o_custkey", blk)
               .agg(F.sum(dec).alias("blk_sum"))
               .withColumn("offset", F.sum("blk_sum").over(w_off))
               .select("o_custkey", "blk", "offset"))

    return (in_block
            .join(offsets, ["o_custkey", "blk"])
            .select(
                "o_custkey", "o_orderkey",
                (F.col("cum_in_blk")
                 + F.coalesce(F.col("offset"), F.lit(0).cast("decimal(25,6)")))
                .cast("double").alias("cum_spend")))


#: per-group top-k: how many orders to keep per customer.
GROUP_TOPK = 3


@register(
    "topk_orders_per_customer",
    survey="W6,ext-rank,A6",
    oracle=f"""
    WITH ranked AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey)
                 AS rk
        FROM orders
    )
    SELECT o_custkey, CAST(rk AS INT) AS rk, o_orderkey, o_totalprice
    FROM ranked WHERE rk <= {GROUP_TOPK}
    """,
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-K — the grouped generalization of `topk_orders`
    (SURVEY W6, which is global): each customer's 3 largest orders by
    value. The canonical rank-filter shape: row_number over
    (customer, value DESC, orderkey) then rk <= K. Ordering carries
    the key as final tie-break, so the cut is deterministic on both
    engines even under repeated prices.

    Scale: the window partitions on o_custkey — well-distributed, and
    a hot customer costs one task only its own orders (registry pin:
    zero unpartitioned windows). Catalyst runs this as a single
    shuffle + per-partition sort with the rank filter applied
    streaming (WindowGroupLimit pushes rk <= K into the sort at the
    exec level), so no group ever materializes beyond K rows more
    than transiently — the property that keeps per-group top-K
    shippable when groups are millions of rows."""
    t = load_tables(spark, sf_dir, ("orders",))
    w = (W.partitionBy("o_custkey")
         .orderBy(F.col("o_totalprice").desc(), "o_orderkey"))
    return (t["orders"]
            .select("o_custkey",
                    F.row_number().over(w).alias("rk"),
                    "o_orderkey", "o_totalprice")
            .filter(F.col("rk") <= GROUP_TOPK))


@register(
    "longest_increase_streak",
    survey="ext-window,W1,W3,A8",
    oracle="""
    WITH daily AS (
        SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,6)))
                    AS DOUBLE) AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ), flagged AS (
        SELECT n_name, d, y,
               row_number() OVER w AS rn,
               CASE WHEN y > lag(y) OVER w THEN 1 ELSE 0 END AS up
        FROM daily
        WINDOW w AS (PARTITION BY n_name ORDER BY d)
    ), islands AS (
        SELECT n_name, d, rn,
               rn - row_number() OVER (PARTITION BY n_name, up
                                       ORDER BY rn) AS grp
        FROM flagged WHERE up = 1
    ), runs AS (
        SELECT n_name, CAST(COUNT(*) AS BIGINT) AS len,
               MIN(d) AS streak_start, MAX(d) AS streak_end
        FROM islands GROUP BY n_name, grp
    ), best AS (
        SELECT n_name, len, streak_start, streak_end,
               row_number() OVER (PARTITION BY n_name
                                  ORDER BY len DESC, streak_start) AS rk
        FROM runs
    )
    SELECT n_name, len AS longest_up_days, streak_start, streak_end
    FROM best WHERE rk = 1
    """,
)
def longest_increase_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each nation's LONGEST run of consecutive
    observations with day-over-day revenue increases — the classic
    streak query (monitoring asks it as "how long has this metric been
    climbing"), and the island-identification technique
    (`rn − row_number() within the flag` is constant exactly along a
    run) that sessionization's time-gap trick cannot express, because
    the island boundary here is a VALUE comparison, not a gap.

    Three windows, all partitioned on the nation (registry pin):
    flag increases with LAG, group islands by the rn-difference
    constant, rank runs by (length DESC, start) so ties resolve to
    the earliest streak — a total order, hash-stable on both engines.
    Revenue is an exact DECIMAL sum cast to double, so the `y >
    y_prev` flag is deterministic. The fact scan collapses to the
    (nation, day) grain in one map-combinable shuffle; every window
    runs on that calendar-bounded frame."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    daily = (t["orders"]
             .join(F.broadcast(t["customer"]),
                   F.col("o_custkey") == F.col("c_custkey"))
             .join(F.broadcast(t["nation"]),
                   F.col("c_nationkey") == F.col("n_nationkey"))
             .groupBy("n_name", F.col("o_orderdate").cast("date").alias("d"))
             .agg(F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
                  .cast("double").alias("y")))
    w = W.partitionBy("n_name").orderBy("d")
    flagged = daily.select(
        "n_name", "d",
        F.row_number().over(w).alias("rn"),
        F.when(F.col("y") > F.lag("y").over(w), 1).otherwise(0).alias("up"))
    wi = W.partitionBy("n_name", "up").orderBy("rn")
    islands = (flagged.filter(F.col("up") == 1)
               .select("n_name", "d", "rn",
                       (F.col("rn") - F.row_number().over(wi)).alias("grp")))
    runs = (islands.groupBy("n_name", "grp")
            .agg(F.count("*").alias("len"),
                 F.min("d").alias("streak_start"),
                 F.max("d").alias("streak_end")))
    wb = W.partitionBy("n_name").orderBy(F.col("len").desc(), "streak_start")
    return (runs.select("n_name", "len", "streak_start", "streak_end",
                        F.row_number().over(wb).alias("rk"))
            .filter(F.col("rk") == 1)
            .select("n_name", F.col("len").alias("longest_up_days"),
                    "streak_start", "streak_end"))


# ---------------------------------------------------------------------------
# relative-standing window functions: percent_rank + cume_dist
# ---------------------------------------------------------------------------

@register(
    "price_relative_standing",
    survey="ext-windows,W6,A13,P10",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice,
           PERCENT_RANK() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice) AS pct_rank,
           CUME_DIST() OVER (PARTITION BY p_brand
                             ORDER BY p_retailprice) AS cume_dist
    FROM part
    """,
)
def price_relative_standing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative standing of every part's price within its brand —
    PERCENT_RANK (fraction of peers strictly cheaper, tie-aware) and
    CUME_DIST (fraction at-or-below). The two window functions the
    rest of the registry's ranking surface (row_number / ntile /
    rank) doesn't cover, and the pair analysts actually reach for
    when "is this price high FOR ITS BRAND?" must be answered without
    hardcoding bin edges. Both are pure rank ratios — (rank-1)/(n-1)
    and peers_at_or_below/n — so ties resolve identically on any
    engine and the doubles are exact rationals: no rounding grid is
    needed for cross-engine parity.

    Scale: one brand-keyed shuffle; |brands| partitions process
    independently with bounded per-brand cardinality. A global
    (unpartitioned) ORDER BY here would be the classic single-task
    sink — the brand partition key is what makes the window
    distribute."""
    t = load_tables(spark, sf_dir, ("part",))
    w = W.partitionBy("p_brand").orderBy("p_retailprice")
    return t["part"].select(
        "p_brand", "p_partkey", "p_retailprice",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"))
