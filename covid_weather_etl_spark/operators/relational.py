"""Relational operator library — scans, projections, filters, joins, aggregates.

Each query re-expresses one or more operators from SURVEY.md §2 (ids in
the ``survey=`` tag) over the driver's TPC-H-ish tables, replacing the
reference's Postgres-delegated SQL strings (reference
`streamlit/etl_logs.py`, `database/operations.py`) with declarative
DataFrame plans that Catalyst optimizes: dimension joins broadcast,
filters and projections push into the parquet scan, conditional
aggregates stay in whole-stage codegen.

Scale notes (100 TB design point):
- every dim join (`nation`, `region`, `customer` at small SF) uses
  `F.broadcast` or is small enough for AQE's auto-broadcast;
- fact-fact joins (`lineitem` ⋈ `orders`) shuffle on the join key once;
  at scale these tables would be bucketed on orderkey to eliminate it;
- aggregates are expressed so map-side partial aggregation applies
  (no distinct-on-top-of-join where a pre-aggregate works).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_weather_etl_spark.functions.numeric import (
    dsum, dsum_sql, exact_avg, exact_avg_sql,
)
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables


# ---------------------------------------------------------------------------
# Flagship: the reference's pipeline-status dashboard shape
# (multi-way LEFT JOIN + COUNT DISTINCT ×2 + SUM(CASE WHEN) + GROUP BY +
#  ORDER BY — reference streamlit/etl_logs.py:188-204)
# ---------------------------------------------------------------------------

@register(
    "pipeline_status",
    survey="J5,J6,A2,A3,A6,W7,P1",
    bench=True,
    oracle="""
    SELECT n_name,
           COUNT(DISTINCT c_custkey)                                  AS n_customers,
           COUNT(DISTINCT o_orderkey)                                 AS n_orders,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)  AS n_never_ordered
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def pipeline_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation pipeline rollup: the reference's 4-way LEFT JOIN +
    countDistinct + SUM(CASE WHEN) monitoring query re-expressed over
    customer⟕orders⋈nation. Nation is broadcast (25 rows); the
    customer-orders join shuffles on custkey once."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "nation"))
    return (
        t["customer"]
        .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"), "left")
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_finished"),
            F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("n_never_ordered"),
        )
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------

@register(
    "join_filtered_2way",
    survey="J1,P1,P5,P7",
    oracle="""
    SELECT o_orderkey, c_name, o_totalprice, CAST(o_orderdate AS DATE) AS order_date
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
      AND o_totalprice > 150000
    """,
)
def join_filtered_2way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner 2-way equi-join with a date-range + theta predicate
    (reference `database/operations.py:131-143`). Both filters push
    below the join into the parquet scans."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    return (
        t["orders"]
        .filter(F.col("o_orderdate").between("1996-01-01", "1996-12-31 00:00:00"))
        .filter(F.col("o_totalprice") > 150000)
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice",
                F.to_date("o_orderdate").alias("order_date"))
    )


@register(
    "join_chain_3way",
    survey="J2,A6,A9",
    oracle="""
    SELECT r_name,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           {avg_bal} AS avg_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """.format(avg_bal=exact_avg_sql("s_acctbal")),
)
def join_chain_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way dim join chain (reference identify_api_type,
    `database/operations.py:220-228`): supplier⋈nation⋈region with both
    dims broadcast; mean via exact decimal sum for oracle determinism."""
    t = load_tables(spark, sf_dir, ("supplier", "nation", "region"))
    return (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.count("*").alias("n_suppliers"),
             exact_avg("s_acctbal").alias("avg_acctbal"))
    )


@register(
    "join_chain_4way_revenue",
    survey="J3,J6,A6,F9",
    bench=True,
    oracle="""
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           {rev} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """.format(rev=dsum_sql("l_extendedprice * (1 - l_discount)")),
)
def join_chain_4way_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way join chain (reference `database/operations.py:211-218`):
    fact⋈fact⋈dim⋈dim revenue rollup. lineitem⋈orders shuffles on
    orderkey (bucket both on orderkey at scale to remove it); customer
    and nation broadcast."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders", "customer", "nation"))
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count("*").alias("n_lineitems"),
             dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("revenue"))
    )


@register(
    "left_join_made_inner",
    survey="J4",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey
    WHERE o_orderstatus = 'F'
    """,
)
def left_join_made_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT JOIN whose WHERE on the right side collapses it to inner —
    replicated faithfully from the reference's transformed-files query
    (`database/operations.py:113-120`). Catalyst's
    EliminateOuterJoin rule does the collapse for free."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    return (
        t["customer"]
        .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"), "left")
        .filter(F.col("o_orderstatus") == "F")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
    )


@register(
    "anti_join_never_ordered",
    survey="J7,D2",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: the reference's per-row existence probe before
    insert (`database/operations.py:175-206`, `etl/loader.py:36-49`)
    vectorized into one NOT EXISTS — the dedup-on-load primitive."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    return (
        t["customer"]
        .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@register(
    "semi_join_open_orders",
    survey="J7",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
)
def semi_join_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers holding at least one pending
    order — the positive arm of the loader's existence probe."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    pending = t["orders"].filter(F.col("o_orderstatus") == "P")
    return (
        t["customer"]
        .join(pending, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    )


@register(
    "dim_get_or_create",
    survey="J8,D3,A13",
    oracle="""
    WITH existing AS (
        SELECT DISTINCT c_mktsegment AS segment FROM customer WHERE c_custkey <= 50
    ),
    incoming AS (
        SELECT DISTINCT c_mktsegment AS segment FROM customer
    )
    SELECT segment,
           CASE WHEN segment IN (SELECT segment FROM existing)
                THEN 'existing' ELSE 'created' END AS status
    FROM incoming
    """,
)
def dim_get_or_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_or_create dimension maintenance (reference
    `database/operations.py:5-22`): incoming natural keys are split into
    already-present vs to-insert via a broadcast left join — the
    set-based replacement for SELECT-then-INSERT-RETURNING."""
    t = load_tables(spark, sf_dir, ("customer",))
    existing = (t["customer"].filter(F.col("c_custkey") <= 50)
                .select(F.col("c_mktsegment").alias("segment")).distinct())
    incoming = t["customer"].select(F.col("c_mktsegment").alias("segment")).distinct()
    return (
        incoming
        .join(F.broadcast(existing.withColumn("_hit", F.lit(1))), "segment", "left")
        .select("segment",
                F.when(F.col("_hit").isNotNull(), "existing")
                 .otherwise("created").alias("status"))
    )


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4)
# ---------------------------------------------------------------------------

@register(
    "error_rate_by_type",
    survey="A1,A3,A5,A6",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN value > 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(SUM(CASE WHEN value > 200 THEN 1 ELSE 0 END) AS DOUBLE) * 100.0
             / COUNT(*) AS high_rate_pct
    FROM events
    GROUP BY event_type
    """,
)
def error_rate_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-of-aggregates (reference error-rate query,
    `streamlit/etl_logs.py:328-341`): conditional counts and an exact
    int/int ratio (single deterministic double division — no rounding
    needed for parity)."""
    t = load_tables(spark, sf_dir, ("events",))
    n_high = F.sum(F.when(F.col("value") > 200, 1).otherwise(0))
    return (
        t["events"]
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"),
             n_high.alias("n_high"),
             (n_high.cast("double") * 100.0 / F.count("*")).alias("high_rate_pct"))
    )


@register(
    "avg_latency_seconds",
    survey="A4,F7",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(epoch(l_shipdate) AS BIGINT)
                    - CAST(epoch(o_orderdate) AS BIGINT)) AS DOUBLE) / COUNT(*)
             AS avg_latency_sec
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def avg_latency_seconds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG over an epoch-difference expression (reference response-time
    query `streamlit/etl_logs.py:295-308`,
    `EXTRACT(EPOCH FROM end-start)`): exact long sum / count, so the
    mean is bit-deterministic."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    lat = F.unix_timestamp("l_shipdate") - F.unix_timestamp("o_orderdate")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"),
             (F.sum(lat).cast("double") / F.count("*")).alias("avg_latency_sec"))
    )


@register(
    "orders_by_month",
    survey="A7,F5,W12",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT)  AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           CAST(COUNT(*) AS BIGINT)        AS n_orders,
           {tot} AS total_price
    FROM orders
    GROUP BY 1, 2
    """.format(tot=dsum_sql("o_totalprice")),
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY composite date-truncated key (reference backfill query
    `streamlit/etl_logs.py:505-516`, `GROUP BY c.name, DATE(...)`)."""
    t = load_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .groupBy(F.year("o_orderdate").alias("order_year"),
                 F.month("o_orderdate").alias("order_month"))
        .agg(F.count("*").alias("n_orders"),
             dsum("o_totalprice").alias("total_price"))
    )


@register(
    "date_bounds",
    survey="A8",
    oracle="""
    SELECT o_orderstatus,
           CAST(MIN(o_orderdate) AS DATE) AS first_order,
           CAST(MAX(o_orderdate) AS DATE) AS last_order
    FROM orders GROUP BY o_orderstatus
    """,
)
def date_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max date bounds per group (reference UI date-pickers,
    `streamlit/weather_analysis.py:63-64`)."""
    t = load_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(F.to_date(F.min("o_orderdate")).alias("first_order"),
             F.to_date(F.max("o_orderdate")).alias("last_order"))
    )


@register(
    "null_profile",
    survey="A12,A1",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT)                         AS n_rows,
           CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT)     AS null_quantity,
           CAST(COUNT(*) - COUNT(l_shipdate) AS BIGINT)     AS null_shipdate,
           CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT)   AS null_returnflag,
           CAST(COUNT(DISTINCT l_returnflag) AS BIGINT)     AS distinct_returnflag
    FROM lineitem
    """,
)
def null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null-count profile (reference `df.isnull().sum()`,
    `streamlit/weather_analysis.py:244-252`) in a single scan."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    def nulls(c: str) -> F.Column:
        return F.count("*") - F.count(c)
    return t["lineitem"].agg(
        F.count("*").alias("n_rows"),
        nulls("l_quantity").alias("null_quantity"),
        nulls("l_shipdate").alias("null_shipdate"),
        nulls("l_returnflag").alias("null_returnflag"),
        F.countDistinct("l_returnflag").alias("distinct_returnflag"),
    )


@register(
    "summary_stats",
    survey="A10,A11",
    oracle="""
    SELECT CAST(COUNT(l_quantity) AS BIGINT) AS n,
           {mean} AS mean_qty,
           ROUND(stddev_samp(l_quantity), 6) AS std_qty,
           MIN(l_quantity) AS min_qty,
           ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
           ROUND(quantile_cont(l_quantity, 0.50), 6) AS p50,
           ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75,
           MAX(l_quantity) AS max_qty
    FROM lineitem
    """.format(mean=exact_avg_sql("l_quantity")),
)
def summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describe()-style profile (reference
    `streamlit/weather_analysis.py:151`) with EXACT interpolated
    percentiles (pandas `np.percentile` parity — SURVEY A11 calls out
    exact over approx; at 100 TB swap to `percentile_approx`)."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    q = F.col("l_quantity")
    return t["lineitem"].agg(
        F.count(q).alias("n"),
        exact_avg(q).alias("mean_qty"),
        F.round(F.stddev_samp(q), 6).alias("std_qty"),
        F.min(q).alias("min_qty"),
        F.round(F.percentile(q, F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile(q, F.lit(0.50)), 6).alias("p50"),
        F.round(F.percentile(q, F.lit(0.75)), 6).alias("p75"),
        F.max(q).alias("max_qty"),
    )


@register(
    "value_histogram",
    survey="A15",
    oracle="""
    SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning (reference `px.histogram`,
    `streamlit/weather_analysis.py:164-168`) as groupBy(floor(x/w)) —
    one shuffle of bin ids only."""
    t = load_tables(spark, sf_dir, ("events",))
    return (
        t["events"]
        .groupBy(F.floor(F.col("value") / 25.0).alias("bin"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "correlation_matrix",
    survey="A14",
    oracle="""
    -- "+ 0.0" normalizes DuckDB's -0.0 to match Spark's round() (see windows.py)
    SELECT ROUND(corr(l_quantity, l_extendedprice), 6) + 0.0      AS qty_price,
           ROUND(corr(l_discount, l_extendedprice), 6) + 0.0      AS discount_price,
           ROUND(corr(l_quantity, l_discount), 6) + 0.0           AS qty_discount,
           ROUND(corr(l_extendedprice, l_tax), 6) + 0.0           AS price_tax
    FROM lineitem
    """,
)
def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations (reference `df.corr()`,
    `streamlit/weather_analysis.py:124-127`) in ONE aggregation pass
    over the fact table (no per-pair rescans)."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    return t["lineitem"].agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price"),
        F.round(F.corr("l_discount", "l_extendedprice"), 6).alias("discount_price"),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias("qty_discount"),
        F.round(F.corr("l_extendedprice", "l_tax"), 6).alias("price_tax"),
    )


# ---------------------------------------------------------------------------
# Filters / predicates / scalar functions (SURVEY §2.2, §2.6)
# ---------------------------------------------------------------------------

@register(
    "in_list_filter",
    survey="P6,P4,A6",
    oracle="""
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE n_name IN ('GERMANY', 'ITALY', 'MOLDOVA', 'FRANCE', 'CANADA')
      AND c_mktsegment = 'BUILDING'
    GROUP BY n_name
    """,
)
def in_list_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic IN-list + equality predicates (reference sidebar filters,
    `streamlit/etl_logs.py:104-112`) composed as `.isin` — the
    parameterized-filter replacement for SQL-string splicing."""
    t = load_tables(spark, sf_dir, ("customer", "nation"))
    return (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(F.broadcast(
            t["nation"].filter(F.col("n_name").isin(
                "GERMANY", "ITALY", "MOLDOVA", "FRANCE", "CANADA"))),
            F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "conditional_labels",
    survey="F8,P10,P12,F9",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'expedite'
                WHEN o_orderpriority = '3-MEDIUM' THEN 'normal'
                ELSE 'relaxed' END AS urgency,
           CASE WHEN o_orderstatus = 'F' THEN 'Loaded' ELSE 'Not Loaded' END AS load_status,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_int,
           o_totalprice / 1000.0 AS price_k
    FROM orders
    """,
)
def conditional_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN status labeling + casts (reference
    `streamlit/etl_logs.py:376-379,408-411`; `'Loaded'/'Not Loaded'`).
    Pure narrow transform — stays in one codegen stage, no shuffle."""
    t = load_tables(spark, sf_dir, ("orders",))
    return t["orders"].select(
        "o_orderkey",
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "expedite")
         .when(F.col("o_orderpriority") == "3-MEDIUM", "normal")
         .otherwise("relaxed").alias("urgency"),
        F.when(F.col("o_orderstatus") == "F", "Loaded")
         .otherwise("Not Loaded").alias("load_status"),
        # floor, not cast: Spark's double→int cast truncates toward zero
        # while DuckDB's rounds — floor is deterministic in both.
        F.floor("o_totalprice").alias("price_int"),
        # no ROUND here: 2-decimal money / 1000 lands exactly on .xx5
        # boundaries where Spark's HALF_UP (decimal-string based) and
        # DuckDB's binary rounding disagree; a bare IEEE division is
        # bit-deterministic in both engines.
        (F.col("o_totalprice") / 1000.0).alias("price_k"),
    )


@register(
    "scalar_string_date_fns",
    survey="F1,F2,F5,F6,F13",
    oracle="""
    SELECT o_orderkey,
           upper(o_orderpriority)                                        AS prio_upper,
           lower(o_orderstatus)                                          AS status_lower,
           n_name || '_ORDERS_' || strftime(o_orderdate, '%Y-%m-%d')     AS file_name,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE)                   AS due_date,
           CAST(date_trunc('month', o_orderdate) AS DATE)                AS order_month
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderkey <= 500
    """,
)
def scalar_string_date_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date scalar function surface: the reference's
    `<ISO>_<API>_<date>` file naming (`etl/extractor.py:48`), strftime
    formatting, +30-day windows (`dags/etl_dag.py:42`), lower()
    normalization (`database/operations.py:234`)."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    return (
        t["orders"].filter(F.col("o_orderkey") <= 500)
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "o_orderkey",
            F.upper("o_orderpriority").alias("prio_upper"),
            F.lower("o_orderstatus").alias("status_lower"),
            F.concat(F.col("n_name"), F.lit("_ORDERS_"),
                     F.date_format("o_orderdate", "yyyy-MM-dd")).alias("file_name"),
            F.to_date(F.date_add("o_orderdate", 30)).alias("due_date"),
            F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("order_month"),
        )
    )


@register(
    "json_extraction",
    survey="F11,S3",
    oracle="""
    SELECT CAST(regexp_extract(props, '"k": (-?\\d+)', 1) AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n,
           {vsum} AS value_sum
    FROM events
    GROUP BY 1
    """.format(vsum=dsum_sql("value")),
)
def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON field access (reference staging-file
    envelope handling, `etl/transformer.py:30-31`): `get_json_object`
    on the `props` JSON column, then aggregate by the extracted key."""
    t = load_tables(spark, sf_dir, ("events",))
    return (
        t["events"]
        .select(F.get_json_object("props", "$.k").cast("bigint").alias("k"),
                "value")
        .groupBy("k")
        .agg(F.count("*").alias("n"), dsum("value").alias("value_sum"))
    )


_TREND_SQL = """
    SELECT CAST(e.ts AS DATE) AS day,
           COUNT(DISTINCT e.user_id) AS n_users,
           COUNT(DISTINCT c.c_mktsegment) AS n_segments,
           CAST(SUM(CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors,
           COUNT(*) AS n_events
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY CAST(e.ts AS DATE)
    ORDER BY day DESC
    LIMIT 30
"""


@register(
    "daily_activity_trend",
    survey="J6,A2,A3,A7,W7,F5",
    oracle=_TREND_SQL,
)
def daily_activity_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dashboard's time-trend shape (reference
    `streamlit/etl_logs.py:240-254`: LEFT JOIN + 2×COUNT DISTINCT +
    SUM(CASE WHEN) + date-trunc GROUP BY + ORDER/LIMIT), run through
    the ENGINE'S SQL API path — `spark.sql` over registered views with
    the very string the oracle runs — demonstrating that the reference's
    13 dashboard SQL strings port verbatim (SURVEY.md §3.2). Catalyst
    expands the multi-distinct aggregate with one `expand` + two-stage
    agg; the customer dim broadcasts. Only the two views the SQL reads
    are registered."""
    from covid_weather_etl_spark.sources.catalog import register_views
    register_views(spark, sf_dir, ("events", "customer"))
    return spark.sql(_TREND_SQL)


_MONTH_NAMES = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
                "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


@register(
    "epoch_scalar_fns",
    survey="F4,F12,F14,U1",
    oracle=f"""
    SELECT event_id,
           CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_epoch,
           CASE CAST(month(ts) AS INT)
                {' '.join(f"WHEN {i + 1} THEN '{m}'"
                          for i, m in enumerate(_MONTH_NAMES))}
           END AS month_name,
           CAST(value > 50 AS INT) AS is_high
    FROM events
    """,
)
def epoch_scalar_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch conversion, dict-style month naming, boolean→int — the
    reference's `convert_timestamp` (`streamlit/etl_logs.py:44-47`),
    month_name map (`streamlit/weather_analysis.py:175-177`) and
    `(prcp > 0).astype(int)` label (`dags/classification_dag.py:69`)
    as pure column expressions (U1: no UDF needed). The month map is an
    explicit literal map, locale-independent unlike date_format MMM."""
    t = load_tables(spark, sf_dir, ("events",))
    month_map = F.create_map(
        *[x for i, m in enumerate(_MONTH_NAMES)
          for x in (F.lit(i + 1), F.lit(m))])
    return t["events"].select(
        "event_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        F.element_at(month_map, F.month("ts")).alias("month_name"),
        (F.col("value") > 50).cast("int").alias("is_high"),
    )


@register(
    "etl_kpi_cards",
    survey="A1,A2,A3,A5,P5,J1,F9",
    oracle="""
    SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS total_orders,
           CAST(COUNT(*) AS BIGINT)                   AS total_lineitems,
           ROUND(100.0 * SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
                 / COUNT(*), 1)                       AS pct_no_return,
           ROUND(100.0 * SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                 / COUNT(*), 1)                       AS pct_finished
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                          AND TIMESTAMP '1996-12-31'
    """,
)
def etl_kpi_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dashboard's four scalar KPI cards (reference
    `streamlit/etl_logs.py:125-180`: total files, total API calls,
    transform/load success rates) — four separate Postgres round-trips
    there, ONE aggregate pass here: the BETWEEN filter pushes into the
    orders scan, the join shuffles once, and all four metrics (a
    distinct count, a plain count, two SUM(CASE WHEN) ratio-of-aggregate
    percentages) come out of a single global agg. At 100 TB this is the
    difference between four full scans and one."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    return (
        t["lineitem"]
        .join(t["orders"].filter(
            F.col("o_orderdate").between("1996-01-01", "1996-12-31 00:00:00")),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(
            F.countDistinct("o_orderkey").alias("total_orders"),
            F.count("*").alias("total_lineitems"),
            F.round(100.0 * F.sum(F.when(F.col("l_returnflag") == "N", 1)
                                  .otherwise(0)) / F.count("*"), 1)
             .alias("pct_no_return"),
            F.round(100.0 * F.sum(F.when(F.col("o_orderstatus") == "F", 1)
                                  .otherwise(0)) / F.count("*"), 1)
             .alias("pct_finished"),
        )
    )


@register(
    "rollup_revenue",
    survey="ext-rollup,A3,A6,A7",
    oracle=f"""
    SELECT n_name, o_orderpriority,
           CAST(GROUPING(n_name, o_orderpriority) AS BIGINT) AS lvl,
           {dsum_sql('o_totalprice')} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY ROLLUP(n_name, o_orderpriority)
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy aggregation the reference lacks (SURVEY.md §2.4: "No
    grouping sets / cube / rollup") but every monitoring dashboard
    needs at scale: nation → priority → grand-total revenue in ONE
    shuffled aggregate instead of three separate GROUP BY passes
    (the reference's dashboard issues one Postgres query per rollup
    level, `streamlit/etl_logs.py:125-204`). `grouping_id()` tags each
    level; Spark plans ROLLUP as a single Expand + hash aggregate, so
    the fact table is scanned once. Dims broadcast."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    joined = (
        t["orders"]
        .join(F.broadcast(t["customer"]),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]),
              F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.rollup("n_name", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("lvl"),
            dsum("o_totalprice").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .select("n_name", "o_orderpriority", "lvl", "revenue", "n_orders")
    )


@register(
    "pivot_status_revenue",
    survey="ext-pivot,A3,A7",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           {dsum_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS rev_f,
           {dsum_sql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS rev_o,
           {dsum_sql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS rev_p
    FROM orders
    GROUP BY year(o_orderdate)
    """,
)
def pivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-format pivot (long→wide reshape): revenue per year broken
    out by order status as columns. The reference reshapes in pandas
    driver-side (`streamlit/weather_analysis.py:198-210` year-over-year
    lines); here `groupBy(year).pivot(status, [explicit values])` stays
    distributed — the explicit value list keeps the plan a single
    hash aggregate (no extra distinct-values job) and map-side partial
    aggregation applies. Exact decimal accumulation keeps the hash
    comparison with the oracle's SUM(CASE WHEN) formulation bit-exact."""
    t = load_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(dsum("o_totalprice"))
        .withColumnRenamed("F", "rev_f")
        .withColumnRenamed("O", "rev_o")
        .withColumnRenamed("P", "rev_p")
    )


@register(
    "cube_revenue",
    survey="ext-cube,A3,A6,A7",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS lvl,
           {dsum_sql('o_totalprice')} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE completes the grouping-sets family next to rollup_revenue:
    all 2^k margin combinations (status×priority, status, priority,
    grand total) in ONE Expand + hash aggregate over a single fact
    scan — vs 4 separate GROUP BY passes driver-side in the reference's
    dashboard pattern. Expand multiplies rows 4× before the partial
    aggregate, but map-side combine collapses them to (tiny key-space)
    groups before the one shuffle, so the network cost stays the
    aggregate size, not 4× the scan."""
    t = load_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("lvl"),
            dsum("o_totalprice").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .select("o_orderstatus", "o_orderpriority", "lvl", "revenue", "n_orders")
    )


Q5_REGION = "ASIA"
Q5_YEAR = ("1996-01-01", "1997-01-01")


@register(
    "local_supplier_revenue",
    survey="J3,J6,A6,P5",
    oracle=f"""
    SELECT n.n_name,
           {dsum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = '{Q5_REGION}'
      AND o.o_orderdate >= TIMESTAMP '{Q5_YEAR[0]}'
      AND o.o_orderdate <  TIMESTAMP '{Q5_YEAR[1]}'
    GROUP BY 1
    """,
)
def local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped six-table join: revenue from {Q5_REGION}
    customers served by suppliers in the customer's OWN nation during
    one order-year — the canonical join-order stress query, because
    the supplier⋈lineitem arm is only restricted through the
    customer-side nation equality (a cross-table correlation the
    optimizer must route, not a local filter). The deepest join chain
    in the registry: two facts + four dims.

    Plan shape: lineitem⋈orders shuffles on the order key once (or
    zero with the bucketed layout); customer/supplier/nation/region
    broadcast; the date predicate pushes into the orders scan and the
    region filter prunes nation keys before anything big moves.
    Revenue accumulates in exact DECIMAL (2-decimal money algebra), so
    the rollup is bit-identical to the oracle at any partitioning."""
    t = load_tables(spark, sf_dir,
                    ("customer", "orders", "lineitem", "supplier",
                     "nation", "region"))
    return (t["lineitem"]
            .join(t["orders"].filter(
                (F.col("o_orderdate") >= Q5_YEAR[0])
                & (F.col("o_orderdate") < Q5_YEAR[1])),
                F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(t["customer"]),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(t["supplier"]),
                  (F.col("l_suppkey") == F.col("s_suppkey"))
                  & (F.col("c_nationkey") == F.col("s_nationkey")))
            .join(F.broadcast(t["nation"]),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(t["region"]),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .filter(F.col("r_name") == Q5_REGION)
            .groupBy("n_name")
            .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                 .alias("revenue")))


@register(
    "grouping_sets_margins",
    survey="ext-rollup,A3,A6,A7",
    oracle=f"""
    SELECT n_name, o_orderpriority,
           CAST(GROUPING(n_name, o_orderpriority) AS BIGINT) AS lvl,
           {dsum_sql('o_totalprice')} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())
    """,
)
def grouping_sets_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the family member ROLLUP and CUBE can't
    express: the two independent one-dimensional margins (by nation, by
    priority) plus the grand total, WITHOUT the combined
    nation×priority cell. Completes §2.4's grouping-sets gap
    (rollup_revenue, cube_revenue are the other two shapes). One Expand
    (3×) + hash aggregate over a single fact scan with map-side
    combine; both dims broadcast — same single-shuffle plan as rollup,
    one fewer grouping set than cube."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    joined = (
        t["orders"]
        .join(F.broadcast(t["customer"]),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]),
              F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupingSets([["n_name"], ["o_orderpriority"], []],
                            "n_name", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("lvl"),
            dsum("o_totalprice").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .select("n_name", "o_orderpriority", "lvl", "revenue", "n_orders")
    )


@register(
    "unpivot_flag_metrics",
    survey="ext-pivot,A4,A6",
    oracle=f"""
    WITH g AS (
        SELECT l_returnflag,
               ROUND({exact_avg_sql('l_quantity')}, 6) AS avg_qty,
               ROUND({exact_avg_sql('l_discount')}, 6) AS avg_disc,
               ROUND({exact_avg_sql('l_extendedprice')}, 6) AS avg_price
        FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, 'avg_qty' AS metric, avg_qty AS value FROM g
    UNION ALL
    SELECT l_returnflag, 'avg_disc', avg_disc FROM g
    UNION ALL
    SELECT l_returnflag, 'avg_price', avg_price FROM g
    """,
)
def unpivot_flag_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (melt), the inverse of pivot_status_revenue:
    aggregate three per-returnflag metrics into wide columns, then
    `unpivot` them into tidy (flag, metric, value) triples — the shape
    chart libraries and metric stores ingest. Spark plans unpivot as an
    Expand over the (tiny) aggregate, so the reshape costs nothing
    after the one map-combinable shuffle; the oracle mirrors it as
    UNION ALL, the portable-SQL equivalent. Averages go through exact
    decimal sum / count (functions.numeric) so both engines emit
    bit-identical doubles."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    g = (t["lineitem"].groupBy("l_returnflag")
         .agg(F.round(exact_avg("l_quantity"), 6).alias("avg_qty"),
              F.round(exact_avg("l_discount"), 6).alias("avg_disc"),
              F.round(exact_avg("l_extendedprice"), 6).alias("avg_price")))
    return g.unpivot(
        ids=["l_returnflag"],
        values=["avg_qty", "avg_disc", "avg_price"],
        variableColumnName="metric",
        valueColumnName="value",
    )


Q1_SHIP_CUTOFF = "1998-09-02"  # TPC-H Q1's DATE '1998-12-01' - 90 days


@register(
    "pricing_summary_q1",
    survey="A3,A4,A6,P5,F9",
    bench=True,
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           {dsum_sql('l_extendedprice')} AS sum_base_price,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}
               AS sum_charge,
           ROUND({exact_avg_sql('l_quantity')}, 6) AS avg_qty,
           ROUND({exact_avg_sql('l_extendedprice')}, 6) AS avg_price,
           ROUND({exact_avg_sql('l_discount')}, 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '{Q1_SHIP_CUTOFF}'
    GROUP BY 1, 2
    """,
)
def pricing_summary_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary — THE canonical scan-heavy aggregate
    (one fact pass, tiny key space, several derived measures): shipped
    lineitems up to the 90-day cutoff, grouped by (returnflag,
    linestatus) with quantity/price/discounted/charged sums, averages
    and counts. All money sums run through exact DECIMAL accumulation
    and averages through exact-sum/count (functions.numeric), so the
    hash compare is bit-exact despite six floating measures.

    Plan shape: the WHERE reaches the parquet scan as a pushed filter,
    the aggregate is one map-combinable shuffle over a ≤6-row key
    space — partial aggregation does essentially all the work
    map-side, and the shuffle carries six decimal partials per
    (flag, status) per task. The query every engine quotes first for
    scan throughput, which is why it's in the bench headline set."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t["lineitem"]
        .filter(F.col("l_shipdate") <= F.lit(Q1_SHIP_CUTOFF).cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity").alias("sum_qty"),
             dsum("l_extendedprice").alias("sum_base_price"),
             dsum(disc).alias("sum_disc_price"),
             dsum(disc * (1 + F.col("l_tax"))).alias("sum_charge"),
             F.round(exact_avg("l_quantity"), 6).alias("avg_qty"),
             F.round(exact_avg("l_extendedprice"), 6).alias("avg_price"),
             F.round(exact_avg("l_discount"), 6).alias("avg_disc"),
             F.count("*").alias("count_order"))
    )


#: Q10 shape: the reporting quarter and report size.
Q10_QUARTER = ("1996-01-01", "1996-04-01")
Q10_TOP = 20


@register(
    "returned_item_customers",
    survey="J2,J6,A6,W6,P5,P7",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal,
           {dsum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '{Q10_QUARTER[0]}'
      AND o.o_orderdate <  TIMESTAMP '{Q10_QUARTER[1]}'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 3, 4
    ORDER BY revenue DESC, c.c_custkey
    LIMIT {Q10_TOP}
    """,
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item report: the 20 customers who
    generated the most revenue in returned items ('R' flag) for one
    order quarter — the classic customer-care triage query, and the
    registry's representative of the filter→join→aggregate→top-K
    reporting shape over BOTH fact tables at once.

    Plan shape: the returnflag filter and the quarter predicate push
    into the lineitem and orders scans respectively (each kills ~2/3
    of its fact before any join); lineitem⋈orders shuffles on the
    order key (or goes zero-shuffle on the bucketed layout);
    customer and nation broadcast. Revenue accumulates in exact
    DECIMAL money algebra, so (revenue DESC, custkey) is a total
    order on both engines and the LIMIT compiles to
    TakeOrderedAndProject — never a global sort."""
    t = load_tables(spark, sf_dir,
                    ("customer", "orders", "lineitem", "nation"))
    return (t["lineitem"].filter(F.col("l_returnflag") == "R")
            .join(t["orders"].filter(
                (F.col("o_orderdate") >= Q10_QUARTER[0])
                & (F.col("o_orderdate") < Q10_QUARTER[1])),
                F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(t["customer"]),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(t["nation"]),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
            .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), "c_custkey")
            .limit(Q10_TOP))
