"""Classic decision-support report shapes (TPC-H Q13/Q17/Q18/Q21/Q22
analogs) plus inequality/concentration metrics (Gini, HHI).

The reference's dashboard SQL (`streamlit/etl_logs.py`,
`streamlit/weather_analysis.py`) stops at joins + group-bys; the
decision-support canon adds the shapes every warehouse migration is
benchmarked on — outer-join distributions, correlated-threshold
filters, HAVING-gated large groups, multi-existential supplier audits
and anti-joined prospect lists. Each is expressed as the SET-AT-A-TIME
plan Catalyst would decorrelate to anyway, never as per-row subquery
re-execution:

- Q13: the correlated COUNT becomes ONE left outer join + two
  aggregates (the second over |customers| rows, the third over
  |distinct counts| rows).
- Q17: the correlated per-part average becomes a part-keyed aggregate
  broadcast back onto the same scan.
- Q21: the EXISTS / NOT EXISTS pair over the same fact becomes one
  per-(order, supplier) aggregate + a per-order top-2 summary —
  the fact is scanned once, not thrice.

Exactness: every money/quantity sum goes through DECIMAL
(functions.numeric.dsum); thresholds are computed as exact-sum /
count so the comparison predicate cannot flip on accumulation order;
the only floats that cross an aggregation boundary are fround-rounded
onto a 1e-6/1e-9 grid first (repo convention, see calibration ECE).

Scale (100 TB): each query is 1-3 key-hashed shuffles of narrow
projections plus broadcast edges of group-count-sized frames. Nothing
correlates per row; nothing windows without a partition key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from covid_weather_etl_spark.functions.numeric import (
    DEC, decimal_sum, decimal_sum_sql, dsum, dsum_sql, fround, fround_sql,
)
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables

#: Q13 analog — priority class excluded from the per-customer count.
Q13_EXCLUDED_PRIORITY = "1-URGENT"

#: Q17 analog — brand under small-quantity revenue audit, and the
#: fraction of the part's mean quantity that defines "small".
Q17_BRAND = "Brand#23"
Q17_FRACTION = 0.5

#: Q18 analog — an order is "large volume" above this total quantity.
Q18_MIN_QTY = 250

#: Q22 analog — prospects must beat the mean POSITIVE balance.
#: (c_name is 'Customer#NNNNNNNNN'; its last two digits stand in for
#: the phone country code the reference schema doesn't carry.)


@register(
    "order_count_distribution",
    survey="ext-dss,J4,A1,A6",
    oracle=f"""
    WITH c_orders AS (
        SELECT c.c_custkey,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '{Q13_EXCLUDED_PRIORITY}'
        GROUP BY c.c_custkey
    )
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of customers by how many
    non-urgent orders they placed — INCLUDING the zero-order
    customers, which is the whole point of the outer join (an inner
    join silently drops the most interesting bucket). The non-join
    predicate lives in the JOIN condition, not a WHERE clause (a WHERE
    would turn the outer join back into an inner one — the classic
    Q13 trap). Plan: one left outer join on the customer key, a
    per-customer count (map-combinable), then a second aggregate over
    the tiny (count → frequency) frame. At 100 TB the orders side is
    pre-filtered by the pushed priority predicate before the shuffle."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    o = t["orders"].filter(
        F.col("o_orderpriority") != Q13_EXCLUDED_PRIORITY)
    per_cust = (t["customer"].select("c_custkey")
                .join(o.select("o_custkey", "o_orderkey"),
                      F.col("c_custkey") == F.col("o_custkey"), "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").alias("custdist")))


@register(
    "small_quantity_revenue",
    survey="ext-dss,J1,A9,P7",
    oracle=f"""
    WITH brand_lines AS (
        SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = '{Q17_BRAND}'
    ), thr AS (
        SELECT l_partkey,
               {Q17_FRACTION} * ({dsum_sql("l_quantity")} / COUNT(*))
                   AS qty_cut
        FROM brand_lines GROUP BY l_partkey
    )
    SELECT {dsum_sql("b.l_extendedprice")} / 7.0 AS avg_yearly
    FROM brand_lines b
    JOIN thr ON b.l_partkey = thr.l_partkey
    WHERE b.l_quantity < qty_cut
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue that would be lost by discontinuing
    small-quantity orders of one brand — lines whose quantity is below
    half of their part's mean quantity. The correlated scalar subquery
    of the textbook SQL becomes a part-keyed aggregate joined back
    onto the same (brand-filtered) line set: the inner average only
    matters for partkeys that survive the brand filter, so filtering
    FIRST and aggregating the survivors is semantics-preserving and
    scans the fact once instead of twice. The threshold is an exact
    decimal-sum / count (one deterministic division ×0.5), so the
    `<` predicate cannot flip between engines; the final revenue sum
    is decimal too. Plan: brand dim broadcast → narrow part-keyed
    aggregate (≈|brand parts| rows) broadcast back → one-row result."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    brand_parts = (t["part"]
                   .filter(F.col("p_brand") == Q17_BRAND)
                   .select("p_partkey"))
    lines = (t["lineitem"]
             .select("l_partkey", "l_quantity", "l_extendedprice")
             .join(F.broadcast(brand_parts),
                   F.col("l_partkey") == F.col("p_partkey"))
             .drop("p_partkey"))
    thr = (lines.groupBy("l_partkey")
           .agg((F.lit(Q17_FRACTION)
                 * (dsum("l_quantity") / F.count("*"))).alias("qty_cut"))
           .withColumnRenamed("l_partkey", "t_partkey"))
    return (lines
            .join(F.broadcast(thr), F.col("l_partkey") == F.col("t_partkey"))
            .filter(F.col("l_quantity") < F.col("qty_cut"))
            .agg((dsum("l_extendedprice") / 7.0).alias("avg_yearly")))


@register(
    "large_volume_customers",
    survey="ext-dss,J2,A6,P7",
    oracle=f"""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice,
           {dsum_sql("l.l_quantity")} AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2, 3, 4, 5
    HAVING {decimal_sum_sql("l.l_quantity")} > {Q18_MIN_QTY}
    """,
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold, with their customer. The textbook IN-subquery form is
    algebraically a grouped HAVING — Spark plans it as one
    map-combinable aggregate on the order key (partial sums collapse
    lineitem before the shuffle), then the surviving handful of hot
    orders joins to customer. The HAVING compares an exact DECIMAL sum
    against an integer literal, so threshold membership is
    order-independent. At 100 TB the aggregate output is tiny (only
    pathological orders pass), making the customer join broadcastable
    from the AGGREGATE side — AQE picks that up at runtime."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    hot = (t["lineitem"]
           .groupBy("l_orderkey")
           .agg(decimal_sum("l_quantity").alias("qty_dec"))
           .filter(F.col("qty_dec") > Q18_MIN_QTY)
           .select("l_orderkey", F.col("qty_dec").cast("double")
                   .alias("total_qty")))
    return (t["orders"]
            .join(hot, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
            .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                    "o_totalprice", "total_qty"))


#: Q21 oracle — same three-stage algebra in SQL (the window that
#: attaches each order's top supplier-max runs in a subquery, then the
#: per-order summary aggregates over it).
_LATE_SOLE_ORACLE = """
WITH sup_max AS (
    SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS supmax
    FROM lineitem GROUP BY 1, 2
), with_top AS (
    SELECT *, MAX(supmax) OVER (PARTITION BY l_orderkey) AS top1
    FROM sup_max
), per_order AS (
    SELECT l_orderkey, top1,
           CAST(COUNT(*) AS BIGINT) AS n_sup,
           CAST(SUM(CASE WHEN supmax = top1 THEN 1 ELSE 0 END)
                AS BIGINT) AS top1_cnt,
           MAX(CASE WHEN supmax < top1 THEN supmax END) AS top2
    FROM with_top GROUP BY 1, 2
)
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM lineitem l
JOIN per_order po ON po.l_orderkey = l.l_orderkey
JOIN sup_max  sm ON sm.l_orderkey = l.l_orderkey
                AND sm.l_suppkey = l.l_suppkey
JOIN orders o    ON o.o_orderkey = l.l_orderkey
                AND o.o_orderstatus = 'F'
JOIN supplier s  ON s.s_suppkey = l.l_suppkey
WHERE po.n_sup >= 2
  AND l.l_shipdate > (CASE WHEN sm.supmax < po.top1 OR po.top1_cnt > 1
                           THEN po.top1 ELSE po.top2 END)
GROUP BY s.s_name
"""


@register(
    "late_sole_supplier",
    survey="ext-dss,J7,A6,W6",
    oracle=_LATE_SOLE_ORACLE,
)
def late_sole_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted to this schema's columns): for
    finalized orders with at least two suppliers, count per supplier
    the lines that shipped strictly AFTER every other supplier's lines
    — the 'who alone held the order up' audit. The textbook EXISTS +
    NOT-EXISTS pair over the same fact is re-expressed scan-once:

    1. per-(order, supplier) max shipdate (map-combinable aggregate);
    2. per-order top-2 of those supplier maxima + supplier count
       (aggregate over the already-collapsed frame);
    3. each line compares against the max of the OTHER suppliers'
       maxima: the order's top1 if this supplier doesn't hold it
       (or shares it), else the top2.

    No correlated re-execution, no self-join of the raw fact: the
    fact is read once, everything downstream is supplier-count-sized
    per order."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders", "supplier"))
    sup_max = (t["lineitem"]
               .groupBy("l_orderkey", "l_suppkey")
               .agg(F.max("l_shipdate").alias("supmax")))
    per_order = (sup_max
                 .withColumn("top1", F.max("supmax")
                             .over(W.partitionBy("l_orderkey")))
                 .groupBy("l_orderkey", "top1")
                 .agg(F.count("*").alias("n_sup"),
                      F.sum(F.when(F.col("supmax") == F.col("top1"), 1)
                            .otherwise(0)).alias("top1_cnt"),
                      F.max(F.when(F.col("supmax") < F.col("top1"),
                                   F.col("supmax"))).alias("top2")))
    qualifying = (t["lineitem"]
                  .select("l_orderkey", "l_suppkey", "l_shipdate")
                  .join(per_order, "l_orderkey")
                  .join(sup_max, ["l_orderkey", "l_suppkey"])
                  .withColumn(
                      "other_max",
                      F.when((F.col("supmax") < F.col("top1"))
                             | (F.col("top1_cnt") > 1), F.col("top1"))
                       .otherwise(F.col("top2")))
                  .filter((F.col("n_sup") >= 2)
                          & (F.col("l_shipdate") > F.col("other_max"))))
    final_orders = t["orders"].filter(F.col("o_orderstatus") == "F") \
                              .select("o_orderkey")
    return (qualifying
            .join(final_orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(t["supplier"]),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.count("*").alias("numwait")))


@register(
    "prospect_balance_report",
    survey="ext-dss,J7,A6,F1",
    oracle=f"""
    WITH pos_avg AS (
        SELECT {dsum_sql("c_acctbal")} / COUNT(*) AS cut
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT right(c.c_name, 2) AS code,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           {dsum_sql("c.c_acctbal")} AS totacctbal
    FROM customer c CROSS JOIN pos_avg
    WHERE c.c_acctbal > pos_avg.cut
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey)
    GROUP BY 1
    """,
)
def prospect_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive account
    balance who have NEVER ordered — the dormant-capital prospect
    list, grouped by an identifier code (the last two digits of the
    customer name; this schema has no phone column). Three relational
    idioms in one plan: a scalar aggregate broadcast as the threshold
    (exact decimal mean, deterministic predicate), a left ANTI join
    against the fact for NOT EXISTS, and the final rollup. At 100 TB
    the anti join is the only shuffle; the threshold is a 1-row
    broadcast and the rollup output is ≤100 rows."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    cust = t["customer"]
    cut = (cust.filter(F.col("c_acctbal") > 0.0)
           .agg((dsum("c_acctbal") / F.count("*")).alias("cut")))
    rich = (cust.crossJoin(F.broadcast(cut))
            .filter(F.col("c_acctbal") > F.col("cut")))
    never_ordered = rich.join(
        t["orders"].select("o_custkey"),
        F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    return (never_ordered
            .groupBy(F.expr("right(c_name, 2)").alias("code"))
            .agg(F.count("*").alias("numcust"),
                 dsum("c_acctbal").alias("totacctbal")))


@register(
    "gini_revenue_by_nation",
    survey="ext-dss,A6,W1,F9",
    oracle=f"""
    WITH rev AS (
        SELECT n.n_name, c.c_custkey,
               {decimal_sum_sql("o.o_totalprice")} AS r
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ), ranked AS (
        SELECT n_name, r,
               CAST(row_number() OVER (PARTITION BY n_name
                                       ORDER BY r, c_custkey)
                    AS BIGINT) AS i
        FROM rev
    )
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(r) AS DOUBLE)   AS total_rev,
           {fround_sql("(2.0 * CAST(SUM(i * r) AS DOUBLE)"
                       " - (COUNT(*) + 1) * CAST(SUM(r) AS DOUBLE))"
                       " / (COUNT(*) * CAST(SUM(r) AS DOUBLE))")} AS gini
    FROM ranked GROUP BY n_name
    """,
)
def gini_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Gini coefficient per nation over customer
    lifetime order value — the inequality metric behind 'do 20% of
    customers carry 80% of revenue'. Uses the exact rank identity
    G = (2·Σi·x_(i) − (n+1)·Σx) / (n·Σx) on revenues sorted ascending
    (custkey tie-break makes ranks total). Both Σx and Σi·x accumulate
    in DECIMAL (rank × 2-decimal money stays exact), so the single
    final division is the only float op, fround-rounded to the 1e-6
    grid on both engines. The rank window partitions by nation — no
    global sort; per-nation state only. At 100 TB the per-customer
    pre-aggregate collapses the fact first, so the window input is
    |customers| rows, not |orders|."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    rev = (t["orders"]
           .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
           .join(F.broadcast(t["nation"]),
                 F.col("c_nationkey") == F.col("n_nationkey"))
           .groupBy("n_name", "c_custkey")
           .agg(decimal_sum("o_totalprice").alias("r")))
    w = W.partitionBy("n_name").orderBy("r", "c_custkey")
    ranked = rev.withColumn("i", F.row_number().over(w).cast("long"))
    n = F.count("*")
    s = F.sum("r").cast("double")
    si = F.sum(F.col("i") * F.col("r")).cast("double")
    return (ranked.groupBy("n_name")
            .agg(n.alias("n_customers"),
                 s.alias("total_rev"),
                 fround((2.0 * si - (n + 1) * s) / (n * s)).alias("gini")))


@register(
    "hhi_supplier_concentration",
    survey="ext-dss,A6,J2,F9",
    oracle=f"""
    WITH rev AS (
        SELECT n.n_name, l.l_suppkey,
               {dsum_sql("l.l_extendedprice")} AS r
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ), tot AS (
        SELECT n_name, {dsum_sql("r")} AS t,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers
        FROM rev GROUP BY 1
    ), terms AS (
        SELECT rev.n_name, tot.n_suppliers,
               ROUND(POWER(rev.r / tot.t, 2) * 10000.0, 9) AS term9
        FROM rev JOIN tot ON rev.n_name = tot.n_name
    )
    SELECT n_name, n_suppliers,
           {fround_sql(dsum_sql("term9", "decimal(20,9)"))} AS hhi
    FROM terms GROUP BY n_name, n_suppliers
    """,
)
def hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market-concentration index per nation over
    supplier revenue shares (0–10000 scale; >2500 = 'highly
    concentrated' in the DOJ's reading). Per-supplier and per-nation
    revenues are exact decimal sums; each share² term is a scalar
    double op rounded onto the 1e-9 grid and re-entered into DECIMAL,
    so the cross-supplier summation is order-free (the ECE pattern).
    Plan: one fact aggregate to |nation × supplier| rows; everything
    after is supplier-count-sized. The squared-share algebra never
    touches the fact again."""
    t = load_tables(spark, sf_dir, ("lineitem", "supplier", "nation"))
    rev = (t["lineitem"]
           .join(F.broadcast(t["supplier"]),
                 F.col("l_suppkey") == F.col("s_suppkey"))
           .join(F.broadcast(t["nation"]),
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .groupBy("n_name", "l_suppkey")
           .agg(dsum("l_extendedprice").alias("r")))
    tot = (rev.groupBy(F.col("n_name").alias("t_name"))
           .agg(dsum("r").alias("t"), F.count("*").alias("n_suppliers")))
    terms = (rev.join(F.broadcast(tot), F.col("n_name") == F.col("t_name"))
             .select("n_name", "n_suppliers",
                     F.round(F.pow(F.col("r") / F.col("t"), 2)
                             * 10000.0, 9).alias("term9")))
    return (terms.groupBy("n_name", "n_suppliers")
            .agg(fround(dsum("term9", "decimal(20,9)")).alias("hhi")))


# ---------------------------------------------------------------------------
# ABC / Pareto inventory classification — the cumulative-share cut
# ---------------------------------------------------------------------------

#: cumulative revenue-share boundaries: A <= 80%, B <= 95%, C = rest.
ABC_A_CUT, ABC_B_CUT = 80, 95


@register(
    "abc_pareto_classification",
    survey="ext-ds,A5,A6,W1,F8",
    oracle=f"""
    WITH rev AS (
        SELECT l_partkey AS pk,
               {decimal_sum_sql("l_extendedprice * (1 - l_discount)")} AS r
        FROM lineitem GROUP BY 1
    ), tot AS (
        SELECT SUM(r) AS t FROM rev
    ), cum AS (
        SELECT pk, r,
               SUM(r) OVER (ORDER BY r DESC, pk
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS c
        FROM rev
    ), cls AS (
        SELECT pk, r, c,
               CASE WHEN c * 100 <= t * {ABC_A_CUT} THEN 'A'
                    WHEN c * 100 <= t * {ABC_B_CUT} THEN 'B'
                    ELSE 'C' END AS abc_class,
               t
        FROM cum CROSS JOIN tot
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(r) AS DOUBLE) AS class_revenue,
           {fround_sql("CAST(SUM(r) AS DOUBLE) / CAST(MAX(t) AS DOUBLE)")}
               AS revenue_share,
           {fround_sql("CAST(MAX(c) AS DOUBLE) / CAST(MAX(t) AS DOUBLE)")}
               AS max_cum_share
    FROM cls GROUP BY abc_class
    """,
)
def abc_pareto_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification — rank parts by revenue,
    take the cumulative share down the ranking, and cut classes at
    {ABC_A_CUT}%/{ABC_B_CUT}%: class A is the vital few that earn 80%
    of revenue, C the long tail. The inventory-policy staple
    (cycle-count frequency, stocking rules) and, in a training-data
    pipeline, the same shape that allocates sampling budget to the
    sources that carry most of the signal mass.

    The cumulative sum is computed WITHOUT a global window (registry
    pin): parts are log-banded by revenue (band = floor(ln r · 8) —
    bounded band count at ANY scale, monotone in r, so band order is
    rank order), the in-band prefix runs under a window PARTITIONED
    by band, and each band's offset is the broadcast triangular sum
    of strictly-higher bands — the skew_resilient_running_total
    two-phase technique pointed down a ranking instead of a time
    axis. DECIMAL accumulation makes phase-split sums exactly equal
    to the oracle's single-window cumsum (decimal addition is
    associative), and the class predicate compares decimals scaled by
    integers (c·100 ≤ t·{ABC_A_CUT}) — no float ever decides a class.
    An engine-vs-oracle ulp difference in ln() could only move a part
    between bands, which by associativity cannot change any result.

    Plan: one map-combinable part-keyed aggregate over the fact, a
    band-partitioned window (each band a separate task — the hot
    band is the tail band, which is also the densest; at 100 TB
    widen the log base to split it), one broadcast of the band-sum
    frame, one broadcast scalar total."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    rev = (t["lineitem"]
           .groupBy(F.col("l_partkey").alias("pk"))
           .agg(decimal_sum(F.col("l_extendedprice")
                            * (1 - F.col("l_discount"))).alias("r")))
    # part-count-sized; checkpointed so the fact is scanned ONCE for
    # both the in-band prefix and the band-sum/offset branches
    banded = (rev.withColumn(
        "band", F.floor(F.log(F.col("r").cast("double")) * F.lit(8.0)))
        .localCheckpoint(eager=False))
    w_in = (W.partitionBy("band")
            .orderBy(F.col("r").desc(), F.col("pk"))
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    in_band = banded.withColumn("cum_in", F.sum("r").over(w_in))
    band_sums = (banded.groupBy("band").agg(F.sum("r").alias("bs"))
                 .localCheckpoint(eager=False))  # band-count-sized, reused
    a, b = band_sums.alias("a"), band_sums.alias("b")
    offsets = (a.join(F.broadcast(b), F.col("b.band") > F.col("a.band"),
                      "left")
               .groupBy(F.col("a.band").alias("band"))
               .agg(F.coalesce(F.sum("b.bs"), F.lit(0).cast(DEC))
                    .alias("off")))
    tot = band_sums.agg(F.sum("bs").alias("t"))
    cum = (in_band.join(F.broadcast(offsets), "band")
           .crossJoin(F.broadcast(tot))
           .withColumn("c", F.col("cum_in") + F.col("off")))
    cls = F.when(F.col("c") * 100 <= F.col("t") * ABC_A_CUT, "A") \
           .when(F.col("c") * 100 <= F.col("t") * ABC_B_CUT, "B") \
           .otherwise("C")
    return (cum.withColumn("abc_class", cls)
            .groupBy("abc_class")
            .agg(F.count("*").alias("n_parts"),
                 F.sum("r").cast("double").alias("class_revenue"),
                 fround(F.sum("r").cast("double")
                        / F.max("t").cast("double"))
                 .alias("revenue_share"),
                 fround(F.max("c").cast("double")
                        / F.max("t").cast("double"))
                 .alias("max_cum_share")))
