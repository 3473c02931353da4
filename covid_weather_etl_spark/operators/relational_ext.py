"""Relational extensions beyond the reference's SQL surface.

SURVEY.md §2.3/§2.5 notes what the reference never uses: "no
intersect/except anywhere", no subqueries (§4 "no subqueries in the
reference"), no ranking functions, no RANGE frames. A warehouse user
migrating from the reference's Postgres backend reaches for these on
day one, so the engine provides them as first-class oracle-checked
queries: INTERSECT / EXCEPT set ops, correlated EXISTS / scalar
subqueries (Catalyst decorrelates both into joins — no per-row
re-execution like Postgres' dependent subplans), ntile/percent_rank/
cume_dist ranking, and value-based RANGE window frames.

Scale notes (100 TB): set ops hash-shuffle on the full row (here: one
narrow key column — project before INTERSECT, never after); correlated
predicates become broadcast/shuffle semi- and anti-joins chosen by AQE;
ranking windows partition by nation so no single task sees the whole
table; the RANGE frame runs over a per-(nation, day) pre-aggregate —
days-per-nation rows, bounded state per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from covid_weather_etl_spark.functions.numeric import (
    decimal_sum, decimal_sum_sql, dsum, dsum_sql, md5_int,
)
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables


@register(
    "repeat_buyers_intersect",
    survey="ext-setops,J1,P5",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    JOIN (
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        INTERSECT
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
    ) k ON k.o_custkey = c_custkey
    """,
)
def repeat_buyers_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers who ordered in BOTH 1996 and 1997. The key
    column is projected before the set op, so the intersect shuffles
    one bigint per row (Catalyst plans it as a distinct-aggregate +
    semi-join); the name lookup joins back to the customer dim."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    o = t["orders"]
    y1 = (o.filter((F.col("o_orderdate") >= "1996-01-01")
                    & (F.col("o_orderdate") < "1997-01-01"))
           .select("o_custkey"))
    y2 = (o.filter((F.col("o_orderdate") >= "1997-01-01")
                    & (F.col("o_orderdate") < "1998-01-01"))
           .select("o_custkey"))
    both = y1.intersect(y2)
    return (t["customer"]
            .join(both, F.col("o_custkey") == F.col("c_custkey"))
            .select("c_custkey", "c_name"))


@register(
    "lapsed_buyers_except",
    survey="ext-setops,J1,P5",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    JOIN (
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        EXCEPT
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
    ) k ON k.o_custkey = c_custkey
    """,
)
def lapsed_buyers_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers who ordered in 1996 but NOT in 1997 — the
    churn query. Same narrow-key discipline as the intersect; Catalyst
    plans EXCEPT as distinct + left-anti join. ``subtract`` (set
    semantics) — not ``exceptAll().distinct()``, which would keep keys
    whose 1996 multiplicity merely exceeds their 1997 multiplicity."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    o = t["orders"]
    y1 = (o.filter((F.col("o_orderdate") >= "1996-01-01")
                    & (F.col("o_orderdate") < "1997-01-01"))
           .select("o_custkey"))
    y2 = (o.filter((F.col("o_orderdate") >= "1997-01-01")
                    & (F.col("o_orderdate") < "1998-01-01"))
           .select("o_custkey"))
    lapsed = y1.subtract(y2)
    return (t["customer"]
            .join(lapsed, F.col("o_custkey") == F.col("c_custkey"))
            .select("c_custkey", "c_name"))


# Correlated-subquery SQL shared verbatim by engine and oracle: the
# engine runs it through spark.sql over temp views, the oracle through
# DuckDB — identical text proves the SQL surface, and the customer-mean
# comparison goes through exact DECIMAL so the predicate can't flip on
# last-ulp float noise.
_ABOVE_MEAN_SQL = f"""
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
FROM {{orders}} o
WHERE o.o_totalprice > 1.5 * (
    SELECT {dsum_sql("i.o_totalprice")} / COUNT(*)
    FROM {{orders}} i
    WHERE i.o_custkey = o.o_custkey
)
AND NOT EXISTS (
    SELECT 1 FROM {{orders}} x
    WHERE x.o_custkey = o.o_custkey
      AND x.o_orderstatus = 'P'
)
"""


@register(
    "correlated_subquery_orders",
    survey="ext-subquery,J7,A9",
    oracle=_ABOVE_MEAN_SQL.format(orders="orders"),
)
def correlated_subquery_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery + correlated NOT EXISTS, in one
    statement: orders 1.5× above their customer's mean order value,
    for customers with no pending ('P') order. Catalyst decorrelates
    the scalar subquery into an aggregate + equi-join and the NOT
    EXISTS into a left-anti join — set-at-a-time plans, not the
    per-row dependent subplan a row store would run. The engine and
    the oracle execute the SAME SQL text (exact decimal mean, so the
    theta predicate is order-independent)."""
    t = load_tables(spark, sf_dir, ("orders",))
    t["orders"].createOrReplaceTempView("ext_orders")
    return spark.sql(_ABOVE_MEAN_SQL.format(orders="ext_orders"))


@register(
    "decile_rank_customers",
    survey="ext-ranking,A6,W6",
    oracle="""
    WITH r AS (
        SELECT c_custkey, n_name, revenue,
               CAST(ntile(10) OVER w AS INT) AS revenue_decile,
               CAST(row_number() OVER w AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY n_name) AS BIGINT) AS n
        FROM (
            SELECT c_custkey, n_name,
                   {rev} AS revenue
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN orders ON o_custkey = c_custkey
            GROUP BY c_custkey, n_name
        )
        WINDOW w AS (PARTITION BY n_name ORDER BY revenue DESC, c_custkey)
    )
    -- percent_rank/cume_dist emit k/n doubles; when n is 2^a·5^b the
    -- quotient terminates at exactly 7 decimals and the 6dp ROUND hits
    -- an exact .5 tie, where Spark (shortest-decimal-string HALF_UP)
    -- and DuckDB (exact-binary half-away) disagree by one ulp of the
    -- last digit. Integer half-up on the exact rational instead:
    -- floor((2·k·10^6 + n) / (2n)) — bit-identical on both engines.
    SELECT c_custkey, n_name, revenue, revenue_decile,
           CASE WHEN n = 1 THEN 0.0
                ELSE ((2 * (rn - 1) * 1000000 + (n - 1))
                      // (2 * (n - 1))) / 1000000.0 END AS pct_rank,
           ((2 * rn * 1000000 + n) // (2 * n)) / 1000000.0 AS cume
    FROM r
    """.format(rev=dsum_sql("o_totalprice")),
)
def decile_rank_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function family the reference never had: per-nation
    revenue deciles (ntile), percent_rank and cume_dist over each
    customer's lifetime order value. The window partitions by nation —
    no global sort, each partition ranks independently (the 100 TB
    rule pinned by tests/test_plans.py::test_no_global_windows);
    revenue is an exact decimal sum so ranks can't flip on float
    noise, and the tie-break on custkey makes every rank
    deterministic. The rank RATIOS are computed from integer window
    counts with exact integer half-up rounding rather than rounding
    the engines' k/n doubles: when a partition size is 2^a·5^b, k/n
    terminates at exactly 7 decimals and ROUND-at-6dp sits on a true
    .5 tie, where Spark and DuckDB round differently (found by the
    sf0.1 parity sweep; 6 customers per run landed on ties)."""
    t = load_tables(spark, sf_dir, ("customer", "nation", "orders"))
    rev = (t["customer"]
           .join(F.broadcast(t["nation"]),
                 F.col("c_nationkey") == F.col("n_nationkey"))
           .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"))
           .groupBy("c_custkey", "n_name")
           .agg(dsum("o_totalprice").alias("revenue")))
    w = (W.partitionBy("n_name")
         .orderBy(F.col("revenue").desc(), F.col("c_custkey")))
    r = rev.select(
        "c_custkey", "n_name", "revenue",
        F.ntile(10).over(w).cast("int").alias("revenue_decile"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.count("*").over(W.partitionBy("n_name")).cast("long").alias("n"))
    # 1e6, not 1000000.0: Spark SQL parses x.y literals as DECIMAL,
    # which would type these columns decimal instead of double and
    # break the driver's schema compare (caught by the vanilla-session
    # driver simulation).
    pct = F.when(F.col("n") == 1, F.lit(0.0)).otherwise(F.expr(
        "((2 * (rn - 1) * 1000000 + (n - 1)) div (2 * (n - 1))) / 1e6"))
    cume = F.expr("((2 * rn * 1000000 + n) div (2 * n)) / 1e6")
    return r.select("c_custkey", "n_name", "revenue", "revenue_decile",
                    pct.alias("pct_rank"), cume.alias("cume"))


@register(
    "range_frame_revenue",
    survey="ext-window,A7,W4",
    oracle="""
    SELECT n_name, day_num, daily_rev,
           CAST({wsum} OVER (
                PARTITION BY n_name ORDER BY day_num
                RANGE BETWEEN 29 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS trailing_30d_rev
    FROM (
        SELECT n_name,
               date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS day_num,
               {rev} AS daily_rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name, day_num
    )
    """.format(rev=dsum_sql("o_totalprice"),
               wsum=decimal_sum_sql("daily_rev")),
)
def range_frame_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE window frame (vs the reference's row-count
    rolling windows, SURVEY W4): trailing-30-day revenue per nation.
    The frame is defined over day VALUES, so calendar gaps are handled
    correctly — a ROWS frame would silently span missing days. Runs
    over a per-(nation, day) pre-aggregate (days × nations rows, not
    order rows), and both the daily and the windowed sum accumulate in
    exact DECIMAL, keeping the result order-independent. Partitioned
    by nation: bounded per-task state at any scale."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    daily = (t["orders"]
             .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
             .join(F.broadcast(t["nation"]),
                   F.col("c_nationkey") == F.col("n_nationkey"))
             .groupBy("n_name",
                      F.datediff(F.to_date("o_orderdate"),
                                 F.lit("1970-01-01")).alias("day_num"))
             .agg(dsum("o_totalprice").alias("daily_rev")))
    w = (W.partitionBy("n_name").orderBy("day_num")
         .rangeBetween(-29, W.currentRow))
    trailing = decimal_sum("daily_rev").over(w).cast("double")
    return daily.select("n_name", "day_num", "daily_rev",
                        trailing.alias("trailing_30d_rev"))


# ---------------------------------------------------------------------------
# robust preprocessing: per-group winsorization
# ---------------------------------------------------------------------------

WINSOR_LO = 0.05
WINSOR_HI = 0.95


@register(
    "winsorized_prices",
    survey="ext-robust,A11,J1,P10",
    oracle=f"""
    WITH thr AS (
        SELECT l_returnflag AS rf,
               ROUND(quantile_cont(l_extendedprice, {WINSOR_LO}), 2) AS lo,
               ROUND(quantile_cont(l_extendedprice, {WINSOR_HI}), 2) AS hi
        FROM lineitem GROUP BY 1
    )
    SELECT l_orderkey, l_linenumber, l_returnflag,
           l_extendedprice AS price,
           CASE WHEN l_extendedprice < lo THEN lo
                WHEN l_extendedprice > hi THEN hi
                ELSE l_extendedprice END AS price_winsor,
           l_extendedprice < lo OR l_extendedprice > hi AS was_clipped
    FROM lineitem JOIN thr ON l_returnflag = thr.rf
    """,
)
def winsorized_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (P5/P95 clipping) of extended price by
    return flag — the robust-preprocessing step that caps outliers
    before scaling/model fit (the heavy-tail guard every feature
    pipeline wants). Exact interpolated percentiles per group (3
    groups), rounded to the 2-decimal money grid BEFORE comparing so
    both engines clip against the identical thresholds; the tiny
    threshold frame broadcasts back onto the fact scan — one group
    aggregate plus a narrow map, no row shuffle. At 100 TB swap the
    exact percentile for percentile_approx and the plan is unchanged."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    price = F.col("l_extendedprice")
    # ONE percentile buffer for both cut points (each F.percentile
    # call sorts its own copy of the group; the array form halves the
    # aggregate cost — same single-buffer fix woe_iv/mad got in r6)
    qs = F.percentile(price, F.array(F.lit(WINSOR_LO), F.lit(WINSOR_HI)))
    thr = (t["lineitem"].groupBy(F.col("l_returnflag").alias("rf"))
           .agg(qs.alias("q"))
           .select("rf", F.round(F.element_at("q", 1), 2).alias("lo"),
                   F.round(F.element_at("q", 2), 2).alias("hi")))
    lo, hi = F.col("lo"), F.col("hi")
    return (t["lineitem"]
            .join(F.broadcast(thr), F.col("l_returnflag") == F.col("rf"))
            .select("l_orderkey", "l_linenumber", "l_returnflag",
                    price.alias("price"),
                    F.when(price < lo, lo).when(price > hi, hi)
                     .otherwise(price).alias("price_winsor"),
                    ((price < lo) | (price > hi)).alias("was_clipped")))


# ---------------------------------------------------------------------------
# snapshot diff (CDC between two table states) + key-skew profiling
# ---------------------------------------------------------------------------

@register(
    "snapshot_diff",
    survey="ext-cdc,J1,J7,P10",
    oracle="""
    WITH new_snap AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN 'MOVED' ELSE c_mktsegment
               END AS seg
        FROM customer WHERE c_custkey % 11 <> 0
        UNION ALL
        SELECT -c_custkey - 1, 'NEWBIE' FROM customer WHERE c_custkey % 13 = 0
    )
    SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'insert'
                WHEN n.c_custkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           o.c_mktsegment AS old_segment,
           n.seg          AS new_segment
    FROM customer o FULL OUTER JOIN new_snap n USING (c_custkey)
    WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
       OR o.c_mktsegment <> n.seg
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two dimension snapshots: emit every
    insert / delete / update with old and new values (the diff a CDC
    feed or a MERGE INTO would apply; unchanged rows are dropped). The
    'new' snapshot is derived deterministically from the old one (every
    7th key's segment changes, every 11th key is deleted, every 13th
    key spawns an insert under a fresh strictly-negative key −k−1,
    which stays disjoint from the key space even for key 0) so both
    engines
    diff identical states. Plan: ONE full-outer join on the projected
    key + change columns — no row moves except by key hash; at 100 TB
    both snapshots shuffle once on the key (or zero times if both are
    key-bucketed) and the filter drops the unchanged majority before
    any further stage."""
    t = load_tables(spark, sf_dir, ("customer",))
    cust = t["customer"]
    old = cust.select("c_custkey", F.col("c_mktsegment").alias("old_segment"))
    new = (cust.filter(F.col("c_custkey") % 11 != 0)
           .select("c_custkey",
                   F.when(F.col("c_custkey") % 7 == 0, "MOVED")
                    .otherwise(F.col("c_mktsegment")).alias("new_segment"))
           .unionByName(
               cust.filter(F.col("c_custkey") % 13 == 0)
               .select((-F.col("c_custkey") - 1).alias("c_custkey"),
                       F.lit("NEWBIE").alias("new_segment"))))
    joined = old.join(new, "c_custkey", "full_outer")
    change = (F.when(F.col("old_segment").isNull(), "insert")
               .when(F.col("new_segment").isNull(), "delete")
               .otherwise("update"))
    return (joined
            .filter(F.col("old_segment").isNull()
                    | F.col("new_segment").isNull()
                    | (F.col("old_segment") != F.col("new_segment")))
            .select("c_custkey", change.alias("change_type"),
                    "old_segment", "new_segment"))


@register(
    "key_skew_profile",
    survey="ext-skew,A6,A9,F9",
    oracle="""
    WITH per_key AS (
        SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT)           AS n_keys,
           CAST(SUM(cnt) AS BIGINT)           AS n_rows,
           CAST(MAX(cnt) AS BIGINT)           AS max_cnt,
           ROUND(SUM(cnt) * 1.0 / COUNT(*), 6) AS avg_cnt,
           ROUND(MAX(cnt) * COUNT(*) * 1.0 / SUM(cnt), 6) AS skew_ratio,
           ROUND(ln(SUM(cnt) * 1.0)
                 - SUM(cnt * ln(cnt * 1.0)) / SUM(cnt), 6) AS entropy_nats
    FROM per_key
    """,
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/groupBy-key skew diagnosis for the orders fact's customer
    key: key cardinality, heaviest-key count, max/avg skew ratio and
    the key distribution's Shannon entropy — the report that decides
    whether a shuffle needs salting or AQE skew handling before it
    runs. Entropy of p_i = c_i/N via the algebraic identity
    H = ln(N) − Σc·ln(c)/N (c = per-key count, N = total rows) so only
    ONE float sum crosses the aggregation (rounded 6dp; the integer
    sums are exact). Two aggregates: per-key counts (map-side
    combinable) then a one-row summary — at 100 TB this is the
    cheapest possible full-skew scan."""
    t = load_tables(spark, sf_dir, ("orders",))
    per_key = (t["orders"].groupBy("o_custkey")
               .agg(F.count("*").alias("cnt")))
    c = F.col("cnt")
    n_keys = F.count("*")
    n_rows = F.sum(c)
    return per_key.agg(
        n_keys.alias("n_keys"),
        n_rows.alias("n_rows"),
        F.max(c).alias("max_cnt"),
        F.round(n_rows * 1.0 / n_keys, 6).alias("avg_cnt"),
        F.round(F.max(c) * n_keys * 1.0 / n_rows, 6).alias("skew_ratio"),
        F.round(F.log(n_rows * 1.0)
                - F.sum(c * F.log(c * 1.0)) / n_rows, 6)
         .alias("entropy_nats"),
    )


@register(
    "modal_priority_by_nation",
    survey="ext-agg,A6,A13,J2",
    oracle="""
    WITH counts AS (
        SELECT n.n_name, o.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ), ranked AS (
        SELECT n_name, o_orderpriority, cnt,
               row_number() OVER (PARTITION BY n_name
                                  ORDER BY cnt DESC, o_orderpriority)
                 AS rk
        FROM counts
    )
    SELECT n_name, o_orderpriority AS modal_priority, cnt AS n_orders
    FROM ranked WHERE rk = 1
    """,
)
def modal_priority_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE per group — the holistic aggregate SQL 2023 finally named
    (`MODE() WITHIN GROUP`), absent from both the reference and the
    registry's A-family until now: each nation's most common order
    priority. Two-level algebra: count per (nation, priority) — the
    frame collapses to |nations|x|priorities| rows regardless of fact
    size — then argmax per nation via a window over THAT tiny frame,
    ties broken to the alphabetically first priority so the answer is
    a total function on both engines.

    Scale: the fact scan aggregates map-side into the composite-key
    frame (one shuffle); the argmax window partitions on nation over
    ≤|priorities| rows per group. The mode of a billion-row group
    costs the same as a thousand-row group — the whole point of
    count-then-argmax over sort-based mode."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    counts = (t["orders"]
              .join(F.broadcast(t["customer"]),
                    F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(t["nation"]),
                    F.col("c_nationkey") == F.col("n_nationkey"))
              .groupBy("n_name", "o_orderpriority")
              .agg(F.count("*").alias("cnt")))
    w = (W.partitionBy("n_name")
         .orderBy(F.col("cnt").desc(), "o_orderpriority"))
    return (counts.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("n_name",
                    F.col("o_orderpriority").alias("modal_priority"),
                    F.col("cnt").alias("n_orders")))


# ---------------------------------------------------------------------------
# ordered string aggregation (STRING_AGG / ordered collect_list)
# ---------------------------------------------------------------------------

@register(
    "order_priority_journey",
    survey="ext-relational,A6,W1,F1",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           STRING_AGG(o_orderpriority, ','
                      ORDER BY o_orderdate, o_orderkey) AS journey
    FROM orders
    GROUP BY o_custkey
    """,
)
def order_priority_journey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's chronological priority journey as one
    comma-joined string — the ORDERED string aggregation
    (``STRING_AGG ... ORDER BY``) that reporting layers and
    sequence-mining exports both need, and that naive
    ``collect_list`` gets WRONG: collect_list order is partition
    arrival order, nondeterministic across runs and layouts. The
    deterministic Spark form collects (date, key, value) structs and
    ``array_sort``s them BEFORE joining — the sort happens inside
    each group's aggregated array (bounded per-customer cardinality),
    never as a global ordering, and the (date, orderkey) tiebreak
    makes same-day orders stable on both engines.

    Scale: one customer-keyed shuffle with map-side partial
    collect; per-group arrays are order-count-sized. At 100 TB the
    only caveat is pathological single-customer hot keys, the same
    skew class every collect carries — the salting pattern from
    `skew_resilient_running_total` applies unchanged if one appears."""
    t = load_tables(spark, sf_dir, ("orders",))
    item = F.struct(F.col("o_orderdate"), F.col("o_orderkey"),
                    F.col("o_orderpriority"))
    return (t["orders"]
            .groupBy("o_custkey")
            .agg(F.count("*").alias("n_orders"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(item)),
                         lambda s: s["o_orderpriority"]),
                     ",").alias("journey")))


# ---------------------------------------------------------------------------
# bag-semantics set operation: EXCEPT ALL (multiplicity-preserving)
# ---------------------------------------------------------------------------

#: the two compared periods (first vs second half of one year).
BAG_YEAR = 1996


@register(
    "priority_mix_except_all",
    survey="ext-relational,D3,A6,P5",
    oracle=f"""
    WITH h1 AS (
        SELECT o_orderpriority FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '{BAG_YEAR}-01-01'
          AND CAST(o_orderdate AS DATE) <  DATE '{BAG_YEAR}-07-01'
    ), h2 AS (
        SELECT o_orderpriority FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '{BAG_YEAR}-07-01'
          AND CAST(o_orderdate AS DATE) <  DATE '{BAG_YEAR + 1}-01-01'
    ), leftover AS (
        SELECT o_orderpriority FROM h1
        EXCEPT ALL
        SELECT o_orderpriority FROM h2
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS surplus_h1
    FROM leftover GROUP BY 1
    """,
)
def priority_mix_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — the BAG-semantics set difference the registry's
    DISTINCT-based INTERSECT/EXCEPT pair (`repeat_buyers_intersect`,
    `lapsed_buyers_except`) deliberately does not exercise: each H1
    row of a priority survives only if H2 has FEWER copies left to
    cancel it, so the result counts the per-priority order SURPLUS of
    the first half-year over the second — multiplicities matter, a
    DISTINCT difference would return rows only for priorities absent
    from H2 entirely (usually none). Spark's `exceptAll` implements
    the multiset semantics directly (a count-difference aggregate
    under the hood — replicated-row generation, no join explosion).

    Scale: two pushdown-pruned scans of one projected column, one
    hash aggregate per side inside exceptAll, and a final tiny
    rollup; only priorities with positive surplus appear, identical
    on both engines by the SQL standard's max(m−n, 0) rule."""
    t = load_tables(spark, sf_dir, ("orders",))
    d = F.to_date("o_orderdate")
    h1 = (t["orders"]
          .filter((d >= F.lit(f"{BAG_YEAR}-01-01"))
                  & (d < F.lit(f"{BAG_YEAR}-07-01")))
          .select("o_orderpriority"))
    h2 = (t["orders"]
          .filter((d >= F.lit(f"{BAG_YEAR}-07-01"))
                  & (d < F.lit(f"{BAG_YEAR + 1}-01-01")))
          .select("o_orderpriority"))
    return (h1.exceptAll(h2)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("surplus_h1")))


# ---------------------------------------------------------------------------
# repeat-purchase interval distribution
# ---------------------------------------------------------------------------

@register(
    "repurchase_interval_stats",
    survey="ext-relational,W2,A11,A6",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               datediff('day',
                        LAG(CAST(o_orderdate AS DATE)) OVER (
                            PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey),
                        CAST(o_orderdate AS DATE)) AS gap_days
        FROM orders
    )
    SELECT CAST(COUNT(gap_days) AS BIGINT) AS n_intervals,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_repeat_custs,
           ROUND(quantile_cont(gap_days, 0.25), 6) AS p25_days,
           ROUND(quantile_cont(gap_days, 0.50), 6) AS median_days,
           ROUND(quantile_cont(gap_days, 0.75), 6) AS p75_days,
           CAST(MIN(gap_days) AS BIGINT) AS min_days,
           CAST(MAX(gap_days) AS BIGINT) AS max_days
    FROM gaps WHERE gap_days IS NOT NULL
    """,
)
def repurchase_interval_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: the distribution of day gaps between a
    customer's consecutive orders — the retention metric behind every
    'when to re-engage' decision, and the empirical input to the
    kaplan_meier / time_to_convert family (those measure event→event
    within a funnel; this measures purchase→purchase across the whole
    relationship). LAG per customer (orderkey tiebreak for same-day
    orders), integer day gaps, then one global summary of exact
    quartiles over the gap population.

    Scale: one customer-keyed window shuffle; the summary aggregates
    |orders − customers| integer gaps — the exact-percentile buffer
    holds small ints and flips to approx_percentile at 100 TB (A11
    convention) with no other plan change."""
    t = load_tables(spark, sf_dir, ("orders",))
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (t["orders"]
            .select("o_custkey",
                    F.datediff(F.to_date("o_orderdate"),
                               F.lag(F.to_date("o_orderdate")).over(w))
                    .alias("gap_days"))
            .filter(F.col("gap_days").isNotNull()))
    # ONE array-percentile buffer for all three quartiles (the
    # woe_iv_binning lesson: separate percentile expressions each
    # buffer the whole column)
    agg = gaps.agg(
        F.count("gap_days").alias("n_intervals"),
        F.countDistinct("o_custkey").alias("n_repeat_custs"),
        F.percentile("gap_days", F.array(
            F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("qs"),
        F.min("gap_days").cast("bigint").alias("min_days"),
        F.max("gap_days").cast("bigint").alias("max_days"))
    return agg.select(
        "n_intervals", "n_repeat_custs",
        F.round(F.col("qs")[0], 6).alias("p25_days"),
        F.round(F.col("qs")[1], 6).alias("median_days"),
        F.round(F.col("qs")[2], 6).alias("p75_days"),
        "min_days", "max_days")


# ---------------------------------------------------------------------------
# optimizer statistics: sampled join-cardinality estimation vs truth
# ---------------------------------------------------------------------------

#: key-level Bernoulli sampling rate denominator: keys with
#: md5(key) % RATE == 0 are sampled, the sum of squared frequencies
#: scales back by RATE (unbiased for self-equi-join size).
JOINEST_RATE = 16


def _joinest_pair_sql(table: str, key: str) -> str:
    """One (key-column, actual, estimated) row: self-equi-join size
    Σ f(k)² exactly, and its key-sampled estimate — all integers."""
    return f"""
        SELECT '{key}' AS join_key,
               CAST(SUM(cnt * cnt) AS BIGINT) AS actual_pairs,
               CAST({JOINEST_RATE} * SUM(
                   CASE WHEN ('0x' || substr(md5(CAST(k AS VARCHAR)),
                                             1, 15))::BIGINT
                             % {JOINEST_RATE} = 0
                        THEN cnt * cnt ELSE 0 END) AS BIGINT)
                   AS estimated_pairs
        FROM (SELECT {key} AS k, COUNT(*) AS cnt
              FROM {table} GROUP BY 1) g
    """


@register(
    "join_size_estimate",
    survey="ext-stats,A1,A3,A6,F9",
    oracle=f"""
    SELECT join_key, actual_pairs, estimated_pairs,
           FLOOR((estimated_pairs - actual_pairs) * 1e6 * 1e0
                 -- not the kernel: scaled before the division
                 / actual_pairs + 5e-1) / 1e6 AS rel_err
    FROM (
        {_joinest_pair_sql('lineitem', 'l_partkey')}
        UNION ALL
        {_joinest_pair_sql('lineitem', 'l_suppkey')}
        UNION ALL
        {_joinest_pair_sql('orders', 'o_custkey')}
    ) u
    """,
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-based JOIN-CARDINALITY estimation next to ground
    truth — the statistic a cost-based optimizer needs before picking
    a join strategy at 100 TB, where computing the true size is as
    expensive as the join itself. Self-equi-join size is Σ f(k)² over
    the key histogram; the estimator samples KEYS (not rows — row
    sampling biases f² estimates) with a deterministic md5 Bernoulli
    at rate 1/{JOINEST_RATE} and scales back: unbiased, no RNG,
    reproducible. Reported for two skewed fact keys and one dimension
    FK, with the realized relative error.

    Everything is integer arithmetic off one groupBy per key (the
    histogram an engine keeps as statistics anyway); the estimate
    needs only the SAMPLED keys' counts — at scale the histogram scan
    prunes to the sample with a pushed md5-bucket predicate. rel_err
    is the single division, display-rounded."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))

    def pair(df: DataFrame, key: str) -> DataFrame:
        g = df.groupBy(F.col(key).alias("k")).agg(F.count("*").alias("cnt"))
        sampled = F.when(
            F.pmod(md5_int(F.col("k").cast("string"), 15),
                   F.lit(JOINEST_RATE)) == 0,
            F.col("cnt") * F.col("cnt")).otherwise(F.lit(0))
        return g.agg(
            F.lit(key).alias("join_key"),
            F.sum(F.col("cnt") * F.col("cnt")).cast("bigint")
            .alias("actual_pairs"),
            (F.lit(JOINEST_RATE) * F.sum(sampled)).cast("bigint")
            .alias("estimated_pairs"))

    out = (pair(t["lineitem"], "l_partkey")
           .unionByName(pair(t["lineitem"], "l_suppkey"))
           .unionByName(pair(t["orders"], "o_custkey")))
    rel = ((F.col("estimated_pairs") - F.col("actual_pairs"))
           * F.lit(1e6) * F.lit(1.0) / F.col("actual_pairs"))
    return (out.select("join_key", "actual_pairs", "estimated_pairs",
                       # not the kernel: scaled before the division
                       (F.floor(rel + F.lit(0.5)) / F.lit(1e6))
                       .alias("rel_err"))
            .orderBy("join_key"))
