"""Warehouse-maintenance operators: incremental aggregate refresh and
space-filling-curve data layout.

The reference maintains its warehouse with a batch cursor and in-place
upserts (`dags/etl_dag.py:40-46`, `database/operations.py:157-163`) and
recomputes every dashboard aggregate from scratch on each render
(`streamlit/etl_logs.py` re-issues the full GROUP BY per page load).
At 100 TB neither survives: aggregates must be maintained
*incrementally* (merge yesterday's partials with today's delta instead
of rescanning history), and the physical layout must support file
skipping (min/max pruning only works when values are clustered).
These two operators are those scale paths, both oracle-checked:

- ``incremental_agg_maintenance`` — merge-refresh of a monthly revenue
  rollup: partial aggregates over the base (historical) slice merged
  with partials over the delta slice via a full-outer coalesce. The
  oracle is the ONE-SHOT aggregate over everything, so the driver
  verifies the algebraic identity merge(partial(A), partial(B)) ==
  total(A ∪ B) that all mergeable-state maintenance rests on.
- ``zorder_layout`` — Morton (bit-interleaved) clustering of orders on
  (customer-bucket, date-bucket), split into target files, reporting
  per-file min/max of BOTH dimensions. Sorting by one key makes the
  other's min/max spans useless; the Z-curve bounds both, which is what
  makes multi-column predicate skipping work (Delta/Iceberg OPTIMIZE
  ZORDER does exactly this).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from covid_weather_etl_spark.functions import driver
from covid_weather_etl_spark.functions.artifacts import artifact_path, ensure
from covid_weather_etl_spark.functions.numeric import (
    DEC, decimal_sum, decimal_sum_sql, dsum, dsum_sql, fround, fround_sql,
    md5_int,
)
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables

#: refresh cutoff: rows strictly before it are the "already materialized"
#: base, rows at/after it are the new delta batch being folded in.
CUTOFF = "1997-06-01"


@register(
    "incremental_agg_maintenance",
    survey="ext-mv,A1,A6,A8,F5",
    oracle=f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           COUNT(*) AS order_cnt,
           {dsum_sql('o_totalprice')} AS revenue,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY 1
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh: the monthly rollup is NOT
    recomputed over all of orders — it is the merge of partial
    aggregates over the pre-cutoff base (what a warehouse would have
    materialized yesterday) with partial aggregates over the post-cutoff
    delta (today's ingest). COUNT merges by +, SUM by + (exact, via
    DECIMAL accumulation), MAX by greatest — all three are commutative
    monoids, so merge(partial, partial) is *identical* to the one-shot
    aggregate, which is exactly what the oracle asserts.

    Scale: the delta scan reads only the new partition; the merge joins
    two month-grained partials (thousands of rows, not billions). This
    turns an O(history) nightly refresh into O(delta) — the only viable
    shape at 100 TB. Spark-side both partials are map-side combinable;
    the outer merge is a tiny shuffle on `month`.
    """
    t = load_tables(spark, sf_dir, ("orders",))
    month = F.date_trunc("month", "o_orderdate").cast("date").alias("month")

    def partial(df: DataFrame) -> DataFrame:
        return (df.select(month, "o_totalprice")
                .groupBy("month")
                .agg(F.count("*").alias("cnt"),
                     decimal_sum("o_totalprice").alias("rev_dec"),
                     F.max("o_totalprice").alias("mx")))

    base = partial(t["orders"].filter(F.col("o_orderdate") < CUTOFF))
    delta = partial(t["orders"].filter(F.col("o_orderdate") >= CUTOFF))

    b, d = base.alias("b"), delta.alias("d")
    zero = F.lit(0).cast(DEC)
    merged = (b.join(d, "month", "full_outer")
              .select(
                  "month",
                  (F.coalesce(F.col("b.cnt"), F.lit(0))
                   + F.coalesce(F.col("d.cnt"), F.lit(0))).alias("order_cnt"),
                  (F.coalesce(F.col("b.rev_dec"), zero)
                   + F.coalesce(F.col("d.rev_dec"), zero))
                  .cast("double").alias("revenue"),
                  F.greatest(F.col("b.mx"), F.col("d.mx")).alias("max_price")))
    return merged


#: Z-order geometry: 8 bits per dimension → 16-bit Morton codes; the
#: top ZFILE_BITS bits of the code name the target file (quad-tree
#: tiling into ZFILES cells).
ZBITS = 8
ZFILE_BITS = 6
ZFILES = 1 << ZFILE_BITS


def _morton_spark(a, b):
    """Interleave the low ZBITS bits of integer columns a (odd bit
    positions) and b (even): pure bit algebra, whole-stage-codegen'd."""
    z = F.lit(0).cast("long")
    for i in range(ZBITS):
        bit_a = F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        bit_b = F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + bit_a.cast("long") + bit_b.cast("long")
    return z


def _morton_sql(a: str, b: str) -> str:
    terms = []
    for i in range(ZBITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


_CB = "CAST(o_custkey % 256 AS INTEGER)"
_DB = ("CAST(datediff('day', DATE '1992-01-01', "
       "CAST(o_orderdate AS DATE)) % 256 AS INTEGER)")


@register(
    "zorder_layout",
    survey="ext-layout,A6,A8",
    oracle=f"""
    WITH keyed AS (
        SELECT o_orderkey, {_CB} AS cust_bucket, {_DB} AS date_bucket,
               {_morton_sql(_CB, _DB)} AS zval
        FROM orders
    )
    SELECT CAST(zval >> {2 * ZBITS - ZFILE_BITS} AS BIGINT) AS file_id,
           COUNT(*) AS n_rows,
           MIN(cust_bucket) AS min_cust_bucket,
           MAX(cust_bucket) AS max_cust_bucket,
           MIN(date_bucket) AS min_date_bucket,
           MAX(date_bucket) AS max_date_bucket
    FROM keyed
    GROUP BY 1
    """,
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout planning: bucket orders on two
    independent dimensions (customer hash-bucket, order-date day-bucket,
    8 bits each), interleave the bits into a 16-bit Z-value, and assign
    each row to the file named by the Z-value's top {ZFILE_BITS} bits —
    a fixed quad-tree tiling of the (cust, date) plane into {ZFILES}
    cells. The output is each file's min/max envelope on BOTH
    dimensions — the footer stats a lakehouse scan would prune with.
    Clustered this way a predicate on either dimension (or both) skips
    most files; a plain single-column sort only bounds one.

    The Morton code is {ZBITS}×2 shift/mask terms of pure integer
    algebra — whole-stage-codegen'd, no UDF, and the file assignment is
    a pure map-side projection (no global sort or window): at 100 TB
    the physical rewrite is `df.repartitionByRange("zval")` +
    `sortWithinPartitions("zval")` + write, all embarrassingly
    shuffle-parallel. The envelope report is one groupBy on file_id.
    """
    t = load_tables(spark, sf_dir, ("orders",))
    cb = (F.col("o_custkey") % 256).cast("int")
    db = (F.datediff(F.col("o_orderdate").cast("date"),
                     F.to_date(F.lit("1992-01-01"))) % 256).cast("int")
    keyed = t["orders"].select(
        "o_orderkey", cb.alias("cust_bucket"), db.alias("date_bucket"),
        _morton_spark(F.col("o_custkey") % 256,
                      (F.datediff(F.col("o_orderdate").cast("date"),
                                  F.to_date(F.lit("1992-01-01"))) % 256)
                      ).alias("zval"))
    return (keyed
            .withColumn("file_id",
                        F.shiftright("zval", 2 * ZBITS - ZFILE_BITS)
                        .cast("long"))
            .groupBy("file_id")
            .agg(F.count("*").alias("n_rows"),
                 F.min("cust_bucket").alias("min_cust_bucket"),
                 F.max("cust_bucket").alias("max_cust_bucket"),
                 F.min("date_bucket").alias("min_date_bucket"),
                 F.max("date_bucket").alias("max_date_bucket")))


#: Bloom geometry: K hash functions, m auto-sized to 8 bits/key
#: (fp ≈ (1−e^−K·n/m)^K ≈ 2.4% at K=4, m=8n).
BLOOM_K = 4
BLOOM_CUTOFF = "2001-07-01"  # "recent orders" build-side slice (last month)

_BLOOM_POS_SQL = (
    "CAST(CAST('0x' || substr(md5(CAST({j} AS VARCHAR) || ':' || "
    "CAST({key} AS VARCHAR)), 1, 8) AS BIGINT) % {m} AS BIGINT)")


@register(
    "bloom_prefilter_join",
    survey="ext-bloom,J7,A3,A5",
    oracle=f"""
    WITH keys AS (
        SELECT DISTINCT o_custkey AS k FROM orders
        WHERE o_orderdate >= TIMESTAMP '{BLOOM_CUTOFF}'
    ), mm AS (
        -- greatest(..., 2): an empty build side would otherwise hit
        -- LOG2(0) and poison m with -inf on both engines
        SELECT CAST(POWER(2, CEIL(LOG2(GREATEST(COUNT(*) * 8, 2))))
                    AS BIGINT) AS m
        FROM keys
    ), pos AS (
        SELECT DISTINCT {_BLOOM_POS_SQL.format(j='jj.j', key='keys.k', m='mm.m')} AS p
        FROM keys CROSS JOIN mm
        CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) jj
    ), bits AS (
        SELECT list_sort(list(p)) AS bl, (SELECT m FROM mm) AS m FROM pos
    ), probe AS (
        SELECT c.c_custkey,
               len(list_filter([0,1,2,3], j -> list_contains(b.bl,
                   {_BLOOM_POS_SQL.format(j='j', key='c.c_custkey', m='b.m')}
               ))) = {BLOOM_K} AS pass
        FROM customer c CROSS JOIN bits b
    )
    SELECT COUNT(*) AS n_probe,
           CAST(SUM(CASE WHEN p.pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass_bloom,
           CAST(SUM(CASE WHEN k.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_match,
           CAST(SUM(CASE WHEN p.pass AND k.k IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           ROUND(SUM(CASE WHEN p.pass AND k.k IS NULL THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS fp_rate
    FROM probe p LEFT JOIN keys k ON p.c_custkey = k.k
    """,
)
def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pre-filtering, measured: build a Bloom filter
    over the "recent orders" customer keys (m auto-sized to 8 bits/key,
    K={BLOOM_K} md5-derived hashes), probe every customer through it,
    and report pass/true-match/false-positive counts and the FP rate —
    the report that justifies (or rejects) shipping a Bloom filter to
    the probe side before a shuffle join. No false negatives by
    construction (every true key set its own bits; the oracle's
    true-match count confirms), and the FP rate lands near the
    (1−e^−K·n/m)^K design point.

    md5-derived positions are used (not xxhash64) so DuckDB verifies
    the filter bit-for-bit. The bit set is carried as a sorted position
    array in a 1-row broadcast frame — bounded by m, NOT by data (m
    grows as 8·n_keys: at sf levels this is a few-KB array; at 10^9
    keys you switch to Spark's native runtime bloom join / an
    aggregate-built bitmap, same algebra, streaming build). Probe-side
    membership is {BLOOM_K} array_contains (binary search) per row —
    whole-stage-codegen'd, no UDF, no shuffle of the probe side at all
    until the (now pre-filtered) join itself."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    keys = (t["orders"]
            .filter(F.col("o_orderdate") >= BLOOM_CUTOFF)
            .select(F.col("o_custkey").alias("k")).distinct())
    mm = keys.agg(
        F.pow(F.lit(2.0),
              F.ceil(F.log2(F.greatest(F.count("*") * 8, F.lit(2)))))
        .cast("long").alias("m"))

    def bpos(j, key, m):
        return md5_int(F.concat(j.cast("string"), F.lit(":"),
                                key.cast("string")), 8) % m

    pos = (keys.crossJoin(F.broadcast(mm))
           .select(F.explode(F.array(
               *[F.lit(i) for i in range(BLOOM_K)])).alias("j"), "k", "m")
           .select(bpos(F.col("j"), F.col("k"), F.col("m")).alias("p"))
           .distinct())
    bits = (pos.agg(F.array_sort(F.collect_set("p")).alias("bl"))
            .crossJoin(F.broadcast(mm)))

    probe = t["customer"].crossJoin(F.broadcast(bits))
    passed = None
    for i in range(BLOOM_K):
        hit = F.array_contains(
            "bl", bpos(F.lit(i), F.col("c_custkey"), F.col("m")))
        passed = hit if passed is None else (passed & hit)
    probe = probe.select("c_custkey", passed.alias("pass"))

    joined = probe.join(F.broadcast(keys),
                        probe["c_custkey"] == keys["k"], "left")
    t1 = F.when(F.col("pass"), 1).otherwise(0)
    return joined.agg(
        F.count("*").alias("n_probe"),
        F.sum(t1).cast("long").alias("n_pass_bloom"),
        F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0)).cast("long")
         .alias("n_true_match"),
        F.sum(F.when(F.col("pass") & F.col("k").isNull(), 1).otherwise(0))
         .cast("long").alias("n_false_pos"),
        F.round(F.sum(F.when(F.col("pass") & F.col("k").isNull(), 1)
                      .otherwise(0)) * 1.0 / F.count("*"), 6)
         .alias("fp_rate"))


# ---------------------------------------------------------------------------
# Customer analytics: RFM segmentation and market-basket affinity

#: RFM quartile probabilities (3 edges -> 4 score levels per dimension).
RFM_QS = (0.25, 0.50, 0.75)

#: minimum pair co-occurrence to report (prunes the noise floor BEFORE
#: the stat joins; at sf0.001 the corpus may legitimately have no pair
#: clearing it, and the oracle agrees).
BASKET_MIN_CO = 2


@register(
    "rfm_segmentation",
    survey="ext-stats,A6,A8,A11,F5",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey, MAX(o_orderdate) AS last_dt, COUNT(*) AS freq,
               {dsum_sql('o_totalprice')} AS money
        FROM orders GROUP BY 1
    ), maxd AS (SELECT MAX(o_orderdate) AS d FROM orders),
    base AS (
        SELECT o_custkey, CAST(date_diff('day', last_dt, d) AS BIGINT) AS rec,
               freq, money
        FROM cust, maxd
    ), e AS (
        SELECT ROUND(quantile_cont(rec,  0.25), 6) AS re1,
               ROUND(quantile_cont(rec,  0.50), 6) AS re2,
               ROUND(quantile_cont(rec,  0.75), 6) AS re3,
               ROUND(quantile_cont(freq, 0.25), 6) AS fe1,
               ROUND(quantile_cont(freq, 0.50), 6) AS fe2,
               ROUND(quantile_cont(freq, 0.75), 6) AS fe3,
               ROUND(quantile_cont(money, 0.25), 6) AS me1,
               ROUND(quantile_cont(money, 0.50), 6) AS me2,
               ROUND(quantile_cont(money, 0.75), 6) AS me3
        FROM base
    )
    SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
           {dsum_sql("money")} AS total_revenue
    FROM (
        SELECT CASE WHEN rec <= re1 THEN 4 WHEN rec <= re2 THEN 3
                    WHEN rec <= re3 THEN 2 ELSE 1 END AS r_score,
               CASE WHEN freq <= fe1 THEN 1 WHEN freq <= fe2 THEN 2
                    WHEN freq <= fe3 THEN 3 ELSE 4 END AS f_score,
               CASE WHEN money <= me1 THEN 1 WHEN money <= me2 THEN 2
                    WHEN money <= me3 THEN 3 ELSE 4 END AS m_score,
               money
        FROM base, e
    ) GROUP BY 1, 2, 3
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic warehouse scoring model:
    per customer, Recency (days since last order, lower is better),
    Frequency (order count) and Monetary (exact-decimal revenue), each
    discretized into quartile scores 1-4 against corpus-wide edges, then
    rolled up to segment cells with exact revenue totals. Edges are
    rounded 6dp on both engines before any comparison (repo float
    convention); recency/frequency comparisons run on exact integers.

    Plan shape: one map-combinable per-customer aggregate; a 1-row
    global max-date broadcast; ONE array-percentile aggregate for all
    nine quartile edges (single buffer per dimension, see
    quantile_binning); the 1-row edge frame broadcast back over the
    customer aggregate; one final tiny-key-space rollup. No global
    windows anywhere — scoring is a scalar-cutoff CASE, which is what
    keeps RFM embarrassingly parallel at 100 TB (swap exact percentile
    for approx_percentile and nothing else changes)."""
    t = load_tables(spark, sf_dir, ("orders",))
    o = t["orders"]
    cust = (o.groupBy("o_custkey")
            .agg(F.max("o_orderdate").alias("last_dt"),
                 F.count("*").alias("freq"),
                 dsum("o_totalprice").alias("money")))
    maxd = o.agg(F.max("o_orderdate").alias("d"))
    base = (cust.crossJoin(F.broadcast(maxd))
            .select("o_custkey",
                    F.datediff("d", "last_dt").cast("long").alias("rec"),
                    "freq", "money"))
    qarr = F.array(*[F.lit(q) for q in RFM_QS])
    edges = base.agg(F.percentile("rec", qarr).alias("re"),
                     F.percentile("freq", qarr).alias("fe"),
                     F.percentile("money", qarr).alias("me"))
    e = edges.select(*[F.round(F.col(c)[i], 6).alias(f"{c}{i + 1}")
                       for c in ("re", "fe", "me") for i in range(3)])
    r = (F.when(F.col("rec") <= F.col("re1"), 4)
         .when(F.col("rec") <= F.col("re2"), 3)
         .when(F.col("rec") <= F.col("re3"), 2).otherwise(1))
    f_ = (F.when(F.col("freq") <= F.col("fe1"), 1)
          .when(F.col("freq") <= F.col("fe2"), 2)
          .when(F.col("freq") <= F.col("fe3"), 3).otherwise(4))
    m = (F.when(F.col("money") <= F.col("me1"), 1)
         .when(F.col("money") <= F.col("me2"), 2)
         .when(F.col("money") <= F.col("me3"), 3).otherwise(4))
    return (base.crossJoin(F.broadcast(e))
            .select(r.alias("r_score"), f_.alias("f_score"),
                    m.alias("m_score"), "money")
            .groupBy("r_score", "f_score", "m_score")
            .agg(F.count("*").alias("n_customers"),
                 dsum("money").alias("total_revenue")))


@register(
    "basket_affinity",
    survey="ext-stats,J1,A2,A6,W6",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    item AS (SELECT l_partkey, COUNT(*) AS c FROM li GROUP BY 1),
    pair AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS co
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
    SELECT part_a, part_b, CAST(co AS BIGINT) AS n_cooccur,
           ROUND(co * 1.0 / n_orders, 6) AS support,
           ROUND((co * 1.0 * n_orders) / (ia.c * ib.c), 6) AS lift
    FROM pair
    JOIN item ia ON ia.l_partkey = part_a
    JOIN item ib ON ib.l_partkey = part_b
    CROSS JOIN n
    WHERE co >= {BASKET_MIN_CO}
    ORDER BY ROUND((co * 1.0 * n_orders) / (ia.c * ib.c), 6) DESC,
             part_a, part_b
    LIMIT 20
    """,
)
def basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: top-20 part pairs by lift — the
    co-purchase signal behind "frequently bought together". Support =
    co-occurring orders / total orders; lift = P(a,b)/(P(a)·P(b)),
    computed from exact integer counts with ONE final division, so the
    6dp rounding is deterministic on both engines; the ordering
    (lift desc, then both keys) is total, so the LIMIT cut is too.

    Plan shape: project + distinct to (order, part) pairs, self-join on
    the order key (one hash shuffle; pair fan-out is bounded by
    basket_size² per order — baskets are small by nature, the join
    never goes quadratic in the corpus), map-combinable pair counts
    pruned by the support floor BEFORE the stat joins, item stats
    broadcast (part-dimension-sized), 1-row order-count broadcast, and
    a TakeOrderedAndProject for the top-20 (no global sort). The exact
    shape of distributed frequent-pair mining's counting step (the
    A-Priori candidate pass)."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = (t["lineitem"].select("l_orderkey", "l_partkey").distinct())
    n = t["lineitem"].agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = li.groupBy("l_partkey").agg(F.count("*").alias("c"))
    a, b = li.alias("a"), li.alias("b")
    pair = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                   & (F.col("a.l_partkey") < F.col("b.l_partkey")))
            .groupBy(F.col("a.l_partkey").alias("part_a"),
                     F.col("b.l_partkey").alias("part_b"))
            .agg(F.count("*").alias("co"))
            .filter(F.col("co") >= BASKET_MIN_CO))
    ia = F.broadcast(item.select(F.col("l_partkey").alias("part_a"),
                                 F.col("c").alias("ca")))
    ib = F.broadcast(item.select(F.col("l_partkey").alias("part_b"),
                                 F.col("c").alias("cb")))
    lift = F.round((F.col("co") * 1.0 * F.col("n_orders"))
                   / (F.col("ca") * F.col("cb")), 6)
    return (pair.join(ia, "part_a").join(ib, "part_b")
            .crossJoin(F.broadcast(n))
            .select("part_a", "part_b",
                    F.col("co").cast("long").alias("n_cooccur"),
                    F.round(F.col("co") * 1.0 / F.col("n_orders"), 6)
                     .alias("support"),
                    lift.alias("lift"))
            .orderBy(F.col("lift").desc(), "part_a", "part_b")
            .limit(20))


@register(
    "purge_cascade_report",
    survey="ext-warehouse,J7,A1,D2",
    oracle="""
    WITH subject AS (
        SELECT MIN(o_custkey) AS k FROM orders
    ), ords AS (
        SELECT o_orderkey FROM orders CROSS JOIN subject
        WHERE o_custkey = subject.k
    )
    SELECT 'customer' AS tbl,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_before,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer CROSS JOIN subject
            WHERE c_custkey = subject.k) AS n_removed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer CROSS JOIN subject
            WHERE c_custkey <> subject.k) AS n_after
    UNION ALL
    SELECT 'orders',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ords),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders CROSS JOIN subject
            WHERE o_custkey <> subject.k)
    UNION ALL
    SELECT 'lineitem',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM ords)),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
            WHERE l_orderkey NOT IN (SELECT o_orderkey FROM ords))
    """,
)
def purge_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade audit: for one data subject (the
    lowest customer key with orders — deterministic), the rows that a
    compliant purge removes from each table in referential order
    (customer → orders → lineitem via the subject's order keys), with
    before/removed/after counts per table — the dry-run report a
    warehouse runs before executing a GDPR/CCPA deletion, and the
    verification query it runs after.

    Engine shape: the subject is one collected scalar; the subject's
    order-key set rides a BROADCAST left-anti/semi join pair per fact
    table (never a shuffle of the fact side), counts are map-
    combinable. NOT IN in the oracle is safe here because the inner
    set is a projection of non-null keys — the dq_constraint_report
    NULL lesson applied. At 100 TB the same anti-join drives the
    actual rewrite (overwrite partitions that contain hits; partition
    pruning on the date/bucket columns bounds the rewrite set)."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    subject = t["orders"].agg(F.min("o_custkey")).first()[0]
    ords = (t["orders"].filter(F.col("o_custkey") == subject)
            .select("o_orderkey").localCheckpoint(eager=False))

    # r13: one map-combinable conditional aggregate per table instead
    # of 2 driver-side count() jobs each (6 scheduled jobs -> the three
    # aggregates union into ONE action; same exact integer counts,
    # n_after = n_before - n_removed as before). The lineitem hit count
    # rides a broadcast LEFT join on the subject's order keys —
    # o_orderkey is the orders primary key (unique), so the match count
    # equals the former leftsemi count row for row.
    def report(name: str, df: DataFrame, hit) -> DataFrame:
        return (df.agg(F.count(F.lit(1)).alias("n_before"),
                       F.sum(hit.cast("long")).alias("n_removed"))
                .select(F.lit(name).alias("tbl"),
                        F.col("n_before").cast("long"),
                        F.coalesce(F.col("n_removed"), F.lit(0))
                        .cast("long").alias("n_removed"),
                        (F.col("n_before")
                         - F.coalesce(F.col("n_removed"), F.lit(0)))
                        .cast("long").alias("n_after")))

    cust = report("customer", t["customer"],
                  F.col("c_custkey") == subject)
    orde = report("orders", t["orders"],
                  F.col("o_custkey") == subject)
    li = report("lineitem",
                t["lineitem"].join(
                    F.broadcast(ords),
                    F.col("l_orderkey") == F.col("o_orderkey"), "left"),
                F.col("o_orderkey").isNotNull())
    return cust.unionByName(orde).unionByName(li)


# ---------------------------------------------------------------------------
# small-file compaction planning
# ---------------------------------------------------------------------------

#: target compacted output size (bytes) — files pack into bins of this
#: size, per table-partition (year), mirroring Iceberg/Delta OPTIMIZE
#: bin-packing defaults scaled to the synthetic inventory.
COMPACT_TARGET_BYTES = 256 * 1024
#: synthetic bytes-per-row for the derived file inventory.
COMPACT_ROW_BYTES = 150


@register(
    "compaction_plan",
    survey="ext-lakehouse,A7,W1,P12",
    oracle=f"""
    WITH files AS (
        SELECT date_trunc('month', o_orderdate) AS file_month,
               CAST(COUNT(*) * {COMPACT_ROW_BYTES} AS BIGINT) AS size_bytes
        FROM orders GROUP BY 1
    ), planned AS (
        SELECT file_month, size_bytes,
               CAST(EXTRACT(year FROM file_month) AS INT) AS part_year,
               COALESCE(SUM(size_bytes) OVER (
                   PARTITION BY EXTRACT(year FROM file_month)
                   ORDER BY file_month
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS offset_bytes
        FROM files
    )
    SELECT file_month, part_year, size_bytes,
           CAST(offset_bytes AS BIGINT) AS offset_bytes,
           CAST(offset_bytes // {COMPACT_TARGET_BYTES} AS BIGINT) AS bin_id
    FROM planned
    """,
)
def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the OPTIMIZE/bin-packing step
    every parquet lakehouse runs (Delta OPTIMIZE, Iceberg
    rewrite_data_files): given a file inventory (derived here as one
    'file' per order month, sized at rows × {COMPACT_ROW_BYTES}B;
    against a real metastore the same plan runs off the file listing),
    assign files to target-size output bins by running offset —
    files whose cumulative start offset falls in the same
    {COMPACT_TARGET_BYTES}-byte stripe rewrite together.

    The running offset partitions by the table's partition column
    (year): compaction NEVER merges across partition boundaries (it
    would break partition pruning), which is also exactly what keeps
    the prefix-sum window partitioned — no global sort at any scale,
    ≤12 file rows per window partition here, |files-per-partition| in
    general. Everything is integer arithmetic; the plan is
    deterministic and auditable (offset + bin per file)."""
    t = load_tables(spark, sf_dir, ("orders",))
    files = (t["orders"]
             .groupBy(F.date_trunc("month", F.col("o_orderdate"))
                      .alias("file_month"))
             .agg((F.count("*") * COMPACT_ROW_BYTES).alias("size_bytes")))
    part_year = F.year("file_month").cast("int")
    w = (W.partitionBy(part_year).orderBy("file_month")
         .rowsBetween(W.unboundedPreceding, -1))
    planned = files.select(
        "file_month", part_year.alias("part_year"), "size_bytes",
        F.coalesce(F.sum("size_bytes").over(w), F.lit(0))
         .alias("offset_bytes"))
    return planned.select(
        "file_month", "part_year", "size_bytes", "offset_bytes",
        F.expr(f"offset_bytes div {COMPACT_TARGET_BYTES}").alias("bin_id"))


# ---------------------------------------------------------------------------
# schema evolution: mergeSchema read across snapshot generations
# ---------------------------------------------------------------------------

@register(
    "schema_evolution_merge",
    survey="ext-lakehouse,S4,P12,A12",
    oracle="""
    WITH v1 AS (
        SELECT c_custkey, c_mktsegment
        FROM customer WHERE c_custkey % 2 = 0
    ), v2 AS (
        SELECT c_custkey, c_mktsegment, c_acctbal AS balance
        FROM customer WHERE c_custkey % 2 = 1
    ), unioned AS (
        SELECT c_custkey, c_mktsegment, NULL AS balance, 1 AS gen FROM v1
        UNION ALL
        SELECT c_custkey, c_mktsegment, balance, 2 AS gen FROM v2
    )
    SELECT CAST(gen AS INT) AS gen,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(balance) AS BIGINT) AS n_balance_present,
           CAST(COUNT(*) - COUNT(balance) AS BIGINT) AS n_balance_null
    FROM unioned GROUP BY gen
    """,
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read — the lakehouse reality that a table's
    parquet files span generations with DIFFERENT schemas (a column
    added mid-stream) and the reader must widen old files with nulls
    instead of failing: generation 1 (even customer keys) is written
    WITHOUT the balance column, generation 2 (odd keys) WITH it, into
    one directory; `spark.read.option("mergeSchema", true)` then
    reconciles the footers into the union schema. The report proves
    the null-fill contract: every gen-1 row reads balance as NULL,
    every gen-2 row keeps its value.

    The snapshot files are derived deterministically from the
    customer dim and written once per customer-table content
    (footer fingerprint) as a train-once warehouse artifact, like the
    IVF/PQ codebooks.
    Scale: mergeSchema is footer-only work at planning time — the
    data path still prunes columns per file; at 100 TB you cap footer
    sampling via spark.sql.files.* or keep the canonical schema in a
    metastore and pass it explicitly (both shapes read the same)."""
    import os
    cust = load_tables(spark, sf_dir, ("customer",))["customer"]

    def build(path: str) -> None:
        (cust.filter(F.col("c_custkey") % 2 == 0)
         .select("c_custkey", "c_mktsegment")
         .coalesce(1)
         .write.mode("overwrite").parquet(os.path.join(path, "gen=1")))
        (cust.filter(F.col("c_custkey") % 2 == 1)
         .select("c_custkey", "c_mktsegment",
                 F.col("c_acctbal").alias("balance"))
         .coalesce(1)
         .write.mode("overwrite").parquet(os.path.join(path, "gen=2")))

    out_dir = ensure(artifact_path(sf_dir, "schema_evo", table="customer"),
                     build)
    merged = (spark.read.option("mergeSchema", "true")
              .option("basePath", out_dir)
              .parquet(os.path.join(out_dir, "gen=1"),
                       os.path.join(out_dir, "gen=2")))
    gen = (F.when(F.col("c_custkey") % 2 == 0, 1).otherwise(2)
           .cast("int"))
    return (merged
            .select(gen.alias("gen"), "balance")
            .groupBy("gen")
            .agg(F.count("*").alias("n_rows"),
                 F.count("balance").alias("n_balance_present"),
                 (F.count("*") - F.count("balance")).cast("long")
                 .alias("n_balance_null")))


# ---------------------------------------------------------------------------
# order-independent table checksum (anti-entropy verification)
# ---------------------------------------------------------------------------

@register(
    "table_checksum_orders",
    survey="ext-warehouse,A1,F1,D1",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           bit_xor(CAST(('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(o_custkey AS VARCHAR) || '|' ||
               CAST(CAST(o_totalprice AS DECIMAL(25,2)) AS VARCHAR)
               || '|' ||
               CAST(CAST(o_orderdate AS DATE) AS VARCHAR) || '|' ||
               o_orderpriority), 1, 15)) AS BIGINT)) AS xor_checksum
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def table_checksum_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum of the orders table, one
    per status partition — the anti-entropy primitive every
    replicated/migrated warehouse needs: two sides compute XOR of a
    per-row digest and compare ONE number per partition; any
    dropped, duplicated, or bit-flipped row flips the checksum
    (XOR is commutative/associative, so row order, partitioning, and
    merge topology are all irrelevant — the property a SUM-based
    checksum only gets modulo overflow, and a collected sort would
    get at driver-size cost). This engine↔DuckDB hash-match IS the
    cross-system migration check run for real.

    Determinism plumbing: each row serializes through a canonical
    form first — money via DECIMAL(25,2) text (double→string
    formatting differs between engines), dates via DATE text, keys
    via integer text — then md5, then the first 15 hex digits as a
    60-bit int (the repo's conv/md5 convention, always positive in
    an int64). Scale: one map-side-combinable aggregate, 3 result
    rows, zero joins; the digest work is embarrassingly parallel."""
    t = load_tables(spark, sf_dir, ("orders",))
    # F.concat, not concat_ws: the oracle's `||` NULL-propagates, and
    # concat_ws silently SKIPS nulls — on a dirty row the two sides
    # would checksum different serializations. concat makes a null
    # column null out the digest identically on both engines (bit_xor
    # ignores nulls on both), so a dirty row degrades loudly via the
    # n_rows/xor mismatch instead of silently diverging.
    sep = F.lit("|")
    row = F.concat(
        F.col("o_orderkey").cast("string"), sep,
        F.col("o_custkey").cast("string"), sep,
        F.col("o_totalprice").cast("decimal(25,2)").cast("string"), sep,
        F.col("o_orderdate").cast("date").cast("string"), sep,
        F.col("o_orderpriority"))
    h = md5_int(row, 15)
    return (t["orders"]
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n_rows"),
                 F.bit_xor(h).alias("xor_checksum")))


# ---------------------------------------------------------------------------
# zone-map pruning effectiveness — does the layout actually skip?
# ---------------------------------------------------------------------------

#: blocks for the unclustered layout (row-group proxy).
ZM_BLOCKS = 64
#: month-range probe workload the zone maps are scored against.
ZM_QUERY_MONTHS = ("1995-03-01", "1996-08-01", "1998-01-01",
                   "2000-06-01")


def _zm_oracle() -> str:
    months = ", ".join(f"DATE '{m}'" for m in ZM_QUERY_MONTHS)
    return f"""
    WITH base AS (
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
        FROM orders
    ), blocks AS (
        SELECT 'unclustered' AS layout,
               CAST(o_orderkey % {ZM_BLOCKS} AS BIGINT) AS block, d
        FROM base
        UNION ALL
        SELECT 'date_clustered',
               CAST((EXTRACT(year FROM d) * 12
                     + EXTRACT(month FROM d)) AS BIGINT), d
        FROM base
    ), zone AS (
        SELECT layout, block, MIN(d) AS lo, MAX(d) AS hi,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM blocks GROUP BY 1, 2
    ), q AS (
        SELECT q_start, q_start + INTERVAL 1 MONTH AS q_end
        FROM (SELECT unnest([{months}]) AS q_start)
    ), probe AS (
        SELECT z.layout, q.q_start,
               CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(SUM(CASE WHEN z.lo < q.q_end AND z.hi >= q.q_start
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS scanned_blocks,
               CAST(SUM(CASE WHEN z.lo < q.q_end AND z.hi >= q.q_start
                             THEN z.n_rows ELSE 0 END) AS BIGINT)
                   AS scanned_rows
        FROM zone z CROSS JOIN q
        GROUP BY 1, 2
    ), match AS (
        SELECT b.layout, q.q_start,
               CAST(COUNT(*) AS BIGINT) AS matching_rows
        FROM blocks b JOIN q
          ON b.d >= q.q_start AND b.d < q.q_end
        GROUP BY 1, 2
    )
    SELECT p.layout, CAST(p.q_start AS DATE) AS q_month,
           p.n_blocks, p.scanned_blocks, p.scanned_rows,
           COALESCE(m.matching_rows, 0) AS matching_rows,
           {fround_sql("p.scanned_blocks * 1e0 / p.n_blocks")} AS scan_share
    FROM probe p LEFT JOIN match m
      ON m.layout = p.layout AND m.q_start = p.q_start
    """


@register(
    "zonemap_pruning_eval",
    survey="ext-layout,A6,A8,J1,F9",
    oracle=_zm_oracle(),
)
def zonemap_pruning_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZONE-MAP pruning effectiveness — the measurement behind every
    layout decision (`zorder_layout` plans a layout; this scores one):
    build per-block min/max footers for two layouts of the same table
    (unclustered: key-scattered blocks, the shape of insertion-order
    ingest; date-clustered: month blocks, the shape after OPTIMIZE /
    sortWithinPartitions), then replay a month-range probe workload
    against the footers and count which blocks a scan could SKIP. On
    the clustered layout scan_share collapses to ~1/n_months; on the
    unclustered one every block straddles every month (min/max spans
    everything) and nothing prunes — the quantified argument for
    paying the clustering write cost, and exactly what the engine's
    own parquet scans do with footer stats (test_plans pins pushdown;
    this op prices it).

    Exactness: dates and counts are integers; the only float is the
    final share (1e-6 snap). Plan: one narrow block-assignment map,
    one (layout, block) min/max/count aggregate (map-combinable,
    block-bounded output), a 4-row broadcast probe join, plus one
    direct selectivity aggregate for ground truth — the fact is
    scanned twice, nothing wider than the zone table shuffles."""
    t = load_tables(spark, sf_dir, ("orders",))
    base = t["orders"].select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("d"))
    blocks = (base.select(
        F.lit("unclustered").alias("layout"),
        (F.col("o_orderkey") % ZM_BLOCKS).cast("long").alias("block"),
        "d")
        .unionByName(base.select(
            F.lit("date_clustered").alias("layout"),
            (F.year("d") * 12 + F.month("d")).cast("long")
            .alias("block"), "d")))
    zone = (blocks.groupBy("layout", "block")
            .agg(F.min("d").alias("lo"), F.max("d").alias("hi"),
                 F.count("*").alias("n_rows")))
    q = driver.local_frame(spark, [(m,) for m in ZM_QUERY_MONTHS],
                           "q_start string") \
        .select(F.col("q_start").cast("date").alias("q_start")) \
        .withColumn("q_end", F.add_months("q_start", 1))
    hit = (F.col("lo") < F.col("q_end")) & (F.col("hi") >= F.col("q_start"))
    probe = (zone.crossJoin(F.broadcast(q))
             .groupBy("layout", "q_start")
             .agg(F.count("*").alias("n_blocks"),
                  F.sum(hit.cast("long")).alias("scanned_blocks"),
                  F.sum(F.when(hit, F.col("n_rows")).otherwise(0))
                  .cast("long").alias("scanned_rows")))
    match = (blocks.join(F.broadcast(q),
                         (F.col("d") >= F.col("q_start"))
                         & (F.col("d") < F.col("q_end")))
             .groupBy("layout", "q_start")
             .agg(F.count("*").alias("matching_rows")))
    return (probe.join(match, ["layout", "q_start"], "left")
            .select("layout", F.col("q_start").alias("q_month"),
                    F.col("n_blocks").cast("long").alias("n_blocks"),
                    "scanned_blocks", "scanned_rows",
                    F.coalesce(F.col("matching_rows"), F.lit(0))
                    .cast("long").alias("matching_rows"),
                    fround(F.col("scanned_blocks") * F.lit(1.0)
                           / F.col("n_blocks"))
                    .alias("scan_share")))


# ---------------------------------------------------------------------------
# column-encoding size estimation — pick the codec from the statistics
# ---------------------------------------------------------------------------

#: columns profiled: (column, plain bytes per value).
ENC_COLUMNS = (("l_returnflag", 1), ("l_linestatus", 1),
               ("l_shipdate", 8), ("l_quantity", 8), ("l_suppkey", 8))


def _enc_oracle() -> str:
    parts = []
    ent = decimal_sum_sql("ent_term", "decimal(25,9)")
    for col, width in ENC_COLUMNS:
        parts.append(f"""
    SELECT '{col}' AS col,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           {fround_sql(ent)} AS entropy_bits,
           CAST(SUM(c) * {width} AS BIGINT) AS plain_bytes,
           CAST(CAST(CEIL(SUM(c) * CEIL({fround_sql("LN(COUNT(*) + 1)"
                                                    " / LN(2e0)", 9)})
                          / 8e0) AS BIGINT)
                + COUNT(*) * {width} AS BIGINT) AS dict_bytes,
           CAST(CEIL(SUM(c) * ({fround_sql(ent)})
                     / 8e0) AS BIGINT) AS entropy_floor_bytes
    FROM (
        SELECT c, ROUND(-(c * 1e0 / SUM(c) OVER ())
                        * LN(c * 1e0 / SUM(c) OVER ()) / LN(2e0),
                        9) AS ent_term
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c
              FROM lineitem GROUP BY {col}) h
    ) e""")
    return " UNION ALL ".join(parts)


@register(
    "encoding_size_estimate",
    survey="ext-layout,A2,A6,F10",
    oracle=_enc_oracle(),
)
def encoding_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN-ENCODING size estimation from sufficient statistics —
    the storage-codec decision (plain vs dictionary+bit-packing) read
    straight off each column's value histogram, plus the Shannon
    entropy floor no lossless codec can beat (n·H/8 bytes): flag
    columns (~1.5 bits) dictionary-encode ~5×, keys near log2(n) bits
    don't — the per-column numbers behind a parquet writer's encoding
    choices and the capacity planning every 100 TB table layout
    starts from (complements `zonemap_pruning_eval`: that prices
    scan-time skipping, this prices the bytes at rest).

    Exactness: histograms are integer; entropy terms snap LN ratios
    to the 1e-9 grid and DECIMAL-sum; the byte estimates are CEIL of
    shared-text expressions over integers and the snapped entropy.
    The oracle's OVER () is a per-column scalar total the engine gets
    from a grouped sum — value-histogram-sized, never a row window.
    Plan: one map-combinable groupBy per column (Catalyst shares the
    scan), each output bounded by that column's cardinality."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = t["lineitem"]
    outs = []
    ln2 = F.log(F.lit(2.0))
    for col, width in ENC_COLUMNS:
        h = li.groupBy(col).agg(F.count("*").alias("c"))
        tot = h.agg(F.sum("c").alias("n"))
        p = F.col("c") * F.lit(1.0) / F.col("n")
        ent_term = F.round(-p * F.log(p) / ln2, 9)
        ent = (h.crossJoin(F.broadcast(tot))
               .agg(decimal_sum(ent_term, "decimal(25,9)").alias("ent"),
                    F.max("n").alias("n_rows"),
                    F.count("*").alias("n_distinct")))
        eb = fround(F.col("ent").cast("double"))
        # snap the log ratio to the 1e-9 grid BEFORE the integer-valued
        # CEIL: at exact powers of two (l_returnflag: 3+1=4) a 1-ulp
        # JVM-vs-DuckDB libm divergence would otherwise flip CEIL by a
        # whole bit-per-value (advice r9) — same snap-before-deciding
        # discipline as every other float-derived decision here
        bits = F.ceil(fround(F.log(F.col("n_distinct") + F.lit(1.0)) / ln2,
                             9))
        outs.append(ent.select(
            F.lit(col).alias("col"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            eb.alias("entropy_bits"),
            (F.col("n_rows") * width).cast("long").alias("plain_bytes"),
            (F.ceil(F.col("n_rows") * bits / F.lit(8.0)).cast("long")
             + F.col("n_distinct") * width).cast("long")
            .alias("dict_bytes"),
            F.ceil(F.col("n_rows") * eb / F.lit(8.0)).cast("long")
            .alias("entropy_floor_bytes")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
