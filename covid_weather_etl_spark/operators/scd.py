"""Slowly-changing-dimension maintenance (warehouse MERGE patterns).

The reference's warehouse keeps dimensions current-state-only via
get-or-create (`database/operations.py:63-85` — INSERT ... ON CONFLICT
DO NOTHING); any history is lost on update. This module adds the SCD
Type 2 merge a Postgres-warehouse user upgrades to: each dimension key
keeps a timeline of versions with [valid_from, valid_to) effective
ranges and an is_current flag.

Spark-first shape: MERGE is not an UPDATE-in-place here — it is one
joined scan that EXPLODES each changed row into its closed-out old
version and its new open version (array-of-structs + explode), and
passes unchanged rows through. One broadcast join + one narrow explode:
no second scan of the dimension, no driver loop.

Scale notes (100 TB): the update batch is small relative to the
dimension (broadcast); a dimension too big for one executor's memory is
untouched — the join is on the key only and the explode is narrow. If
the update batch ever rivals the dimension, the same plan runs as a
shuffle-hash join on the key. Writing the result partitioned by
is_current keeps the hot current-slice scan pruned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_weather_etl_spark.functions.numeric import dsum, dsum_sql
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables

GENESIS = "1990-01-01"   # valid_from of every initial version
EFFECTIVE = "2000-06-01"  # effective date of the simulated update batch

# The testdata is static, so the update batch is derived
# deterministically: every 7th customer moves to the next market
# segment in alphabetical order. Both engines derive the same batch.
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_NEXT_SEG_SQL = "CASE c_mktsegment " + " ".join(
    f"WHEN '{s}' THEN '{SEGMENTS[(i + 1) % len(SEGMENTS)]}'"
    for i, s in enumerate(SEGMENTS)) + " END"


@register(
    "scd2_dim_history",
    survey="ext-scd,J8,J9,P10",
    oracle=f"""
    WITH upd AS (
        SELECT c_custkey, {_NEXT_SEG_SQL} AS new_segment
        FROM customer WHERE c_custkey % 7 = 0
    ),
    merged AS (
        SELECT c.c_custkey, c.c_mktsegment AS segment,
               DATE '{GENESIS}' AS valid_from,
               CASE WHEN u.c_custkey IS NOT NULL
                    THEN DATE '{EFFECTIVE}' END AS valid_to,
               u.c_custkey IS NULL AS is_current,
               1 AS version
        FROM customer c LEFT JOIN upd u ON c.c_custkey = u.c_custkey
        UNION ALL
        SELECT c_custkey, new_segment, DATE '{EFFECTIVE}', NULL, TRUE, 2
        FROM upd
    )
    SELECT c_custkey, segment, valid_from, valid_to, is_current,
           CAST(version AS INT) AS version
    FROM merged
    """,
)
def scd2_dim_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 merge of an update batch into the customer dimension:
    changed keys get their version-1 row closed out (valid_to set,
    is_current dropped) AND a version-2 row opened; untouched keys pass
    through. One broadcast left join, then each matched row explodes
    into its two output versions via array-of-structs — single scan,
    no UPDATE-in-place, no second pass."""
    t = load_tables(spark, sf_dir, ("customer",))
    cust = t["customer"]
    nxt = F.expr(_NEXT_SEG_SQL)
    upd = (cust.filter(F.col("c_custkey") % 7 == 0)
           .select(F.col("c_custkey").alias("u_custkey"),
                   nxt.alias("new_segment")))

    genesis = F.to_date(F.lit(GENESIS))
    effective = F.to_date(F.lit(EFFECTIVE))
    null_date = F.lit(None).cast("date")

    def ver(segment, valid_from, valid_to, is_current, version):
        return F.struct(
            segment.alias("segment"),
            valid_from.alias("valid_from"),
            valid_to.alias("valid_to"),
            is_current.alias("is_current"),
            F.lit(version).cast("int").alias("version"),
        )

    changed = F.col("u_custkey").isNotNull()
    versions = F.when(changed, F.array(
        ver(F.col("c_mktsegment"), genesis, effective, F.lit(False), 1),
        ver(F.col("new_segment"), effective, null_date, F.lit(True), 2),
    )).otherwise(F.array(
        ver(F.col("c_mktsegment"), genesis, null_date, F.lit(True), 1),
    ))

    return (cust
            .join(F.broadcast(upd),
                  F.col("c_custkey") == F.col("u_custkey"), "left")
            .select("c_custkey", F.explode(versions).alias("v"))
            .select("c_custkey", "v.segment", "v.valid_from", "v.valid_to",
                    "v.is_current", "v.version"))


@register(
    "scd2_point_in_time",
    survey="ext-scd,P5,J1",
    oracle=f"""
    WITH upd AS (
        SELECT c_custkey, {_NEXT_SEG_SQL} AS new_segment
        FROM customer WHERE c_custkey % 7 = 0
    ),
    hist AS (
        SELECT c.c_custkey, c.c_mktsegment AS segment,
               DATE '{GENESIS}' AS valid_from,
               CASE WHEN u.c_custkey IS NOT NULL
                    THEN DATE '{EFFECTIVE}' END AS valid_to
        FROM customer c LEFT JOIN upd u ON c.c_custkey = u.c_custkey
        UNION ALL
        SELECT c_custkey, new_segment, DATE '{EFFECTIVE}', NULL FROM upd
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM hist
    WHERE valid_from <= DATE '1999-12-31'
      AND (valid_to IS NULL OR valid_to > DATE '1999-12-31')
    GROUP BY segment
    """,
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The query SCD2 exists to answer: dimension state AS OF a date.
    Filters the version timeline to rows whose [valid_from, valid_to)
    range covers 1999-12-31 — the day before the update batch — and
    aggregates per segment, proving the closed-out version-1 rows (not
    the current state) are what the as-of filter selects. The interval
    predicate is sargable: at scale it prunes partitions when the
    history table is stored partitioned on is_current / valid_to."""
    t = load_tables(spark, sf_dir, ("customer",))
    cust = t["customer"]
    nxt = F.expr(_NEXT_SEG_SQL)
    upd = (cust.filter(F.col("c_custkey") % 7 == 0)
           .select(F.col("c_custkey").alias("u_custkey"),
                   nxt.alias("new_segment")))
    effective = F.to_date(F.lit(EFFECTIVE))
    asof = F.to_date(F.lit("1999-12-31"))
    v1 = (cust.join(F.broadcast(upd),
                    F.col("c_custkey") == F.col("u_custkey"), "left")
          .select(F.col("c_mktsegment").alias("segment"),
                  F.to_date(F.lit(GENESIS)).alias("valid_from"),
                  F.when(F.col("u_custkey").isNotNull(), effective)
                   .alias("valid_to")))
    v2 = upd.select(F.col("new_segment").alias("segment"),
                    effective.alias("valid_from"),
                    F.lit(None).cast("date").alias("valid_to"))
    hist = v1.unionAll(v2)
    return (hist.filter((F.col("valid_from") <= asof)
                        & (F.col("valid_to").isNull()
                           | (F.col("valid_to") > asof)))
            .groupBy("segment")
            .agg(F.count("*").alias("n_customers")))


@register(
    "scd2_fact_join",
    survey="ext-scd,J1,P5,A6",
    oracle=f"""
    WITH upd AS (
        SELECT c_custkey, {_NEXT_SEG_SQL} AS new_segment
        FROM customer WHERE c_custkey % 7 = 0
    ),
    hist AS (
        SELECT c.c_custkey, c.c_mktsegment AS segment,
               DATE '{GENESIS}' AS valid_from,
               CASE WHEN u.c_custkey IS NOT NULL
                    THEN DATE '{EFFECTIVE}' END AS valid_to
        FROM customer c LEFT JOIN upd u ON c.c_custkey = u.c_custkey
        UNION ALL
        SELECT c_custkey, new_segment, DATE '{EFFECTIVE}', NULL
        FROM upd
    )
    SELECT h.segment,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS order_year,
           COUNT(*) AS n_orders,
           {dsum_sql("o.o_totalprice")} AS revenue
    FROM orders o
    JOIN hist h ON o.o_custkey = h.c_custkey
               AND h.valid_from <= CAST(o.o_orderdate AS DATE)
               AND (h.valid_to IS NULL
                    OR h.valid_to > CAST(o.o_orderdate AS DATE))
    GROUP BY 1, 2
    """,
)
def scd2_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical SCD2 fact→dimension temporal join: every order
    joins the customer-segment VERSION that was valid on its order
    date ([valid_from, valid_to) containment), then revenue rolls up
    by as-was segment × year — so a customer who moved segments at the
    {EFFECTIVE} batch splits their history correctly instead of being
    retroactively rewritten (the join `scd2_point_in_time` answers for
    ONE date, answered per-fact-row). Exactly one version matches per
    (custkey, date) because versions partition the timeline — pinned
    in tests via n_orders conservation.

    Plan: the version table is dim-sized (≤2 rows/key), so Spark runs
    a broadcast hash join on custkey with the range predicate as a
    cheap residual filter — the fact table never shuffles at all. At
    100 TB with a dimension too big to broadcast, the same query
    becomes a key-bucketed sort-merge join; the range residual is
    unchanged and per-key versions are contiguous in the sorted
    stream."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    hist = scd2_dim_history(spark, sf_dir).select(
        "c_custkey", "segment", "valid_from", "valid_to")
    o = t["orders"]
    od = F.col("o_orderdate").cast("date")
    cond = ((F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("valid_from") <= od)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > od)))
    return (o.join(F.broadcast(hist), cond)
            .groupBy("segment",
                     F.year("o_orderdate").cast("long").alias("order_year"))
            .agg(F.count("*").alias("n_orders"),
                 dsum("o_totalprice").alias("revenue")))
