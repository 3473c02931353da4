"""Temporal join operators — as-of join and binned interval join.

The reference has **no** range/as-of/interval joins (SURVEY.md §2.3:
"No cross joins, no theta-only joins, no range/as-of/interval joins"),
but any time-series warehouse at scale needs both; they are the natural
extension of the reference's per-country-per-day model (reference
`database/schema.py:67-100`) once event data stops arriving on a daily
grid. Both operators here are expressed so that the quadratic pair
space never materializes:

- **as-of join**: the classic "latest right row at-or-before each left
  row per key". A naive range join explodes to |L|·|R| per key; the
  scalable pattern is union-the-sides + a single keyed window with
  `last(..., ignorenulls=True)` — ONE shuffle on the key, linear work,
  no range explosion. This is how production Spark pipelines implement
  point-in-time correctness (feature stores, CDC snapshots).
- **binned interval join**: "all pairs within ±W of each other". The
  scalable pattern is bucketing time into width-W cells and exploding
  one side into its 3 candidate cells — the theta predicate becomes an
  equi-join on (key, cell) that Catalyst executes as a shuffled hash
  join, followed by the exact residual filter. Candidate pairs are
  bucket-local, so cost is Σ|cell|² instead of |L|·|R|.

Scale notes (100 TB): both plans shuffle exactly once on a composite
key whose cardinality grows with the data (user_id / type×cell), so
they parallelize across executors with no hot task; the as-of window
is per-user (bounded series length), and cell width trades candidate
count vs. residual-filter selectivity for the interval join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from covid_weather_etl_spark.functions import driver
from covid_weather_etl_spark.functions.numeric import (
    fround, fround_sql, grid_sum, grid_sum_sql, md5_int,
)
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables

#: interval half-width for the proximity join: 1 hour, in microseconds.
_HOUR_US = 3_600_000_000


@register(
    "asof_join_attribution",
    survey="ext-asof",
    oracle="""
    SELECT t.event_id, t.user_id, t.ts,
           c.event_id AS last_click_id,
           (epoch_us(t.ts) - epoch_us(c.ts)) / 1000000.0 AS secs_since_click
    FROM (SELECT * FROM events WHERE event_type = 'purchase') t
    ASOF LEFT JOIN (
        -- clicks pre-deduped to one row per (user_id, ts): DuckDB's ASOF
        -- picks an arbitrary row among tied c.ts, the engine picks the
        -- max click_id — collapsing ties makes both deterministic.
        SELECT user_id, ts, MAX(event_id) AS event_id
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ) c
      ON t.user_id = c.user_id AND t.ts >= c.ts
    """,
)
def asof_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every purchase event, the same user's most recent
    click at-or-before it (click attribution). Implemented as the
    union+window pattern: tag both sides, union, and take
    `last(click_id, ignorenulls=True)` over a window partitioned by
    user ordered by (ts, side) — clicks sort before a purchase at the
    same instant, so ties honor ts_click <= ts_purchase. One shuffle on
    user_id; no per-key range explosion (a naive range join is
    O(|clicks|·|purchases|) per user). Purchases with no prior click
    keep NULLs (left as-of). The oracle is DuckDB's native ASOF LEFT
    JOIN — an independent formulation of the same semantics.
    Edge semantics (same-instant tie, no-prior-click, latest-wins)
    pinned on synthetic frames in tests/test_temporal.py."""
    return asof_attribution(load_tables(spark, sf_dir, ("events",))["events"])


def asof_attribution(ev: DataFrame) -> DataFrame:
    """Core of asof_join_attribution over any events-shaped frame
    (event_id, user_id, event_type, ts)."""
    # One click row per (user_id, ts): among tied click timestamps the
    # max event_id wins, deterministically, on both engine and oracle.
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select(
            "user_id", "ts",
            F.lit(0).alias("side"),
            "click_id",
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id", "ts",
            F.lit(1).alias("side"),
            F.lit(None).cast("long").alias("click_id"),
            "event_id",
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side", "click_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = (
        clicks.unionByName(purchases)
        .withColumn("last_click_id", F.last("click_id", ignorenulls=True).over(w))
        .withColumn(
            "last_click_us",
            F.last(F.when(F.col("side") == 0, F.unix_micros("ts")),
                   ignorenulls=True).over(w),
        )
    )
    return (
        merged.filter(F.col("side") == 1)
        .select(
            "event_id", "user_id", "ts", "last_click_id",
            ((F.unix_micros("ts") - F.col("last_click_us")) / F.lit(1_000_000.0))
            .alias("secs_since_click"),
        )
    )


@register(
    "interval_join_proximity",
    survey="ext-range",
    oracle=f"""
    SELECT a.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(ABS(epoch_us(a.ts) - epoch_us(b.ts))) AS DOUBLE)
               / COUNT(*) / 1000000.0 AS avg_abs_delta_secs
    FROM events a
    JOIN events b
      ON a.event_type = b.event_type
     AND a.event_id < b.event_id
     AND ABS(epoch_us(a.ts) - epoch_us(b.ts)) <= {_HOUR_US}
    GROUP BY a.event_type
    """,
)
def interval_join_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned interval self-join: pairs of same-type events within one
    hour of each other, counted per type with the mean absolute gap.
    Scale path: bucket ts into 1-hour cells (`us div W`); a pair within
    W is always within ±1 cell, so exploding the left side into its 3
    candidate cells turns the theta join into an equi-join on
    (event_type, cell) + an exact residual filter. Each pair matches
    exactly once (the right row's single cell hits exactly one of the
    left's 3 candidates), so no post-dedup is needed. The oracle is the
    plain quadratic theta join in DuckDB. The gap average runs over
    exact integer microseconds (one deterministic double division at
    the end), so the hash comparison is bit-exact. Boundary semantics
    (pair at exactly ±W in, W+1µs out, adjacent-cell pairs found)
    pinned in tests/test_temporal.py."""
    return interval_proximity(load_tables(spark, sf_dir, ("events",))["events"])


def interval_proximity(events: DataFrame) -> DataFrame:
    """Core of interval_join_proximity over any events-shaped frame."""
    ev = (
        events
        .select("event_id", "event_type", F.unix_micros("ts").alias("us"))
        .withColumn("cell", F.expr(f"us div {_HOUR_US}"))
    )
    left = ev.withColumn(
        "cand", F.explode(F.array(F.col("cell") - 1, F.col("cell"), F.col("cell") + 1))
    ).select(
        F.col("event_type").alias("a_type"),
        F.col("event_id").alias("a_id"),
        F.col("us").alias("a_us"),
        "cand",
    )
    right = ev.select(
        F.col("event_type").alias("b_type"),
        F.col("event_id").alias("b_id"),
        F.col("us").alias("b_us"),
        "cell",
    )
    pairs = left.join(
        right,
        (F.col("a_type") == F.col("b_type"))
        & (F.col("cand") == F.col("cell"))
        & (F.col("a_id") < F.col("b_id"))
        & (F.abs(F.col("a_us") - F.col("b_us")) <= _HOUR_US),
    )
    return (
        pairs.groupBy(F.col("a_type").alias("event_type"))
        .agg(
            F.count("*").alias("n_pairs"),
            (F.sum(F.abs(F.col("a_us") - F.col("b_us"))).cast("double")
             / F.count("*") / F.lit(1_000_000.0)).alias("avg_abs_delta_secs"),
        )
    )


# ---------------------------------------------------------------------------
# time-weighted average over irregular observations
# ---------------------------------------------------------------------------

@register(
    "time_weighted_average",
    survey="ext-timeseries,W1,W2,A9",
    oracle=f"""
    WITH seg AS (
        SELECT user_id, value,
               epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id))
               - epoch_us(ts) AS dt_us
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(dt_us) AS BIGINT) AS n_segments,
           {fround_sql(grid_sum_sql("value * dt_us", 2)
                       + " / CAST(SUM(dt_us) AS DOUBLE)")} AS twa_value
    FROM seg
    WHERE dt_us IS NOT NULL
    GROUP BY user_id
    """,
)
def time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of an irregularly-sampled series — each
    observation's value held until the NEXT observation, weighted by
    how long it was in force (the standard TWAP/sensor-mean, which a
    plain AVG gets wrong the moment sampling is uneven: a burst of
    identical readings must not outvote one long-lived one). Beyond
    the reference's daily-grid model (`database/schema.py:67-100`,
    one row per country-day needs no weighting) but required the
    moment data arrives event-at-a-time.

    Per user: LEAD(ts) over (user, ts, event_id) — the id tiebreak
    makes the segment order deterministic on ties — gives each
    observation's holding interval in exact integer microseconds;
    the last observation has no successor and drops out (standard
    right-open convention). value·Δt accumulates as DECIMAL so the
    weighted sum is accumulation-order-exact; the single division
    happens once per user.

    Scale: one user-keyed shuffle for the window, then the aggregate
    reuses the same partitioning (no second exchange); per-user series
    are bounded, so no window skew. Weights are BIGINT micros — no
    float time math anywhere."""
    t = load_tables(spark, sf_dir, ("events",))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (t["events"]
           .select("user_id", "value", "ts", "event_id")
           .withColumn("dt_us",
                       F.unix_micros(F.lead("ts").over(w))
                       - F.unix_micros("ts"))
           .filter(F.col("dt_us").isNotNull()))
    # value·Δt reaches ~1.7e14 — a double→DECIMAL(38,6) cast there is
    # engine-divergent (PARITY.md §3b), so the weighted sum
    # accumulates as exact centi-unit integers instead.
    wsum = grid_sum(F.col("value") * F.col("dt_us"), 2)
    return (seg.groupBy("user_id")
            .agg(F.count("dt_us").alias("n_segments"),
                 fround(wsum / F.sum("dt_us").cast("double"))
                 .alias("twa_value")))


# ---------------------------------------------------------------------------
# watermark-delay design: late-event accounting under simulated arrival
# ---------------------------------------------------------------------------

#: tumbling window width the lateness is measured against (seconds).
LATE_WINDOW_SEC = 3600
#: simulated network/queue delay ceiling (seconds) — md5-derived.
LATE_MAX_DELAY_SEC = 3600
#: candidate watermark delays to sweep (minutes).
LATE_WATERMARKS_MIN = (0, 10, 30, 60)


@register(
    "late_event_accounting",
    survey="ext-stream,A6,F4,F9",
    oracle=f"""
    WITH ev AS (
        SELECT event_id,
               epoch_us(ts) // 1000000 AS t,
               (epoch_us(ts) // 1000000)
                   + (CAST(CAST('0x' || substr(md5(
                          CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT)
                      AS BIGINT) % {LATE_MAX_DELAY_SEC}) AS arrival
        FROM events
    ), lat AS (
        SELECT event_id,
               arrival - (((t // {LATE_WINDOW_SEC}) + 1)
                          * {LATE_WINDOW_SEC}) AS lateness
        FROM ev
    ), wm AS (
        SELECT CAST(unnest([{", ".join(str(m) for m in LATE_WATERMARKS_MIN)}])
                    AS BIGINT) AS watermark_min
    )
    SELECT w.watermark_min,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN l.lateness > w.watermark_min * 60
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           {fround_sql("SUM(CASE WHEN l.lateness > w.watermark_min * 60"
                       " THEN 1 ELSE 0 END) * 1e0 / COUNT(*)")}
               AS drop_share,
           CAST(MAX(l.lateness) AS BIGINT) AS max_lateness_sec
    FROM lat l CROSS JOIN wm w
    GROUP BY w.watermark_min
    """,
)
def late_event_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK-DELAY design sweep — the number Structured Streaming
    asks for before any stateful query ships (`withWatermark("ts",
    "<how much?>")"): for each candidate delay, how many events would
    arrive AFTER their {LATE_WINDOW_SEC}s tumbling window's watermark
    has passed (and thus be dropped from the aggregate)? Arrival time
    is simulated as event time + an md5-derived delay uniform on
    [0, {LATE_MAX_DELAY_SEC}s) — deterministic, so the sweep is
    reproducible and oracle-checkable; with real ingestion timestamps
    the identical plan runs unchanged. lateness = arrival −
    window_end; an event is dropped under watermark d iff
    lateness > d. The sweep row where drop_share falls below the
    pipeline's loss budget IS the watermark to configure —
    state-retention cost grows linearly in d, so the smallest
    acceptable d wins (the streams module's watermarked twins hold
    state for exactly this duration).

    Exactness: pure integer epoch/µs//s algebra and md5-prefix
    integers; the only float is the final share, snapped to 1e-6.
    Plan: one narrow map over the events scan (no shuffle), a
    4-row broadcast sweep join, one map-combinable aggregate."""
    t = load_tables(spark, sf_dir, ("events",))
    sec = (F.unix_micros("ts") / F.lit(1000000)).cast("long")
    delay = md5_int(F.col("event_id").cast("string"), 8) % LATE_MAX_DELAY_SEC
    win_end = ((sec / LATE_WINDOW_SEC).cast("long") + 1) \
        * LATE_WINDOW_SEC
    lat = (t["events"]
           .select(F.col("event_id"),
                   ((sec + delay) - win_end).alias("lateness")))
    wm = driver.local_frame(spark, [(m,) for m in LATE_WATERMARKS_MIN],
                            "watermark_min long")
    dropped = (F.col("lateness") > F.col("watermark_min") * 60) \
        .cast("long")
    return (lat.crossJoin(F.broadcast(wm))
            .groupBy("watermark_min")
            .agg(F.count("*").alias("n_events"),
                 F.sum(dropped).alias("n_dropped"),
                 fround(F.sum(dropped) * F.lit(1.0) / F.count("*"))
                 .alias("drop_share"),
                 F.max("lateness").cast("long")
                 .alias("max_lateness_sec")))
