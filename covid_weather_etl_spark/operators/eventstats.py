"""Event-stream product analytics: cohort retention and ordered funnels.

The reference's event surface stops at per-type counts and recency
tables (streamlit/etl_logs.py:328-343, 461-480); this module adds the
two queries every product-analytics warehouse is actually asked for:

- cohort retention: users grouped by first-seen day, tracked by
  day-offset — the retention triangle.
- ordered funnel: view → click → purchase where each stage must happen
  strictly AFTER the user's previous stage (min-timestamp chaining),
  not merely co-occur.

Both are pure join/aggregate algebra with DuckDB oracles.

Scale notes (100 TB): cohort retention is two shuffles on user_id
(first-seen + distinct activity) and one on (cohort, offset) — all
key-projected; the funnel chains three per-user min-aggregates, each a
map-side-combinable MIN, joined on user_id. Nothing materializes
per-event state; event-time skew lands on user_id, the natural
well-distributed key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from covid_weather_etl_spark.functions import driver
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables


@register(
    "cohort_retention",
    survey="ext-events,A2,A7,J1",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS act_day
        FROM events
    ),
    sizes AS (
        SELECT cohort_day, COUNT(*) AS cohort_size
        FROM first_seen GROUP BY cohort_day
    )
    SELECT f.cohort_day,
           date_diff('day', f.cohort_day, a.act_day)  AS day_offset,
           CAST(COUNT(*) AS BIGINT)                   AS n_active,
           ANY_VALUE(s.cohort_size)                   AS cohort_size,
           ROUND(COUNT(*) * 1.0 / ANY_VALUE(s.cohort_size), 6) AS retention
    FROM activity a
    JOIN first_seen f ON a.user_id = f.user_id
    JOIN sizes s      ON f.cohort_day = s.cohort_day
    GROUP BY f.cohort_day, day_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention triangle: each user joins the cohort of their
    first-seen day; a cohort's day-offset-k retention is the share of
    its users active k days later. first-seen and per-day activity are
    both MIN/DISTINCT aggregates on user_id (one shuffle each,
    map-side combinable); cohort sizes broadcast back. day 0 retention
    is 1.0 by construction — pinned in tests."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    first_seen = (ev.groupBy("user_id")
                  .agg(F.date_trunc("day", F.min("ts")).alias("cohort_day")))
    activity = (ev.select("user_id",
                          F.date_trunc("day", "ts").alias("act_day"))
                .distinct())
    sizes = (first_seen.groupBy("cohort_day")
             .agg(F.count("*").alias("cohort_size")))
    return (activity.join(first_seen, "user_id")
            .join(F.broadcast(sizes), "cohort_day")
            .groupBy("cohort_day",
                     F.datediff("act_day", "cohort_day").alias("day_offset"))
            .agg(F.count("*").alias("n_active"),
                 F.any_value("cohort_size").alias("cohort_size"),
                 F.round(F.count("*") * 1.0 / F.any_value("cohort_size"), 6)
                  .alias("retention")))


@register(
    "funnel_conversion",
    survey="ext-events,A1,J1,W1",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS tv FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS tc
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.tv
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS tp
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.tc
        GROUP BY e.user_id
    ),
    counts AS (
        SELECT (SELECT COUNT(*) FROM v) AS n_view,
               (SELECT COUNT(*) FROM c) AS n_click,
               (SELECT COUNT(*) FROM p) AS n_purchase
    )
    SELECT stage, n_users, ROUND(n_users * 1.0 / prev, 6) AS conversion
    FROM (
        SELECT 1 AS ord, 'view' AS stage, n_view AS n_users,
               n_view AS prev FROM counts
        UNION ALL
        SELECT 2, 'view>click', n_click, n_view FROM counts
        UNION ALL
        SELECT 3, 'view>click>purchase', n_purchase, n_click FROM counts
    ) ORDER BY ord
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered three-stage funnel: a click only counts if it
    happens AFTER the user's first view, a purchase only after that
    first qualifying click — min-timestamp chaining, the semantics
    dashboards usually fake with unordered co-occurrence. Each stage
    is one filtered MIN aggregate joined on user_id to the previous
    stage's frame; per-stage frames shrink monotonically, so the
    chain gets cheaper as it deepens."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("tv")))
    c = (ev.filter(F.col("event_type") == "click")
         .join(v, "user_id")
         .filter(F.col("ts") > F.col("tv"))
         .groupBy("user_id").agg(F.min("ts").alias("tc")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter(F.col("ts") > F.col("tc"))
         .groupBy("user_id").agg(F.min("ts").alias("tp")))
    nv = v.agg(F.count("*").alias("n_view"))
    nc = c.agg(F.count("*").alias("n_click"))
    np_ = p.agg(F.count("*").alias("n_purchase"))
    counts = nv.crossJoin(nc).crossJoin(np_)
    stages = counts.select(F.expr(
        "stack(3, "
        "1, 'view', n_view, n_view, "
        "2, 'view>click', n_click, n_view, "
        "3, 'view>click>purchase', n_purchase, n_click"
        ") as (ord, stage, n_users, prev)"))
    return (stages.select("stage", "n_users",
                          F.round(F.col("n_users") * 1.0 / F.col("prev"), 6)
                           .alias("conversion"))
            .orderBy("stage"))


@register(
    "event_transition_matrix",
    survey="ext-events,W2,A6,A5",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ), trans AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               COUNT(*) AS n_transitions
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ), totals AS (
        SELECT from_type, SUM(n_transitions) AS n_from FROM trans GROUP BY 1
    )
    SELECT t.from_type, t.to_type, t.n_transitions,
           ROUND(t.n_transitions * 1.0 / s.n_from, 6) AS share
    FROM trans t JOIN totals s USING (from_type)
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order user-journey transition matrix: for each user's
    event stream (ordered by ts, event_id ties broken exactly) count
    consecutive event-type pairs and normalize per source type — the
    empirical Markov chain behind funnel design, next-action
    prediction baselines, and bot detection (a user whose transition
    rows diverge hard from this matrix is not browsing like a human).

    Plan: one lag window partitioned per user (never global), one
    map-combinable (from,to) aggregate — type²-bounded output — and a
    broadcast join against the per-source totals. Shares divide two
    exact integers, rounded 6dp identically on both engines. At 100 TB
    the user partition key keeps every window task bounded by one
    user's history; AQE skew-split covers power users."""
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ("events",))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (t["events"]
             .select("user_id", "event_type",
                     F.lag("event_type").over(w).alias("prev_type"))
             .filter(F.col("prev_type").isNotNull())
             .groupBy(F.col("prev_type").alias("from_type"),
                      F.col("event_type").alias("to_type"))
             .agg(F.count("*").alias("n_transitions")))
    totals = (trans.groupBy("from_type")
              .agg(F.sum("n_transitions").alias("n_from")))
    return (trans.join(F.broadcast(totals), "from_type")
            .select("from_type", "to_type", "n_transitions",
                    F.round(F.col("n_transitions") * 1.0 / F.col("n_from"), 6)
                     .alias("share")))


#: lookback horizon for multi-touch credit assignment.
MTA_WINDOW_HOURS = 24


@register(
    "multi_touch_attribution",
    survey="ext-events,J1,A6,A5",
    oracle=f"""
    WITH purchases AS (
        SELECT event_id AS p_id, user_id, ts AS p_ts, value
        FROM events WHERE event_type = 'purchase'
    ), touches AS (
        SELECT event_id AS t_id, user_id, ts AS t_ts, event_type
        FROM events WHERE event_type IN ('view', 'click')
    ), pairs AS (
        SELECT p.p_id, p.value, t.event_type
        FROM purchases p JOIN touches t
          ON p.user_id = t.user_id
         AND t.t_ts < p.p_ts
         AND t.t_ts >= p.p_ts - INTERVAL {MTA_WINDOW_HOURS} HOUR
    ), credited AS (
        SELECT event_type,
               value / (COUNT(*) OVER (PARTITION BY p_id)) AS credit
        FROM pairs
    )
    SELECT event_type,
           COUNT(*) AS n_credited_touches,
           ROUND(CAST(SUM(CAST(ROUND(credit, 6) AS DECIMAL(25,6)))
                      AS DOUBLE), 4) AS total_credit
    FROM credited
    GROUP BY 1
    """,
)
def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    EQUALLY across every view/click by the same user in the preceding
    {MTA_WINDOW_HOURS}h, and credit totals roll up per touch type —
    the fractional-credit complement of the last-touch as-of join
    (`asof_join_attribution`). Per-touch credits are rounded 6dp then
    summed in exact DECIMAL so the totals are visit-order independent.

    Plan: both sides are user-keyed projections of the same scan; the
    range condition rides an equi-join on user_id (per-user candidate
    space, never a global time cross-product), the per-purchase touch
    count is a window partitioned by purchase id, and the rollup is a
    map-combinable aggregate. At 100 TB the user-keyed join is the
    bucketed fact-fact shape, and the time horizon bounds per-user
    pair fan-out."""
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("p_id"), "user_id",
                         F.col("ts").alias("p_ts"), "value"))
    touches = (ev.filter(F.col("event_type").isin("view", "click"))
               .select("user_id", F.col("ts").alias("t_ts"), "event_type"))
    pairs = purchases.join(
        touches,
        (purchases["user_id"] == touches["user_id"])
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts")
           - F.expr(f"INTERVAL {MTA_WINDOW_HOURS} HOURS")))
    credit = F.col("value") / F.count("*").over(W.partitionBy("p_id"))
    return (pairs.select("event_type", F.round(credit, 6).alias("credit"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n_credited_touches"),
                 F.round(F.sum(F.col("credit").cast("decimal(25,6)"))
                         .cast("double"), 4).alias("total_credit")))


@register(
    "time_to_convert_stats",
    survey="ext-events,A4,A11,W1",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS first_purchase
        FROM events GROUP BY 1
    ), converted AS (
        SELECT CAST(epoch_us(first_purchase) - epoch_us(first_view)
                    AS BIGINT) / 3600000000.0 AS hours
        FROM firsts
        WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
          AND first_purchase > first_view
    )
    SELECT (SELECT COUNT(*) FROM firsts WHERE first_view IS NOT NULL)
               AS n_viewers,
           COUNT(*) AS n_converted,
           ROUND(COUNT(*) * 1.0 /
                 (SELECT COUNT(*) FROM firsts WHERE first_view IS NOT NULL),
                 6) AS conversion_rate,
           ROUND(quantile_cont(hours, 0.50), 6) AS p50_hours,
           ROUND(quantile_cont(hours, 0.90), 6) AS p90_hours
    FROM converted
    """,
)
def time_to_convert_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase conversion latency: per user, hours from first
    view to the first purchase AFTER it; report the viewer count,
    converted count, conversion rate, and exact P50/P90 latency — the
    funnel-timing cut of the cohort/funnel family (how LONG conversion
    takes, not just whether it happens). Latency is computed in exact
    integer microseconds before the one float division, so the
    percentile inputs are bit-identical on both engines.

    Plan: ONE conditional-min aggregate per user (map-combinable, one
    shuffle), a filter, and a percentile over the converted-users frame
    — user-count-bounded, never event-count-bounded. At 100 TB the
    exact percentile swaps for percentile_approx unchanged."""
    t = load_tables(spark, sf_dir, ("events",))
    firsts = (t["events"]
              .groupBy("user_id")
              .agg(F.min(F.when(F.col("event_type") == "view",
                                F.col("ts"))).alias("first_view"),
                   F.min(F.when(F.col("event_type") == "purchase",
                                F.col("ts"))).alias("first_purchase")))
    viewers = firsts.filter(F.col("first_view").isNotNull())
    conv = (viewers
            .filter(F.col("first_purchase").isNotNull()
                    & (F.col("first_purchase") > F.col("first_view")))
            .select(((F.unix_micros("first_purchase")
                      - F.unix_micros("first_view")) / 3600000000.0)
                    .alias("hours")))
    n_viewers = viewers.agg(F.count("*").alias("n_viewers"))
    return (conv.agg(F.count("*").alias("n_converted"),
                     F.round(F.percentile("hours", F.lit(0.5)), 6)
                      .alias("p50_hours"),
                     F.round(F.percentile("hours", F.lit(0.9)), 6)
                      .alias("p90_hours"))
            .crossJoin(F.broadcast(n_viewers))
            .select("n_viewers", "n_converted",
                    F.round(F.col("n_converted") * 1.0 / F.col("n_viewers"), 6)
                     .alias("conversion_rate"),
                    "p50_hours", "p90_hours"))


@register(
    "user_growth_curve",
    survey="ext-events,A2,A7,W1",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d
        FROM events GROUP BY 1
    ), daily AS (
        SELECT d, COUNT(*) AS new_users FROM first_seen GROUP BY 1
    )
    SELECT a.d, a.new_users,
           CAST(SUM(b.new_users) AS BIGINT) AS cum_users
    FROM daily a JOIN daily b ON b.d <= a.d
    GROUP BY a.d, a.new_users
    """,
)
def user_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-distinct growth curve: users are deduplicated to
    their FIRST-seen day (one min-aggregate), daily new-user counts
    roll up, and the cumulative total comes from a ≤-self-join over
    the day-grain aggregate — the standard rewrite of "COUNT(DISTINCT)
    OVER (ORDER BY day)", which engines either reject or execute as an
    O(days × users) re-scan. The dedup-then-cumsum form is O(events)
    + O(days²) on a days-sized frame.

    Scale: the first-seen aggregate shuffles (user, day) pairs once,
    map-side combinable; everything after runs on a frame bounded by
    the calendar, not the event volume (and the registry's
    no-global-window pin holds — the cumsum is a broadcast triangular
    join, same pattern as seq_length_histogram)."""
    t = load_tables(spark, sf_dir, ("events",))
    first_seen = (t["events"]
                  .groupBy("user_id")
                  .agg(F.min(F.col("ts").cast("date")).alias("d")))
    daily = first_seen.groupBy("d").agg(F.count("*").alias("new_users"))
    a, b = daily.alias("a"), daily.alias("b")
    return (a.join(F.broadcast(b), F.col("b.d") <= F.col("a.d"))
            .groupBy(F.col("a.d").alias("d"),
                     F.col("a.new_users").alias("new_users"))
            .agg(F.sum("b.new_users").alias("cum_users")))


#: driver-resolution cap on the day-grain risk table (rows). The table
#: is horizon-bounded (one row per observed duration day), so the cap
#: never binds on real data at any corpus scale.
SURV_COLLECT_MAX = 100_000


def _surv_at_risk(rows) -> list[tuple[int, int, int, int]]:
    """at-risk replay over the collected day_tab — exact integer
    prefix algebra, identical to the triangular join: n(day_a) =
    n_total − Σ_{day_b < day_a} (d_b + c_b). Returns (day, d, c, n)
    ascending by day."""
    tab = sorted((int(r["day"]), int(r["d"]), int(r["c"])) for r in rows)
    n_total = sum(d + c for _, d, c in tab)
    out, below = [], 0
    for day, d, c in tab:
        out.append((day, d, c, n_total - below))
        below += d + c
    return out


def _km_from_day_tab(spark: SparkSession, rows) -> DataFrame:
    """kaplan_meier_conversion's post-day_tab algebra resolved on the
    driver (callers gate on SURV_COLLECT_MAX) — replaces the two
    triangular broadcast joins + their checkpoint/broadcast-build jobs
    with one ascending-day prefix pass. Bit-exactness: counts are
    integers; each log term replays F.log == StrictMath.log via py4j
    on the identical double d·1.0/n, snapped 9dp with the
    Decimal(repr(x)) HALF_UP replay of Spark ROUND, DECIMAL-summed
    exactly; survival replays ROUND(EXP(logsum), 6) with StrictMath.exp
    + the same Decimal snap. Pinned driver-vs-distributed bitwise in
    tests/test_eventstats.py."""
    from decimal import ROUND_HALF_UP, Decimal

    q9, q6 = Decimal("1e-9"), Decimal("1e-6")
    jm = spark._jvm.java.lang.StrictMath
    out = []
    logsum, hit = Decimal(0), False
    for day, d, c, n in _surv_at_risk(rows):
        if d >= n:
            hit = True
        elif d > 0:
            logsum += Decimal(repr(jm.log(1.0 - d * 1.0 / n))).quantize(
                q9, ROUND_HALF_UP)
        surv = 0.0 if hit else float(
            Decimal(repr(jm.exp(float(logsum)))).quantize(
                q6, ROUND_HALF_UP))
        out.append((day, n, d, c, surv))
    return driver.local_frame(
        spark, out, "day bigint, n_at_risk bigint, n_events bigint, "
                    "n_censored bigint, survival double")


def _na_from_day_tab(spark: SparkSession, rows) -> DataFrame:
    """nelson_aalen_hazard's post-day_tab algebra resolved on the
    driver (same gate/discipline as _km_from_day_tab; no
    transcendentals at all — each hazard term is one IEEE divide
    snapped 9dp via the Decimal(repr) replay of Spark ROUND,
    DECIMAL-summed, finals g6-floored like the engine's fround)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    q9 = Decimal("1e-9")
    g6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
    r9 = lambda x: Decimal(repr(x)).quantize(q9, ROUND_HALF_UP)  # noqa: E731
    out = []
    h, v = Decimal(0), Decimal(0)
    for day, d, c, n in _surv_at_risk(rows):
        h += r9(d * 1.0 / n)
        v += r9(d * 1.0 / (n * 1.0 * n))
        out.append((day, n, d, c, g6(float(h)), g6(float(v))))
    return driver.local_frame(
        spark, out, "day long, n_at_risk long, n_events long, "
                    "n_censored long, cum_hazard double, hazard_var double")


@register(
    "kaplan_meier_conversion",
    survey="ext-events,A6,J1,W1",
    oracle="""
    WITH su AS (
        SELECT user_id, MIN(ts) AS s FROM events
        WHERE event_type = 'signup' GROUP BY 1
    ), fp AS (
        SELECT e.user_id, MIN(e.ts) AS p
        FROM events e JOIN su ON e.user_id = su.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= su.s
        GROUP BY 1
    ), study AS (SELECT MAX(ts) AS study_end FROM events),
    obs AS (
        SELECT su.user_id,
               CASE WHEN fp.p IS NOT NULL
                    THEN CAST((epoch_us(fp.p) - epoch_us(su.s))
                              // 86400000000 AS BIGINT)
                    ELSE CAST((epoch_us(study_end) - epoch_us(su.s))
                              // 86400000000 AS BIGINT)
               END AS day,
               CASE WHEN fp.p IS NOT NULL THEN 1 ELSE 0 END AS is_event
        FROM su LEFT JOIN fp ON su.user_id = fp.user_id
        CROSS JOIN study
    ), day_tab AS (
        SELECT day,
               CAST(SUM(is_event) AS BIGINT) AS d,
               CAST(SUM(1 - is_event) AS BIGINT) AS c
        FROM obs GROUP BY day
    ), tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n_total FROM day_tab),
    at_risk AS (
        SELECT a.day, a.d, a.c,
               n_total - COALESCE(SUM(b.d + b.c), 0) AS n
        FROM day_tab a CROSS JOIN tot
        LEFT JOIN day_tab b ON b.day < a.day
        GROUP BY a.day, a.d, a.c, n_total
    ), surv AS (
        SELECT a.day, a.d, a.c, a.n,
               MAX(CASE WHEN b.d >= b.n THEN 1 ELSE 0 END) AS hit_zero,
               SUM(CASE WHEN b.d > 0 AND b.d < b.n
                        THEN CAST(ROUND(LN(1.0 - b.d * 1.0 / b.n), 9)
                                  AS DECIMAL(25,9))
                        ELSE CAST(0 AS DECIMAL(25,9)) END) AS logsum
        FROM at_risk a JOIN at_risk b ON b.day <= a.day
        GROUP BY a.day, a.d, a.c, a.n
    )
    SELECT CAST(day AS BIGINT) AS day,
           CAST(n AS BIGINT) AS n_at_risk,
           d AS n_events, c AS n_censored,
           CASE WHEN hit_zero = 1 THEN 0.0
                ELSE ROUND(EXP(CAST(logsum AS DOUBLE)), 6)
           END AS survival
    FROM surv
    """,
)
def kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for signup→purchase conversion:
    per signup cohort member, days until the first post-signup
    purchase (event) or until the end of observation (right-censored),
    then the product-limit estimate S(t) = Π_{s≤t} (1 − d_s/n_s) over
    the day-grain risk table — survival analysis, the censoring-aware
    answer to "how fast do users convert" that a plain latency average
    gets wrong whenever observation windows are uneven.

    Engine discipline: durations are exact integer microseconds
    floored to days; the risk table is day-grain (≤ horizon rows), so
    at-risk counts and the cumulative product both come from
    TRIANGULAR self-joins over that tiny frame — no global window
    (registry pin), and the log-space product Σ ln(1−d/n) is rounded
    9dp per term then DECIMAL-summed, making S(t) independent of join
    order on both engines. d_s = n_s (everyone left converts) drops
    survival to exactly 0 via a flag, not ln(0). Scale: events scan →
    two user-keyed aggregates; everything after is horizon-bounded.
    The oracle mirrors the same algebra in SQL."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    su = (ev.filter(F.col("event_type") == "signup")
          .groupBy("user_id").agg(F.min("ts").alias("s")))
    fp = (ev.filter(F.col("event_type") == "purchase")
          .join(su, "user_id")
          .filter(F.col("ts") >= F.col("s"))
          .groupBy("user_id").agg(F.min("ts").alias("p")))
    study = ev.agg(F.max("ts").alias("study_end"))
    end_day = ((F.unix_micros("study_end") - F.unix_micros("s"))
               / F.lit(86400000000)).cast("bigint")
    ev_day = ((F.unix_micros("p") - F.unix_micros("s"))
              / F.lit(86400000000)).cast("bigint")
    obs = (su.join(fp, "user_id", "left")
           .crossJoin(F.broadcast(study))
           .select(F.when(F.col("p").isNotNull(), ev_day)
                   .otherwise(end_day).alias("day"),
                   F.when(F.col("p").isNotNull(), 1).otherwise(0)
                   .alias("is_event")))
    day_tab = (obs.groupBy("day")
               .agg(F.sum("is_event").alias("d"),
                    F.sum(1 - F.col("is_event")).alias("c"))
               .localCheckpoint(eager=False))  # horizon-sized; reused 3×
    # driver resolution (r13): the risk table is horizon-bounded —
    # resolve at-risk counts + the log-space product on the driver
    # (see _km_from_day_tab).
    tab = driver.bounded_collect(day_tab, SURV_COLLECT_MAX)
    if tab is not None:
        return _km_from_day_tab(spark, tab)
    tot = day_tab.agg(F.sum(F.col("d") + F.col("c")).alias("n_total"))
    a, b = day_tab.alias("a"), day_tab.alias("b")
    at_risk = (a.crossJoin(F.broadcast(tot))
               .join(F.broadcast(b), F.col("b.day") < F.col("a.day"), "left")
               .groupBy(F.col("a.day").alias("day"),
                        F.col("a.d").alias("d"),
                        F.col("a.c").alias("c"),
                        F.col("n_total"))
               .agg((F.col("n_total")
                     - F.coalesce(F.sum(F.col("b.d") + F.col("b.c")),
                                  F.lit(0))).alias("n"))
               .drop("n_total")
               .localCheckpoint(eager=False))  # reused as both join sides
    ra, rb = at_risk.alias("ra"), at_risk.alias("rb")
    frac = F.col("rb.d") * 1.0 / F.col("rb.n")
    term = (F.when((F.col("rb.d") > 0) & (F.col("rb.d") < F.col("rb.n")),
                   F.round(F.log(1.0 - frac), 9).cast("decimal(25,9)"))
            .otherwise(F.lit(0).cast("decimal(25,9)")))
    surv = (ra.join(F.broadcast(rb), F.col("rb.day") <= F.col("ra.day"))
            .groupBy(F.col("ra.day").alias("day"),
                     F.col("ra.d").alias("n_events"),
                     F.col("ra.c").alias("n_censored"),
                     F.col("ra.n").alias("n_at_risk"))
            .agg(F.max(F.when(F.col("rb.d") >= F.col("rb.n"), 1)
                       .otherwise(0)).alias("hit_zero"),
                 F.sum(term).alias("logsum")))
    return surv.select(
        F.col("day").cast("bigint").alias("day"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("n_censored").cast("bigint").alias("n_censored"),
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("logsum").cast("double")), 6))
        .alias("survival"))


#: inactivity gap that closes a session (industry-standard 30 min).
SESSION_GAP_MIN = 30


@register(
    "session_stats",
    survey="ext-events,A6,A2,W1,W12",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > {SESSION_GAP_MIN} * 60 * 1000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), tagged AS (
        SELECT user_id, ts, event_type,
               SUM(new_sess) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS session_seq
        FROM ordered
    )
    SELECT user_id,
           CAST(session_seq AS BIGINT) AS session_seq,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types,
           CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000
                AS BIGINT) AS duration_s
    FROM tagged
    GROUP BY user_id, session_seq
    """,
)
def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization — the warehouse twin of the
    streaming `session_windows` op (streaming/streams.py): a session
    is a maximal run of a user's events with no inactivity gap longer
    than 30 minutes (SESSION_GAP_MIN). Classic two-window algebra: flag
    session starts with LAG over (user, time), number sessions with a
    running SUM of the flags over the SAME window order, then one
    aggregate per (user, session) for start/end/size/diversity/
    duration — the session table every product-analytics mart builds
    first, which `debounce_events` (dedup) and `funnel_conversion`
    (ordering) deliberately do not produce.

    Engine discipline: both windows partition on user_id — the
    natural, well-distributed key (registry pin: zero unpartitioned
    windows); ordering is (ts, event_id), a TOTAL order, so the lag
    and the running sum are deterministic on both engines even under
    timestamp ties. Durations are exact integer microsecond
    differences floored to seconds (unix_micros on Spark, epoch_us in
    DuckDB) — no float time math. Scale: one shuffle on user_id
    shared by both windows and the final aggregate (Catalyst reuses
    the partitioning), map-side-combinable aggregates; a hot user
    costs one task its own events only, never a global funnel."""
    t = load_tables(spark, sf_dir, ("events",))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_sess = (F.when(F.lag("ts").over(w).isNull()
                       | (gap_us > SESSION_GAP_MIN * 60 * 1000000), 1)
                .otherwise(0))
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    tagged = (t["events"]
              .select("user_id", "ts", "event_id", "event_type",
                      new_sess.alias("new_sess"))
              .select("user_id", "ts", "event_type",
                      F.sum("new_sess").over(run).alias("session_seq")))
    dur = ((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
           / F.lit(1000000)).cast("bigint")
    return (tagged.groupBy("user_id", "session_seq")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count("*").alias("n_events"),
                 F.countDistinct("event_type").alias("n_event_types"),
                 dur.alias("duration_s"))
            .select("user_id", F.col("session_seq").cast("bigint")
                    .alias("session_seq"),
                    "session_start", "session_end", "n_events",
                    "n_event_types", "duration_s"))


#: Markov attribution: channel states (non-absorbing event types).
MARKOV_CHANNELS = ("click", "error", "signup", "view")


# shared-term-order Leibniz determinant twins: hoisted to
# functions/numeric.py so other Cramer solves (ar_forecast_per_group)
# reuse the identical op sequence; aliased here for the local call
# sites and the test imports.
from covid_weather_etl_spark.functions.numeric import (  # noqa: E402
    det_sql as _det_sql,
    det_val as _det_val,
)


def _markov_A(p, live):
    """(I − Q) restricted to `live` state rows/cols. Works for both the
    value twin (floats in, floats out) and the SQL twin (expr strings
    in, expr strings out) because the entry construction is shared."""
    val = not isinstance(p[0][0], str)
    if val:
        return [[(1.0 - p[i][j]) if i == j else (0.0 - p[i][j])
                 for j in live] for i in live]
    return [[f"(1e0 - {p[i][j]})" if i == j else f"(0e0 - {p[i][j]})"
             for j in live] for i in live]


def _solve_start_val(p: list[list[float]], live: list[int]) -> float:
    """x_START of (I−Q)x = b over `live` states (START = live[0]) via
    Cramer with the shared term order."""
    A = _markov_A(p, live)
    b = [p[i][5] for i in live]
    Ab = [[b[r] if c == 0 else A[r][c] for c in range(len(live))]
          for r in range(len(live))]
    return _det_val(Ab) / _det_val(A)


def _solve_start_sql(live: list[int]) -> str:
    """SQL twin of _solve_start_val over the p_i_j pivot columns."""
    P = [[f"p_{i}_{j}" for j in range(6)] for i in range(5)]
    A = _markov_A(P, live)
    b = [f"p_{i}_5" for i in live]
    Ab = [[b[r] if c == 0 else A[r][c] for c in range(len(live))]
          for r in range(len(live))]
    return f"({_det_sql(Ab)} / {_det_sql(A)})"


def _markov_oracle() -> str:
    """DuckDB twin of the full removal-effect pipeline: the SAME
    journey truncation + LAG/LEAD transition windows, counts pivoted
    to one row, P = counts/row-total in double, then x_START of every
    absorbing-chain system solved by an UNROLLED Cramer expansion
    whose term order matches the Python value twin exactly — the
    ridge_normal_equations identical-Cramer technique scaled up to the
    5×5 base chain and the four 4×4 removal chains."""
    from covid_weather_etl_spark.functions.numeric import fround_sql
    states = ["START", *MARKOV_CHANNELS]
    dstname = {j: states[j] for j in range(5)}
    dstname[5], dstname[6] = "purchase", "END"
    cells = ",\n               ".join(
        f"COALESCE(MAX(CASE WHEN src = '{states[i]}' AND "
        f"dst = '{dstname[j]}' THEN n END), 0) AS c_{i}_{j}"
        for i in range(5) for j in range(7))
    tots = ", ".join(
        "(" + " + ".join(f"c_{i}_{j}" for j in range(7)) + f") AS tot_{i}"
        for i in range(5))
    ps = ",\n               ".join(
        f"CAST(c_{i}_{j} AS DOUBLE) / CAST(tot_{i} AS DOUBLE) AS p_{i}_{j}"
        for i in range(5) for j in range(6))
    solves = ",\n               ".join(
        [f"{_solve_start_sql(list(range(5)))} AS p_all"]
        + [f"{_solve_start_sql([i for i in range(5) if i != k])} AS p_{ch}"
           for k, ch in enumerate(MARKOV_CHANNELS, start=1)])
    effs = ",\n               ".join(
        f"GREATEST(0e0, 1e0 - p_{ch} / p_all) AS e_{ch}"
        for ch in MARKOV_CHANNELS)
    total = " + ".join(f"e_{ch}" for ch in MARKOV_CHANNELS)
    outs = "\n    UNION ALL\n".join(
        f"""    SELECT '{ch}' AS channel,
           {fround_sql('p_all', 9)} AS p_conversion,
           {fround_sql(f'e_{ch}', 9)} AS removal_effect,
           CASE WHEN total > 0 THEN {fround_sql(f'e_{ch} / total', 9)}
                ELSE 0e0 END AS attribution
    FROM tot""" for ch in MARKOV_CHANNELS)
    return f"""
    WITH ev AS (
        SELECT user_id, ts, event_id, event_type,
               COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS conv_before
        FROM events
    ),
    flt AS (SELECT * FROM ev WHERE conv_before = 0),
    steps AS (
        SELECT user_id, event_type,
               COALESCE(LAG(event_type) OVER w, 'START') AS src,
               LEAD(event_type) OVER w AS nxt
        FROM flt
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    trans AS (
        SELECT src, event_type AS dst FROM steps
        UNION ALL
        SELECT event_type AS src, 'END' AS dst FROM steps
        WHERE nxt IS NULL AND event_type <> 'purchase'
    ),
    cnt AS (SELECT src, dst, COUNT(*) AS n FROM trans GROUP BY src, dst),
    one AS (
        SELECT {cells}
        FROM cnt
    ),
    witht AS (SELECT *, {tots} FROM one),
    p AS (
        SELECT {ps}
        FROM witht
    ),
    s AS (
        SELECT {solves}
        FROM p
    ),
    e AS (
        SELECT p_all, {effs}
        FROM s
    ),
    tot AS (SELECT *, {total} AS total FROM e)
{outs}
    """


@register("markov_attribution", survey="ext-events,U2,A6,W1",
          oracle=_markov_oracle())
def markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain REMOVAL-EFFECT attribution (Anderl et al. 2016) —
    the data-driven alternative to `multi_touch_attribution`'s linear
    rule: model user journeys as a first-order Markov chain over
    channel states with two absorbers (purchase = conversion, journey
    end = loss), compute the chain's conversion probability, then for
    each channel re-solve the chain with that channel REMOVED (walks
    entering it are lost) — its attribution share is proportional to
    how much conversion probability its removal destroys.

    Division of labor (the per-group-model pattern): the CORPUS-sized
    work is distributed — journeys truncate at the first purchase via
    a user-partitioned cumulative window, transitions (START→first,
    step→step, last→END) come from one LAG pass and one map-
    combinable count — while the (channels+1)² linear solves run on
    the driver over a MODEL-sized transition matrix (numpy; ≤5×5
    here), exactly like the SARIMA/OLS per-group fits. Deterministic
    end-to-end: counts are exact, the solves are direct (no
    iteration), ordering is (ts, event_id). Fully oracled (graduated
    from rows-only, r6): the solves run as Cramer's rule with a SHARED
    Leibniz term order — the Python value twin and the generated SQL
    expansion execute the identical IEEE op sequence over identical
    P entries, so both engines agree bit-for-bit before the 9dp
    rounding (the ridge_normal_equations identical-Cramer technique);
    tests/test_eventstats.py additionally pins the pipeline against an
    independent pandas+numpy (LU solve) recomputation."""
    t = load_tables(spark, sf_dir, ("events",))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run_before = (W.partitionBy("user_id").orderBy("ts", "event_id")
                  .rowsBetween(W.unboundedPreceding, -1))
    ev = (t["events"]
          .select("user_id", "ts", "event_id", "event_type",
                  F.coalesce(
                      F.sum((F.col("event_type") == "purchase")
                            .cast("int")).over(run_before),
                      F.lit(0)).alias("conv_before"))
          .filter(F.col("conv_before") == 0))
    steps = ev.select(
        "user_id", "event_type",
        F.coalesce(F.lag("event_type").over(w), F.lit("START"))
        .alias("src"),
        F.lead("event_type").over(w).alias("nxt"))
    trans = (steps.select(F.col("src"), F.col("event_type").alias("dst"))
             .unionByName(
                 steps.filter(F.col("nxt").isNull()
                              & (F.col("event_type") != "purchase"))
                 .select(F.col("event_type").alias("src"),
                         F.lit("END").alias("dst")))
             .groupBy("src", "dst").agg(F.count("*").alias("n")))
    rows = trans.collect()                   # model-sized: ≤7×7 cells

    import math
    states = ["START", *MARKOV_CHANNELS]
    idx = {s: i for i, s in enumerate(states)}
    counts = [[0] * 7 for _ in range(5)]
    for r in rows:
        if r["src"] in idx:
            j = (idx[r["dst"]] if r["dst"] in idx
                 else 5 if r["dst"] == "purchase" else 6)
            counts[idx[r["src"]]][j] += int(r["n"])
    tots = []
    for i in range(5):
        tot = 0
        for j in range(7):
            tot += counts[i][j]
        tots.append(tot)
    if any(t == 0 for t in tots):
        # a state with no outgoing transitions makes the chain (and the
        # oracle's division) degenerate — surface it instead of NaN
        raise ValueError(
            "markov_attribution: a channel state has no outgoing "
            "transitions in this corpus; the absorbing chain is "
            "degenerate")
    # exact-int counts -> double P entries; int/int division in Python
    # and CAST(int)/CAST(int) in SQL are the same correctly-rounded
    # quotient of exact values
    p = [[counts[i][j] / tots[i] for j in range(6)] for i in range(5)]

    p_all = _solve_start_val(p, list(range(5)))
    effects = []
    for k in range(1, 5):
        pk = _solve_start_val(p, [i for i in range(5) if i != k])
        effects.append(max(0.0, 1.0 - pk / p_all))
    total = 0.0
    for e in effects:
        total += e

    def fr9(x: float) -> float:
        return math.floor(x * 1e9 + 0.5) / 1e9

    out = [(ch, fr9(p_all), fr9(e), fr9(e / total) if total > 0 else 0.0)
           for ch, e in zip(MARKOV_CHANNELS, effects)]
    return driver.local_frame(
        spark, out,
        "channel string, p_conversion double, removal_effect double, "
        "attribution double")


# ---------------------------------------------------------------------------
# exponential time-decay engagement scoring
# ---------------------------------------------------------------------------

#: Engagement half-life: an event's weight halves every 30 days.
DECAY_HALF_LIFE_DAYS = 30.0


@register(
    "time_decay_engagement",
    survey="ext-eventstats,A6,F10,W1",
    oracle=f"""
    WITH anchor AS (
        SELECT MAX(ts) AS t_max FROM events
    ), weighted AS (
        SELECT e.user_id,
               CAST(e.value * EXP(-LN(2e0) / {DECAY_HALF_LIFE_DAYS!r}
                    * ((epoch_us(a.t_max) - epoch_us(e.ts)) / 86400e6))
                    AS DECIMAL(25,6)) AS term
        FROM events e CROSS JOIN anchor a
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           FLOOR(CAST(SUM(term) AS DOUBLE) * 1e6 + 5e-1) / 1e6
               AS decayed_score
    FROM weighted GROUP BY user_id
    """,
)
def time_decay_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user engagement scored with exponential recency decay —
    each event contributes value·2^(-age/half-life), so a burst last
    week outranks the same burst last year. The feature-store staple
    the plain aggregates (A4/A6) and the sequential EWMA can't
    express: the weight is anchored to a single corpus-wide "now"
    (MAX(ts) — deterministic, unlike wall-clock), not to the previous
    observation.

    Exactness: age is exact integer microseconds scaled by constants;
    each weight is one EXP of that scalar — per-row IEEE work both
    engines perform on identical inputs (libm vs JVM exp can differ
    in the last ulp, which sits ~8 orders below the 1e-6 output grid
    the decimal accumulation + floor-rounding quantizes onto, the
    same tolerance argument as fround everywhere else). Weighted
    terms accumulate as DECIMAL, so partition order cannot move the
    sum.

    Scale: the anchor is a 1-row broadcast (all-column MAX combine);
    the score is one user-keyed aggregate — map-side combinable,
    one shuffle, no window, no per-row Python."""
    t = load_tables(spark, sf_dir, ("events",))
    anchor = t["events"].agg(F.max("ts").alias("t_max"))
    age_days = ((F.unix_micros("t_max") - F.unix_micros("ts"))
                / F.lit(86400e6))
    term = (F.col("value")
            * F.exp(F.lit(-0.6931471805599453 / DECAY_HALF_LIFE_DAYS)
                    * age_days)).cast("decimal(25,6)")
    return (t["events"]
            .crossJoin(F.broadcast(anchor))
            .select("user_id", term.alias("term"))
            .groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 (F.floor(F.sum("term").cast("double") * F.lit(1e6)
                          + F.lit(0.5)) / F.lit(1e6))
                 .alias("decayed_score")))


#: minimum reward margin for a preference pair to be emitted.
DPO_MIN_MARGIN = 10.0
#: candidate pool: the reward-bearing event type.
DPO_CAND_TYPE = "purchase"


@register(
    "dpo_pair_construction",
    survey="LLM-pref,A6,A8,J9,P7",
    oracle=f"""
    WITH cand AS (
        SELECT user_id, event_id, value
        FROM events
        WHERE event_type = '{DPO_CAND_TYPE}' AND value IS NOT NULL
    ), pairs AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_candidates,
               MAX(ROW(value, -event_id)) AS ch,
               MIN(ROW(value, event_id)) AS rj
        FROM cand GROUP BY 1
        HAVING COUNT(*) >= 2
    )
    SELECT user_id, n_candidates,
           CAST(-ch[2] AS BIGINT) AS chosen_event,
           ch[1] AS chosen_reward,
           CAST(rj[2] AS BIGINT) AS rejected_event,
           rj[1] AS rejected_reward,
           ch[1] - rj[1] AS margin
    FROM pairs
    WHERE ch[1] - rj[1] >= {DPO_MIN_MARGIN}
    """,
)
def dpo_pair_construction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFERENCE-PAIR construction — the DPO/RLHF data-prep shape
    (Rafailov et al. 2023): group candidate generations by prompt
    (here: a user's reward-bearing '{DPO_CAND_TYPE}' events, reward =
    value), emit one (chosen, rejected) pair per prompt as the
    best/worst by reward with DETERMINISTIC tiebreaks (equal rewards:
    chosen takes the smallest event_id via MAX(value, -id), rejected
    the smallest via MIN(value, id) — argmax/argmin as single
    struct-ordered aggregates, the latest_event_per_user technique,
    no window), and drop pairs whose margin is under
    {DPO_MIN_MARGIN} — low-margin pairs are label noise in the DPO
    loss. Rewards ride the 2-decimal value grid, so margins are exact
    doubles on both engines.

    Plan: one filtered scan, ONE map-combinable grouped aggregate
    (two struct min/max + a count), a scalar filter. At 100 TB this
    is groupBy(prompt_id) with partial aggregation — no window, no
    join, no skew hazard beyond the prompt key itself."""
    t = load_tables(spark, sf_dir, ("events",))
    cand = (t["events"]
            .filter((F.col("event_type") == DPO_CAND_TYPE)
                    & F.col("value").isNotNull())
            .select("user_id", "event_id", "value"))
    pairs = (cand.groupBy("user_id")
             .agg(F.count("*").alias("n_candidates"),
                  F.max(F.struct(F.col("value"),
                                 (-F.col("event_id")).alias("nid")))
                  .alias("ch"),
                  F.min(F.struct(F.col("value"), F.col("event_id")))
                  .alias("rj"))
             .filter(F.col("n_candidates") >= 2))
    return (pairs
            .select("user_id", "n_candidates",
                    (-F.col("ch.nid")).cast("long").alias("chosen_event"),
                    F.col("ch.value").alias("chosen_reward"),
                    F.col("rj.event_id").cast("long")
                    .alias("rejected_event"),
                    F.col("rj.value").alias("rejected_reward"),
                    (F.col("ch.value") - F.col("rj.value"))
                    .alias("margin"))
            .filter(F.col("margin") >= DPO_MIN_MARGIN))


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard — the KM curve's additive twin
# ---------------------------------------------------------------------------


@register(
    "nelson_aalen_hazard",
    survey="ext-events,A6,J1,W1,F10",
    oracle="""
    WITH su AS (
        SELECT user_id, MIN(ts) AS s FROM events
        WHERE event_type = 'signup' GROUP BY 1
    ), fp AS (
        SELECT e.user_id, MIN(e.ts) AS p
        FROM events e JOIN su ON e.user_id = su.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= su.s
        GROUP BY 1
    ), study AS (SELECT MAX(ts) AS study_end FROM events),
    obs AS (
        SELECT su.user_id,
               CASE WHEN fp.p IS NOT NULL
                    THEN CAST((epoch_us(fp.p) - epoch_us(su.s))
                              // 86400000000 AS BIGINT)
                    ELSE CAST((epoch_us(study_end) - epoch_us(su.s))
                              // 86400000000 AS BIGINT)
               END AS day,
               CASE WHEN fp.p IS NOT NULL THEN 1 ELSE 0 END AS is_event
        FROM su LEFT JOIN fp ON su.user_id = fp.user_id
        CROSS JOIN study
    ), day_tab AS (
        SELECT day,
               CAST(SUM(is_event) AS BIGINT) AS d,
               CAST(SUM(1 - is_event) AS BIGINT) AS c
        FROM obs GROUP BY day
    ), tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n_total FROM day_tab),
    at_risk AS (
        SELECT a.day, a.d, a.c,
               n_total - COALESCE(SUM(b.d + b.c), 0) AS n
        FROM day_tab a CROSS JOIN tot
        LEFT JOIN day_tab b ON b.day < a.day
        GROUP BY a.day, a.d, a.c, n_total
    ), haz AS (
        SELECT a.day, a.d, a.c, a.n,
               SUM(CAST(ROUND(b.d * 1e0 / b.n, 9)
                        AS DECIMAL(25,9))) AS h,
               SUM(CAST(ROUND(b.d * 1e0 / (b.n * 1e0 * b.n), 9)
                        AS DECIMAL(25,9))) AS v
        FROM at_risk a JOIN at_risk b ON b.day <= a.day
        GROUP BY a.day, a.d, a.c, a.n
    )
    SELECT CAST(day AS BIGINT) AS day,
           CAST(n AS BIGINT) AS n_at_risk,
           d AS n_events, c AS n_censored,
           FLOOR(CAST(h AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cum_hazard,
           FLOOR(CAST(v AS DOUBLE) * 1e6 + 0.5) / 1e6 AS hazard_var
    FROM haz
    """,
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator for signup→purchase
    conversion — the ADDITIVE twin of `kaplan_meier_conversion`'s
    product-limit curve (same censored observation table): H(t) =
    Σ_{s≤t} d_s/n_s with the standard variance Σ d_s/n_s² (Aalen
    1978). Survival analysis reports both: S(t) answers "what share
    has NOT converted", H(t) is the instantaneous-rate integral whose
    slope changes localize WHEN conversion pressure shifts — and
    exp(−H) ≥ S gives the standard cross-check between the two
    estimators.

    Exactness: the risk table is day-grain and integer; each hazard
    term d/n (and d/n²) is one divide snapped to the 1e-9 grid, then
    DECIMAL-summed over the triangular day join — order-free on both
    engines, same discipline as the KM log-space product. Plan: the
    events scan collapses to two user-keyed MIN aggregates; everything
    after is horizon-bounded (≤ observation days rows), so the
    triangular joins are broadcast-sized at any corpus scale."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    su = (ev.filter(F.col("event_type") == "signup")
          .groupBy("user_id").agg(F.min("ts").alias("s")))
    fp = (ev.filter(F.col("event_type") == "purchase")
          .join(su, "user_id")
          .filter(F.col("ts") >= F.col("s"))
          .groupBy("user_id").agg(F.min("ts").alias("p")))
    study = ev.agg(F.max("ts").alias("study_end"))
    end_day = ((F.unix_micros("study_end") - F.unix_micros("s"))
               / F.lit(86400000000)).cast("bigint")
    ev_day = ((F.unix_micros("p") - F.unix_micros("s"))
              / F.lit(86400000000)).cast("bigint")
    obs = (su.join(fp, "user_id", "left")
           .crossJoin(F.broadcast(study))
           .select(F.when(F.col("p").isNotNull(), ev_day)
                   .otherwise(end_day).alias("day"),
                   F.when(F.col("p").isNotNull(), 1).otherwise(0)
                   .alias("is_event")))
    day_tab = (obs.groupBy("day")
               .agg(F.sum("is_event").alias("d"),
                    F.sum(1 - F.col("is_event")).alias("c"))
               .localCheckpoint(eager=False))  # horizon-sized; reused 3x
    # driver resolution (r13): same gate/discipline as
    # kaplan_meier_conversion above (see _na_from_day_tab).
    tab = driver.bounded_collect(day_tab, SURV_COLLECT_MAX)
    if tab is not None:
        return _na_from_day_tab(spark, tab)
    tot = day_tab.agg(F.sum(F.col("d") + F.col("c")).alias("n_total"))
    a, b = day_tab.alias("a"), day_tab.alias("b")
    at_risk = (a.crossJoin(F.broadcast(tot))
               .join(F.broadcast(b), F.col("b.day") < F.col("a.day"),
                     "left")
               .groupBy(F.col("a.day").alias("day"),
                        F.col("a.d").alias("d"),
                        F.col("a.c").alias("c"),
                        F.col("n_total"))
               .agg((F.col("n_total")
                     - F.coalesce(F.sum(F.col("b.d") + F.col("b.c")),
                                  F.lit(0))).alias("n"))
               .drop("n_total")
               .localCheckpoint(eager=False))  # reused as both join sides
    ra, rb = at_risk.alias("ra"), at_risk.alias("rb")
    hterm = (F.round(F.col("rb.d") * F.lit(1.0) / F.col("rb.n"), 9)
             .cast("decimal(25,9)"))
    vterm = (F.round(F.col("rb.d") * F.lit(1.0)
                     / (F.col("rb.n") * F.lit(1.0) * F.col("rb.n")), 9)
             .cast("decimal(25,9)"))
    haz = (ra.join(F.broadcast(rb), F.col("rb.day") <= F.col("ra.day"))
           .groupBy(F.col("ra.day").alias("day"),
                    F.col("ra.d").alias("n_events"),
                    F.col("ra.c").alias("n_censored"),
                    F.col("ra.n").alias("n_at_risk"))
           .agg(F.sum(hterm).alias("h"), F.sum(vterm).alias("v")))
    g6 = lambda c: F.floor(c.cast("double") * F.lit(1e6)  # noqa: E731
                           + F.lit(0.5)) / F.lit(1e6)
    return haz.select(
        F.col("day").cast("long").alias("day"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_censored").cast("long").alias("n_censored"),
        g6(F.col("h")).alias("cum_hazard"),
        g6(F.col("v")).alias("hazard_var"))


# ---------------------------------------------------------------------------
# Bradley-Terry strengths — the reward-model fit over preference pairs
# ---------------------------------------------------------------------------

#: fixed MM iteration count (fixed = SQL-replayable, the IRLS rule).
BT_ROUNDS = 3

#: single-task collapse cap on the DIRECTED pair frame (items²-bounded;
#: ~48 B/row → ≤ ~50 MB task working set at the cap). Below it the
#: whole MM fit runs in ONE mapInPandas task (_bt_single_task) instead
#: of 3 rounds × (2 joins + aggregate + normalization subquery) of
#: items-sized plan fragments — measured r12: the loop path schedules
#: 40 jobs / 133 one-task stages, pure per-job scheduler tax at this
#: state size (SCALE.md §13). Above the cap the temp-view round loop
#: below is the scale path (items² beyond the cap means a fat
#: preference matrix — then the distributed joins are the right shape).
BT_SINGLE_TASK_MAX = 1_000_000


def _bt_single_task(directed: DataFrame) -> DataFrame:
    """Whole-MM-fit-in-one-task kernel over the DIRECTED duel frame
    (i, j, w_ij, n_ij — one row per ordered pair with n_ij > 0).
    Callers MUST gate on BT_SINGLE_TASK_MAX.

    Bit-exactness contract (same discipline as the graph kernels'
    UTF-8/int arguments): every float op replays the _bt_round_sql
    text with IDENTICAL IEEE semantics — Python floats ARE doubles,
    `/` and `*` are left-associative in both grammars, math.floor on
    a double equals SQL FLOOR(DOUBLE), and the DECIMAL(25,0) per-item
    term sums are exact Python int sums. Per round, per item:
    denom_i = Σ_j floor(n_ij·1e9/(π_i+π_j) + 0.5)   (int sum),
    pr_i    = floor(((w_i/denom_i)·1e9)·1e6 + 0.5)/1e6,
    tot     = float(Σ_i floor(pr_i·1e6 + 0.5))/1e6,
    π_i     = floor(((pr_i·n)/tot)·1e6 + 0.5)/1e6
    — exactly the grid-snap sequence the SQL loop and the DuckDB
    oracle execute, so the result is hash-identical to both (pinned
    kernel-vs-loop in tests/test_eventstats.py)."""
    import math

    import pandas as pd

    def k(pdfs):
        empty = pd.DataFrame({
            "event_type": pd.Series([], dtype="object"),
            "n_wins": pd.Series([], dtype="int64"),
            "n_comparisons": pd.Series([], dtype="int64"),
            "strength": pd.Series([], dtype="float64")})
        parts = list(pdfs)
        if not parts:
            yield empty
            return
        e = pd.concat(parts, ignore_index=True)
        if not len(e):
            yield empty
            return
        wins: dict = {}
        pairs = []
        for i, j, w, nij in zip(e["i"], e["j"], e["w_ij"], e["n_ij"]):
            acc = wins.setdefault(i, [0, 0])
            acc[0] += int(w)
            acc[1] += int(nij)
            pairs.append((i, j, float(nij)))
        n = float(len(wins))
        pi = {it: 1.0 for it in wins}
        for _ in range(BT_ROUNDS):
            denom = {it: 0 for it in wins}
            for i, j, nij in pairs:
                denom[i] += int(math.floor(nij * 1e9 / (pi[i] + pi[j])
                                           + 0.5))
            pr = {it: math.floor(float(wins[it][0]) / float(denom[it])
                                 * 1e9 * 1e6 + 0.5) / 1e6
                  for it in wins}
            tot = float(sum(int(math.floor(v * 1e6 + 0.5))
                            for v in pr.values())) / 1e6
            pi = {it: math.floor(pr[it] * n / tot * 1e6 + 0.5) / 1e6
                  for it in wins}
        yield pd.DataFrame({
            "event_type": list(wins),
            "n_wins": pd.Series([v[0] for v in wins.values()],
                                dtype="int64"),
            "n_comparisons": pd.Series([v[1] for v in wins.values()],
                                       dtype="int64"),
            "strength": pd.Series([pi[it] for it in wins],
                                  dtype="float64")})

    return directed.coalesce(1).mapInPandas(
        k, "event_type string, n_wins long, n_comparisons long, "
           "strength double")


def _bt_g6(e: str) -> str:
    return f"FLOOR(({e}) * 1e6 + 5e-1) / 1e6"


def _bt_round_sql(pairs: str, pi: str, wins: str, k_items: str) -> str:
    """One Bradley-Terry MM round (Hunter 2004) as shared SQL text:
    per-pair terms n_ij/(pi_i+pi_j) snapped to 1e-9 and decimal-
    summed, pi' = W_i/denom snapped to 1e-6, then normalized to sum
    to the item count and snapped again — so every round starts from
    grid numbers on both engines."""
    raw = f"""
        SELECT w.item,
               {_bt_g6("w.n_wins * 1e0 / CAST(SUM(CAST(FLOOR("
                       "p.n_ij * 1e9 / (pa.pi + pb.pi) + 5e-1) "
                       "AS DECIMAL(25,0))) AS DOUBLE) * 1e9")} AS pr
        FROM {wins} w
        JOIN {pairs} p ON p.i = w.item
        JOIN {pi} pa ON pa.item = p.i
        JOIN {pi} pb ON pb.item = p.j
        GROUP BY w.item, w.n_wins
    """
    return f"""
        SELECT r.item,
               {_bt_g6("r.pr * (SELECT n FROM " + k_items + ") / "
                       "t.tot")} AS pi
        FROM ({raw}) r
        CROSS JOIN (SELECT CAST(SUM(CAST(FLOOR(pr * 1e6 + 5e-1)
                         AS DECIMAL(25,0))) AS DOUBLE) / 1e6 AS tot
                    FROM ({raw})) t
    """


def _bt_oracle_sql() -> str:
    base = """
    totals AS (
        SELECT user_id, event_type,
               SUM(CAST(value AS DECIMAL(25,6))) AS tot
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ),
    duels AS (
        SELECT a.event_type AS i, b.event_type AS j,
               CAST(SUM(CASE WHEN a.tot > b.tot THEN 1 ELSE 0 END)
                    AS BIGINT) AS w_ij
        FROM totals a JOIN totals b
          ON a.user_id = b.user_id AND a.event_type <> b.event_type
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT d.i, d.j, d.w_ij + r.w_ij AS n_ij
        FROM duels d JOIN duels r ON d.i = r.j AND d.j = r.i
        WHERE d.w_ij + r.w_ij > 0
    ),
    wins AS (
        SELECT i AS item, CAST(SUM(w_ij) AS BIGINT) AS n_wins,
               CAST(SUM(n_ij) AS BIGINT) AS n_comparisons
        FROM (SELECT d.i, d.w_ij, d.w_ij + r.w_ij AS n_ij
              FROM duels d JOIN duels r ON d.i = r.j AND d.j = r.i
              WHERE d.w_ij + r.w_ij > 0) u
        GROUP BY i
    ),
    k_items AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM wins),
    pi0 AS (SELECT item, 1e0 AS pi FROM wins)
    """
    ctes = ["WITH " + base.strip()]
    for r in range(1, BT_ROUNDS + 1):
        ctes.append(
            f"pi{r} AS ({_bt_round_sql('pairs', f'pi{r-1}', 'wins', 'k_items')})")
    return (", ".join(ctes) + f"""
    SELECT w.item AS event_type, w.n_wins, w.n_comparisons,
           p.pi AS strength
    FROM wins w JOIN pi{BT_ROUNDS} p ON p.item = w.item
    """)


@register(
    "bradley_terry_strengths",
    survey="LLM-pref,A6,J1,U3",
    oracle=_bt_oracle_sql(),
)
def bradley_terry_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRADLEY-TERRY strength fit over pairwise preferences — the
    model behind reward-model training data and chatbot-arena
    leaderboards: P(i beats j) = π_i/(π_i+π_j), fit by {BT_ROUNDS}
    fixed MM rounds (Hunter 2004: π_i ← W_i / Σ_j n_ij/(π_i+π_j),
    renormalized). Duels come from the same per-prompt preference
    frame as `dpo_pair_construction`: within each user, event type i
    beats j iff i's total reward exceeds j's (DECIMAL totals — the
    comparison can't flip on accumulation order); ties contribute no
    duel, the standard BT convention.

    Replay discipline (the IRLS playbook on a tiny state): the item
    universe is |event types| — the wins matrix is items², so every
    MM round is algebra over a broadcast-sized frame. Per-pair terms
    n_ij/(π_i+π_j) are snapped to the 1e-9 grid and decimal-summed
    (order-free); π updates and the normalization each snap back to
    the 1e-6 grid, so round r+1 starts from identical numbers on both
    engines; each round's π frame is localCheckpointed (items-sized,
    same discipline as directed/wins) before the next round references
    it, so the physical plan stays ONE round deep instead of doubling
    per round (_bt_round_sql inlines its input twice: the update and
    the tot normalization). View names are suffixed per invocation so
    two concurrent evaluations in one SparkSession can't race on
    createOrReplaceTempView. Plan: ONE user-keyed aggregate scans the
    events (map-combinable), the per-user duel join fans out ≤
    types² rows per user, and everything after is items²-bounded."""
    t = load_tables(spark, sf_dir, ("events",))
    totals = (t["events"].filter(F.col("value").isNotNull())
              .groupBy("user_id", "event_type")
              .agg(F.sum(F.col("value").cast("decimal(25,6)"))
                   .alias("tot"))
              # (user, type)-sized; checkpointed so the events scan +
              # aggregate runs ONCE for both sides of the duel join
              .localCheckpoint(eager=False))
    a, b = totals.alias("a"), totals.alias("b")
    duels = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                    & (F.col("a.event_type") != F.col("b.event_type")))
             .groupBy(F.col("a.event_type").alias("i"),
                      F.col("b.event_type").alias("j"))
             .agg(F.sum((F.col("a.tot") > F.col("b.tot")).cast("long"))
                  .alias("w_ij")))
    d, r = duels.alias("d"), duels.alias("r")
    directed = (d.join(r, (F.col("d.i") == F.col("r.j"))
                       & (F.col("d.j") == F.col("r.i")))
                .select(F.col("d.i").alias("i"), F.col("d.j").alias("j"),
                        F.col("d.w_ij").alias("w_ij"),
                        (F.col("d.w_ij") + F.col("r.w_ij"))
                        .alias("n_ij"))
                .filter(F.col("n_ij") > 0)
                .localCheckpoint(eager=False))  # items²-sized, reused
    # single-task collapse (r12, the graph-kernel precedent): the
    # count gate is one cheap job on the items²-bounded frame (and
    # doubles as the checkpoint materialization); below the cap the
    # whole 3-round MM fit runs in ONE task — kernel-vs-loop equality
    # pinned in tests, oracle unchanged (hash-identical by the
    # bit-exactness contract in _bt_single_task's docstring).
    if driver.fits(directed.count(), BT_SINGLE_TASK_MAX):
        return _bt_single_task(directed)
    wins = (directed.groupBy(F.col("i").alias("item"))
            .agg(F.sum("w_ij").cast("long").alias("n_wins"),
                 F.sum("n_ij").cast("long").alias("n_comparisons"))
            .localCheckpoint(eager=False))
    import uuid
    sfx = uuid.uuid4().hex[:8]
    pairs_v, wins_v, k_v = (f"bt_pairs_{sfx}", f"bt_wins_{sfx}",
                            f"bt_k_{sfx}")
    directed.createOrReplaceTempView(pairs_v)
    wins.createOrReplaceTempView(wins_v)
    spark.sql(f"SELECT item, CAST(1.0 AS DOUBLE) AS pi FROM {wins_v}") \
        .createOrReplaceTempView(f"bt_pi_0_{sfx}")
    spark.sql(f"SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {wins_v}") \
        .createOrReplaceTempView(k_v)
    cur = f"bt_pi_0_{sfx}"
    for rd in range(1, BT_ROUNDS + 1):
        # items-sized checkpoint: the round SQL inlines its input
        # twice, so without this the plan doubles per round
        nxt = spark.sql(_bt_round_sql(pairs_v, cur, wins_v, k_v)) \
            .localCheckpoint(eager=False)
        nxt.createOrReplaceTempView(f"bt_pi_{rd}_{sfx}")
        cur = f"bt_pi_{rd}_{sfx}"
    return spark.sql(f"""
        SELECT w.item AS event_type, w.n_wins, w.n_comparisons,
               p.pi AS strength
        FROM {wins_v} w JOIN {cur} p ON p.item = w.item
    """)


# ---------------------------------------------------------------------------
# exact Shapley-value attribution — the game-theoretic credit split
# ---------------------------------------------------------------------------

#: touch channels and their bitmask bits (purchase is the conversion).
SHAPLEY_CHANNELS = (("view", 1), ("click", 2), ("signup", 4), ("error", 8))
#: |channels|! — the Shapley denominator, kept integer until the end.
_SHAP_NFACT = 24
#: coalition-size weights |S|!(n-1-|S|)! for n=4: index = |S|.
_SHAP_W = (6, 2, 2, 6)


def _shapley_oracle() -> str:
    in_list = ", ".join(f"'{c}'" for c, _ in SHAPLEY_CHANNELS)
    bit_case = " ".join(f"WHEN '{c}' THEN {b}"
                        for c, b in SHAPLEY_CHANNELS)
    w_case = " ".join(f"WHEN {s} THEN {w}"
                      for s, w in enumerate(_SHAP_W))
    chan_rows = ", ".join(f"('{c}', {b})" for c, b in SHAPLEY_CHANNELS)
    return f"""
    WITH fp AS (
        SELECT user_id, MIN(ts) AS p_ts FROM events
        WHERE event_type = 'purchase' GROUP BY 1
    ), masks AS (
        SELECT e.user_id,
               CAST(bit_or(CASE e.event_type {bit_case} END)
                    AS BIGINT) AS m
        FROM events e JOIN fp ON e.user_id = fp.user_id
        WHERE e.event_type IN ({in_list}) AND e.ts < fp.p_ts
        GROUP BY e.user_id
    ), cnt AS (
        SELECT m, CAST(COUNT(*) AS BIGINT) AS c FROM masks GROUP BY m
    ), subsets AS (
        SELECT CAST(unnest(generate_series(0, 15)) AS BIGINT) AS s
    ), v AS (
        SELECT s.s, CAST(COALESCE(SUM(c.c), 0) AS BIGINT) AS v
        FROM subsets s LEFT JOIN cnt c ON (c.m & s.s) = c.m
        GROUP BY s.s
    ), chan AS (
        SELECT * FROM (VALUES {chan_rows}) AS t(channel, bit)
    ), marg AS (
        SELECT ch.channel,
               CAST(SUM((CASE bit_count(v0.s) {w_case} END)
                        * (v1.v - v0.v)) AS BIGINT) AS phi24
        FROM chan ch
        JOIN v v0 ON (v0.s & ch.bit) = 0
        JOIN v v1 ON v1.s = (v0.s | ch.bit)
        GROUP BY ch.channel
    ), touched AS (
        SELECT ch.channel,
               CAST(COALESCE(SUM(c.c), 0) AS BIGINT) AS n_users_touched
        FROM chan ch LEFT JOIN cnt c ON (c.m & ch.bit) <> 0
        GROUP BY ch.channel
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS attributable FROM cnt
    )
    SELECT m.channel, t.n_users_touched, m.phi24,
           m.phi24 / {_SHAP_NFACT}e0 AS phi,
           FLOOR(m.phi24 * 1e0 / ({_SHAP_NFACT}e0 * tot.attributable)
                 * 1e6 + 0.5) / 1e6 AS share
    FROM marg m JOIN touched t ON t.channel = m.channel
    CROSS JOIN tot
    """


def _shapley_from_cnt(spark: SparkSession, rows) -> DataFrame:
    """shapley_attribution's coalition-lattice algebra resolved on the
    driver from the collected mask census (≤15 rows BY DOMAIN — masks
    are non-zero 4-bit ints). Everything up to the two final divides
    is exact integer arithmetic (order-free); phi replays
    phi24 / 24.0 and share replays FLOOR(phi24·1.0/(24.0·attributable)
    ·1e6 + 0.5)/1e6 — the identical IEEE op sequence the Spark
    expressions execute. Pinned driver-vs-distributed bitwise in
    tests/test_eventstats.py."""
    import math

    cnt = {int(r["m"]): int(r["c"]) for r in rows}
    v = {s: sum(c for m, c in cnt.items() if (m & s) == m)
         for s in range(16)}
    attributable = sum(cnt.values())
    out = []
    for channel, bit in SHAPLEY_CHANNELS:
        phi24 = sum(_SHAP_W[bin(s).count("1")] * (v[s | bit] - v[s])
                    for s in range(16) if (s & bit) == 0)
        touched = sum(c for m, c in cnt.items() if (m & bit) != 0)
        phi = phi24 / float(_SHAP_NFACT)
        share = math.floor(phi24 * 1.0 / (float(_SHAP_NFACT)
                                          * attributable)
                           * 1e6 + 0.5) / 1e6
        out.append((channel, touched, phi24, phi, share))
    return driver.local_frame(
        spark, out, "channel string, n_users_touched long, phi24 long, "
                    "phi double, share double")


@register(
    "shapley_attribution",
    survey="ext-events,A6,J1,F12",
    oracle=_shapley_oracle(),
)
def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value attribution over the four touch channels —
    the game-theoretic credit split (the third classic next to
    `multi_touch_attribution`'s linear rule and `markov_attribution`'s
    removal effects): φ_i = Σ_{{S∌i}} |S|!(n−1−|S|)!/n! · (v(S∪i)−v(S)),
    where v(S) counts conversions whose pre-purchase touch set is
    covered by S. With n=4 channels the 2⁴ coalition lattice is
    enumerated EXACTLY — no sampling — and by keeping the n!
    denominator symbolic (phi24 = 24·φ is an integer) every marginal
    stays in integer arithmetic until one final divide. Efficiency
    axiom Σφ_i = v(full) = all attributable conversions is pinned in
    tests — the property the heuristic rules violate.

    Plan: one user-keyed MIN (first purchase), one user-keyed BIT_OR
    (touch bitmask — a map-combinable integer aggregate, the whole
    journey compresses to 4 bits), a ≤15-row mask census, and the
    lattice algebra is broadcast joins over 16-row frames. At 100 TB
    the only fact-sized work is the two user-keyed aggregates; the
    Shapley computation itself is constant-size. Conversions with no
    prior touch are excluded from v by construction (unattributable);
    masks-subset matching uses (m & S) = m on both engines."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    chans = {c: b for c, b in SHAPLEY_CHANNELS}
    fp = (ev.filter(F.col("event_type") == "purchase")
          .groupBy("user_id").agg(F.min("ts").alias("p_ts")))
    bit = F.create_map(*[F.lit(x) for cb in SHAPLEY_CHANNELS
                         for x in cb])[F.col("event_type")]
    masks = (ev.filter(F.col("event_type").isin(*chans))
             .join(fp, "user_id")
             .filter(F.col("ts") < F.col("p_ts"))
             .select("user_id", bit.alias("bit"))
             .groupBy("user_id")
             .agg(F.expr("bit_or(bit)").cast("long").alias("m")))
    cnt = (masks.groupBy("m").agg(F.count("*").alias("c"))
           .localCheckpoint(eager=False))  # <=15 rows, reused 3x
    # driver resolution (r13): the census is ≤15 rows BY DOMAIN (4-bit
    # non-zero masks) — the one collect doubles as the checkpoint
    # materialization; empty census (no conversions) falls through to
    # the distributed lattice, whose NaN/NULL shape is the pinned
    # degenerate behavior.
    tab = driver.bounded_collect(cnt, 15)
    if tab:
        return _shapley_from_cnt(spark, tab)
    subsets = spark.range(16).select(F.col("id").alias("s"))
    v = (subsets.join(F.broadcast(cnt),
                      (F.col("m").bitwiseAND(F.col("s")) == F.col("m")),
                      "left")
         .groupBy("s")
         .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("v"))
         .localCheckpoint(eager=False))  # 16 rows, joined twice
    chan = driver.local_frame(spark, list(SHAPLEY_CHANNELS),
                              "channel string, bit long")
    w_expr = F.element_at(
        F.array(*[F.lit(w) for w in _SHAP_W]),
        F.bit_count(F.col("v0.s")).cast("int") + 1).cast("long")
    v0, v1 = v.alias("v0"), v.alias("v1")
    marg = (chan.join(F.broadcast(v0),
                      F.col("v0.s").bitwiseAND(F.col("bit")) == 0)
            .join(F.broadcast(v1),
                  F.col("v1.s") == F.col("v0.s").bitwiseOR(F.col("bit")))
            .groupBy("channel")
            .agg(F.sum(w_expr * (F.col("v1.v") - F.col("v0.v")))
                 .cast("long").alias("phi24")))
    touched = (chan.join(F.broadcast(cnt),
                         F.col("m").bitwiseAND(F.col("bit")) != 0,
                         "left")
               .groupBy("channel")
               .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long")
                    .alias("n_users_touched")))
    tot = cnt.agg(F.sum("c").cast("long").alias("attributable"))
    return (marg.join(touched, "channel")
            .crossJoin(F.broadcast(tot))
            .select("channel", "n_users_touched", "phi24",
                    (F.col("phi24") / F.lit(float(_SHAP_NFACT)))
                    .alias("phi"),
                    (F.floor(F.col("phi24") * F.lit(1.0)
                             / (F.lit(float(_SHAP_NFACT))
                                * F.col("attributable"))
                             * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
                    .alias("share")))


# ---------------------------------------------------------------------------
# top conversion paths — the ordered-journey report
# ---------------------------------------------------------------------------

#: how many distinct paths the report keeps.
PATH_TOPK = 10
#: journey length cap (defensive truncation for pathological users).
PATH_MAX_STEPS = 8


@register(
    "conversion_path_topk",
    survey="ext-events,A6,W1,W7,F1",
    oracle=f"""
    WITH fp AS (
        SELECT user_id, MIN(ts) AS p_ts FROM events
        WHERE event_type = 'purchase' GROUP BY 1
    ), steps AS (
        SELECT e.user_id, e.event_type, e.ts, e.event_id
        FROM events e JOIN fp ON e.user_id = fp.user_id
        WHERE e.ts < fp.p_ts AND e.event_type <> 'purchase'
    ), ranked AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM steps
    ), paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path,
               CAST(COUNT(*) AS BIGINT) AS n_steps
        FROM ranked WHERE rn <= {PATH_MAX_STEPS}
        GROUP BY user_id
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM paths)
    SELECT p.path, p.n_steps,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           FLOOR(COUNT(*) * 1e0 / MAX(t.n) * 1e6 + 0.5) / 1e6
               AS user_share
    FROM paths p CROSS JOIN tot t
    GROUP BY p.path, p.n_steps
    ORDER BY n_users DESC, p.path
    LIMIT {PATH_TOPK}
    """,
)
def conversion_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP CONVERSION PATHS — the ordered pre-purchase journey report
    ('view>click>view>signup', counted across converting users) that
    every funnel dashboard ships next to the stage-level funnel:
    `funnel_conversion` says HOW MANY reach each stage,
    `prefixspan_event_patterns` mines frequent SUBsequences; this
    reports the literal full paths, ranked by user count, the shape
    attribution teams eyeball before choosing a model
    (`multi_touch_attribution` / `markov_attribution` /
    `shapley_attribution` then price it). Journeys are truncated at
    {PATH_MAX_STEPS} steps — the standard defensive cap that keeps a
    pathological user from minting a unique path.

    Determinism: step order is (ts, event_id) — a total order; the
    path string is an ORDERED aggregation both engines define
    identically (sort_array of (rn, type) structs on the Spark side,
    string_agg ORDER BY rn in DuckDB); counts are integers and the
    only float is the share (1e-6 snap). The top-K cut orders by
    (n_users DESC, path) — total order. Plan: one user-keyed MIN, a
    user-partitioned row_number (never global), one user-keyed
    ordered collect bounded at {PATH_MAX_STEPS} elements, one
    path-keyed count, one TakeOrdered({PATH_TOPK})."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    fp = (ev.filter(F.col("event_type") == "purchase")
          .groupBy("user_id").agg(F.min("ts").alias("p_ts")))
    steps = (ev.join(fp, "user_id")
             .filter((F.col("ts") < F.col("p_ts"))
                     & (F.col("event_type") != "purchase"))
             .select("user_id", "event_type", "ts", "event_id"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = (steps.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= PATH_MAX_STEPS))
    paths = (ranked.groupBy("user_id")
             .agg(F.concat_ws(
                 ">", F.transform(
                     F.sort_array(F.collect_list(
                         F.struct("rn", "event_type"))),
                     lambda s: s["event_type"])).alias("path"),
                 F.count("*").alias("n_steps")))
    tot = paths.agg(F.count("*").alias("n"))
    return (paths.crossJoin(F.broadcast(tot))
            .groupBy("path", "n_steps")
            .agg(F.count("*").alias("n_users"),
                 (F.floor(F.count("*") * F.lit(1.0) / F.max("n")
                          * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
                 .alias("user_share"))
            .orderBy(F.col("n_users").desc(), "path")
            .limit(PATH_TOPK))
