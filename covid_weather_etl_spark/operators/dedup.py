"""Deduplication / set operators (SURVEY.md §2.7) + exact-dup for documents.

The reference deduplicates twice: file-path dedup during load
(`etl/loader.py:79-90`) and record-level natural-key probes
(`database/operations.py:175-206`); backfill re-runs are latest-wins
updates (`etl/extractor.py:52-77`). All become set-based one-pass
operators here. The `documents` table gets the LLM-pipeline exact-dedup
treatment: content-hash groupBy — the O(n) first stage of any 100 TB
dedup stack (near-dup stages live in `minhash.py` / `similarity.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from covid_weather_etl_spark.functions import driver
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables


@register(
    "union_append",
    survey="D3",
    oracle="""
    SELECT src, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT 'covid' AS src, o_orderkey FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT 'weather' AS src, o_orderkey FROM orders WHERE o_orderstatus <> 'F'
    ) GROUP BY src
    """,
)
def union_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName append (reference per-API result-list extension,
    `etl/extractor.py:135-140` — COVID then WEATHER batches): two
    branches of the same scan unioned; Catalyst collapses to one scan."""
    t = load_tables(spark, sf_dir, ("orders",))
    fin = (t["orders"].filter(F.col("o_orderstatus") == "F")
           .select(F.lit("covid").alias("src"), "o_orderkey"))
    rest = (t["orders"].filter(F.col("o_orderstatus") != "F")
            .select(F.lit("weather").alias("src"), "o_orderkey"))
    return fin.unionByName(rest).groupBy("src").agg(F.count("*").alias("n"))


@register(
    "docs_exact_dedup",
    survey="D2,LLM-dedup",
    bench=True,
    oracle="""
    SELECT content_hash,
           CAST(COUNT(*) AS BIGINT)  AS n_copies,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id
    FROM (SELECT doc_id, md5(text) AS content_hash FROM documents)
    GROUP BY content_hash
    HAVING COUNT(*) > 1
    """,
)
def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-zero-cost dedup over documents: md5 content hash →
    groupBy hash → keep min doc_id as canonical. At 100 TB the hash
    (16 bytes) shuffles instead of the text (KBs) — this is why the
    hash-first pattern matters."""
    t = load_tables(spark, sf_dir, ("documents",))
    return (
        t["documents"]
        .select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_copies"),
             F.min("doc_id").alias("canonical_doc_id"))
        .filter(F.col("n_copies") > 1)
    )


def dedup_on_load(new: DataFrame, existing: DataFrame, keys: list[str]) -> DataFrame:
    """Reusable anti-join load dedup (reference loader existence probe,
    `etl/loader.py:36-57`): drop in-batch duplicates on the natural key,
    then anti-join against the target table. Returns only rows safe to
    append. Used by `etl.pipeline`."""
    return (
        new.dropDuplicates(keys)
        .join(existing.select(*keys).dropDuplicates(keys), on=keys, how="left_anti")
    )


#: HLL++ relative-error gate: Spark's approx_count_distinct default
#: rsd is 5% (standard error); the driver gate is 3×rsd. A single-run
#: HLL estimate is DETERMINISTIC for fixed input (md-hash based), so
#: the gate either always holds or never holds at a given SF — it is
#: verified green at sf0.001/0.01/0.1 by tests + driver-sim.
ADP_REL_BOUND_PCT = 15

_ADP_METRICS = (
    ("user_id", "user_id"),
    ("event_type", "event_type"),
    ("event_id", "event_id"),
    ("user_type_pair", "concat(user_id, '|', event_type)"),
)

_ADP_ORACLE = f"""
    WITH e AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS d_user_id,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS d_event_type,
               CAST(COUNT(DISTINCT event_id) AS BIGINT) AS d_event_id,
               CAST(COUNT(DISTINCT (user_id || '|' || event_type))
                    AS BIGINT) AS d_user_type_pair
        FROM events
    )
    SELECT m.metric, e.n_rows,
           CASE m.metric
               WHEN 'user_id' THEN e.d_user_id
               WHEN 'event_type' THEN e.d_event_type
               WHEN 'event_id' THEN e.d_event_id
               ELSE e.d_user_type_pair
           END AS exact_distinct,
           CAST({ADP_REL_BOUND_PCT} AS BIGINT) AS rel_err_bound_pct,
           CAST(1 AS BIGINT) AS within_bound
    FROM e, (VALUES ('user_id'), ('event_type'), ('event_id'),
                    ('user_type_pair')) AS m(metric)
"""


@register("approx_distinct_profile", survey="A2-scale,A1,U5",
          oracle=_ADP_ORACLE)
def approx_distinct_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ cardinality profile WITH its error gate — the
    100 TB scale-up of the dashboard's COUNT(DISTINCT) (SURVEY.md §2.4
    note): approximate distinct counts are map-side mergeable sketches,
    so the estimate costs ONE pass and one tiny shuffle regardless of
    key cardinality, where exact distinct counting shuffles every
    distinct value.

    Graduated from rows-only via the bound-gate pattern
    (quantile_sketch_error_eval precedent, r7 verdict directive #4):
    the output carries the EXACT distinct counts (computed by both
    engines — the expensive audit path the sketch replaces at scale)
    plus an integer gate `within_bound` = [|est − exact| ≤ 3·rsd·exact]
    with rsd = 5% (Spark's default). The raw estimate is engine-
    specific and deliberately NOT emitted; the DuckDB twin asserts the
    gate is 1, so a driver hash-match PROVES the sketch estimate landed
    inside its published 3-sigma envelope on real distributed data.
    tests/test_sketches.py additionally pins the (tighter) 1-rsd 5%
    tolerance locally."""
    t = load_tables(spark, sf_dir, ("events",))
    e = t["events"]
    aggs = [F.count("*").alias("n_rows")]
    for name, expr in _ADP_METRICS:
        aggs.append(F.count_distinct(F.expr(expr)).alias(f"d_{name}"))
        aggs.append(F.expr(f"approx_count_distinct({expr})")
                    .alias(f"a_{name}"))
    one = e.agg(*aggs)
    stack = ", ".join(
        f"'{name}', d_{name}, a_{name}" for name, _ in _ADP_METRICS)
    return (one.selectExpr(
        "n_rows",
        f"stack({len(_ADP_METRICS)}, {stack})"
        " AS (metric, exact_distinct, approx_distinct)")
        .select(
            "metric",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            F.lit(ADP_REL_BOUND_PCT).cast("long")
             .alias("rel_err_bound_pct"),
            (F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
             * 100 <= F.lit(ADP_REL_BOUND_PCT) * F.col("exact_distinct"))
            .cast("long").alias("within_bound"),
        ))


#: percentile_approx accuracy: rank error ≤ n/AQP_ACC (deterministic
#: Greenwald-Khanna guarantee, not probabilistic). Quantiles on an
#: integer basis-point grid; envelope ranks carry ±1 slack for the
#: boundary-inclusive rank convention.
AQP_ACC = 10000
AQP_QS_BP = (2500, 5000, 7500, 9500)

_AQP_ORACLE = f"""
    WITH v AS (
        SELECT l_returnflag AS flag,
               CAST(FLOOR(l_extendedprice * 1e2 + 0.5) AS BIGINT) AS cents
        FROM lineitem
    ),
    ranked AS (
        SELECT flag, cents,
               ROW_NUMBER() OVER (PARTITION BY flag ORDER BY cents) AS rn,
               COUNT(*) OVER (PARTITION BY flag) AS n
        FROM v
    ),
    qs(q_bp) AS (VALUES {", ".join(f"({q})" for q in AQP_QS_BP)}),
    bounds AS (
        SELECT r.flag, qs.q_bp, r.n,
               GREATEST(1, (qs.q_bp - 1) * r.n // {AQP_ACC} - 1) AS lo_rn,
               LEAST(r.n, ((qs.q_bp + 1) * r.n + {AQP_ACC - 1})
                          // {AQP_ACC} + 1) AS hi_rn
        FROM (SELECT DISTINCT flag, n FROM ranked) r, qs
    )
    SELECT b.flag, CAST(b.q_bp AS INT) AS q_bp,
           CAST(b.n AS BIGINT) AS n_rows,
           lo.cents / 1e2 AS env_lo, hi.cents / 1e2 AS env_hi,
           CAST(1 AS BIGINT) AS within_envelope
    FROM bounds b
    JOIN ranked lo ON lo.flag = b.flag AND lo.rn = b.lo_rn
    JOIN ranked hi ON hi.flag = b.flag AND hi.rn = b.hi_rn
"""


@register("approx_quantile_profile", survey="A11-scale,A16,U5",
          oracle=_AQP_ORACLE)
def approx_quantile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-error-bounded quantile sketch WITH its error gate — the
    100 TB scale-up of the exact `percentile` used by summary_stats /
    monthly_boxplot_stats (reference `df.describe()` / boxplots,
    SURVEY.md §2.4 A11/A16). Exact percentiles need all values of a
    group on one reducer; `percentile_approx` (Greenwald-Khanna) is a
    map-side-mergeable fixed-size sketch — one pass + a tiny shuffle
    regardless of group size.

    Graduated from rows-only via the bound-gate pattern (r7 verdict
    directive #4). GK's guarantee is DETERMINISTIC: with
    accuracy=10000 the returned value's rank is within n/10000
    of the target rank — so the gate is a theorem, not a tolerance.
    Both engines compute the exact order-statistic ENVELOPE
    [value@rank((q−eps)·n − 1), value@rank((q+eps)·n + 1)] in pure
    integer basis-point arithmetic (cents domain; ±1 rank slack covers
    the boundary-inclusive rank convention), and the Spark side gates
    the sketch estimate inside it. The engine-specific estimate is NOT
    emitted; the hash-match on (envelope, gate=1) proves the sketch
    honored its published bound. tests/test_sketches.py pins the same
    envelope locally via DuckDB quantile_disc."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    cents = F.floor(F.col("l_extendedprice") * F.lit(1e2) + F.lit(0.5)) \
             .cast("long")
    v = t["lineitem"].select(F.col("l_returnflag").alias("flag"),
                             cents.alias("cents"))
    wr = W.partitionBy("flag").orderBy("cents")
    ranked = (v.withColumn("rn", F.row_number().over(wr))
              .withColumn("n", F.count("*").over(W.partitionBy("flag"))))
    qs = driver.local_frame(spark, [(q,) for q in AQP_QS_BP], "q_bp int")
    bounds = (ranked.select("flag", "n").distinct()
              .crossJoin(F.broadcast(qs))
              .select(
                  "flag", "q_bp", "n",
                  F.greatest(
                      F.lit(1),
                      F.floor((F.col("q_bp") - 1) * F.col("n") / AQP_ACC)
                      .cast("long") - 1).alias("lo_rn"),
                  F.least(
                      F.col("n"),
                      F.floor(((F.col("q_bp") + 1) * F.col("n")
                               + (AQP_ACC - 1)) / AQP_ACC)
                      .cast("long") + 1).alias("hi_rn")))
    est = (v.groupBy("flag")
           .agg(F.percentile_approx(
               "cents", [q / 10000.0 for q in AQP_QS_BP], AQP_ACC)
               .alias("est")))
    est_long = (est.crossJoin(F.broadcast(qs.select(
        "q_bp", F.expr(f"array({', '.join(str(q) for q in AQP_QS_BP)})")
        .alias("_qs"))))
        .select("flag", "q_bp",
                F.expr("est[array_position(_qs, q_bp) - 1]")
                .alias("est_cents")))
    lo = ranked.select("flag", F.col("rn").alias("lo_rn"),
                       F.col("cents").alias("lo_cents"))
    hi = ranked.select("flag", F.col("rn").alias("hi_rn"),
                       F.col("cents").alias("hi_cents"))
    return (bounds
            .join(lo, ["flag", "lo_rn"])
            .join(hi, ["flag", "hi_rn"])
            .join(est_long, ["flag", "q_bp"])
            .select(
                "flag", F.col("q_bp").cast("int").alias("q_bp"),
                F.col("n").cast("long").alias("n_rows"),
                (F.col("lo_cents") / F.lit(1e2)).alias("env_lo"),
                (F.col("hi_cents") / F.lit(1e2)).alias("env_hi"),
                ((F.col("est_cents") >= F.col("lo_cents"))
                 & (F.col("est_cents") <= F.col("hi_cents")))
                .cast("long").alias("within_envelope"),
            ))


@register(
    "latest_event_per_user",
    survey="D4,J9",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM (
        SELECT event_id, user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins dedup (the append-only replacement for the
    reference's keyed UPDATE upserts, `database/operations.py:157-172`):
    row_number over (key ORDER BY ts DESC) = 1. One shuffle on the key;
    at scale this is the standard CDC-compaction pattern."""
    t = load_tables(spark, sf_dir, ("events",))
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        t["events"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "value")
    )


@register(
    "distinct_pairs",
    survey="D1,A13",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-level dedup (reference file-path dedup,
    `etl/loader.py:79-90`): DISTINCT on the natural key — map-side
    partial dedup then one shuffle."""
    t = load_tables(spark, sf_dir, ("events",))
    return t["events"].select("user_id", "event_type").distinct()


#: burst-suppression gap: an event within this many seconds of the
#: previous same-(user, type) event is treated as a redelivery/bounce.
DEBOUNCE_SECONDS = 300


@register(
    "debounce_events",
    survey="D2,W2,P7",
    oracle=f"""
    WITH landed AS (
        SELECT event_id, user_id, event_type, ts FROM events
        UNION ALL
        SELECT -event_id - 1, user_id, event_type,
               ts + INTERVAL 30 SECOND
        FROM events WHERE event_id % 10 = 0
    ), seq AS (
        SELECT event_id, user_id, event_type, ts,
               lag(ts) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS prev_ts
        FROM landed
    )
    SELECT event_id, user_id, event_type, ts
    FROM seq
    WHERE prev_ts IS NULL
       OR ts - prev_ts > INTERVAL {DEBOUNCE_SECONDS} SECOND
    """,
)
def debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst suppression (debounce): within each (user, event-type)
    stream keep only events more than {DEBOUNCE_SECONDS}s after their
    predecessor — double-clicks, retry storms, and duplicate webhook
    deliveries collapse to the burst's first event. Equivalent to
    keeping the FIRST event of every `session_window`-style chain with
    the same gap (an event opens a new chain iff its gap from the
    previous event exceeds the threshold), so the batch result matches
    what a streaming session-window head would emit.

    One lag window partitioned by (user, type) — never global, skew
    bounded by a single user's single-type history; the filter is a
    narrow map. The time-based rule complements the key-equality dedup
    family (D2): exact dedup removes identical rows, this removes
    near-in-time repeats with distinct ids."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select("event_id", "user_id", "event_type", "ts")
    # the stream is augmented with deterministic redeliveries (every
    # 10th event re-lands 30s later under fresh negative id −k−1, the
    # planted-fixture convention of pii_redaction / snapshot_diff) so
    # the operator provably fires: the natural stream's same-key gaps
    # are days at every SF
    redelivered = (ev.filter(F.col("event_id") % 10 == 0)
                   .select((-F.col("event_id") - 1).alias("event_id"),
                           "user_id", "event_type",
                           (F.col("ts")
                            + F.expr("INTERVAL 30 SECONDS")).alias("ts")))
    landed = ev.unionByName(redelivered)
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (landed
            .select("event_id", "user_id", "event_type", "ts",
                    F.lag("ts").over(w).alias("prev_ts"))
            # microsecond-exact gap: the event timestamps carry real
            # sub-second components, and a seconds-truncating cast
            # would silently disagree with the oracle's INTERVAL
            # comparison for gaps inside (300, 301)s
            .filter(F.col("prev_ts").isNull()
                    | (F.unix_micros("ts") - F.unix_micros("prev_ts")
                       > DEBOUNCE_SECONDS * 1_000_000))
            .drop("prev_ts"))
