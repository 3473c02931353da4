"""Mergeable-sketch rollups: incremental COUNT(DISTINCT) via HLL union.

The 100 TB pattern for distinct counts over time: you cannot afford to
re-scan a year of raw events to refresh a monthly distinct-users
number, and exact distinct state (a set per group) does not merge.
HyperLogLog sketches DO: daily register states union losslessly into
monthly/yearly states, so each day is scanned ONCE ever and every
coarser rollup is sketch algebra over tiny payloads (the Dataflow /
druid / BigQuery "sketch rollup" architecture). Spark 3.5+ exposes
this natively: `hll_sketch_agg` / `hll_union_agg` /
`hll_sketch_estimate` — JVM-side Apache DataSketches, no UDFs.

The query materializes the daily sketch layer, unions it to months,
and reports approx vs exact side by side. Rows-only driver check
(estimates are approximate by nature); tests pin the ≤5 % error
envelope AND the lossless-merge property (union-of-dailies estimate
== one-shot monthly sketch estimate, register-exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from covid_weather_etl_spark.functions import driver
from covid_weather_etl_spark.functions.numeric import (
    fround, fround_sql, fround_val, md5_int,
)
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables

LG_K = 12  # 4096 registers → ~1.6 % standard error


def daily_user_sketches(ev: DataFrame) -> DataFrame:
    """The persisted layer: one HLL register state per day. At scale
    this is the only pass over raw events; everything coarser unions
    these states."""
    return (ev.groupBy(F.date_trunc("day", "ts").alias("day"))
            .agg(F.hll_sketch_agg("user_id", F.lit(LG_K)).alias("sk"),
                 F.count("*").alias("n_events")))


# ---------------------------------------------------------------------------
# portable deterministic HLL: md5-derived registers as exact integer
# column algebra, reproducible bit-for-bit on any engine
# ---------------------------------------------------------------------------
#
# The native DataSketches path above (daily_user_sketches) is the pure-
# Spark production layer; these registered queries instead build the
# registers EXPLICITLY so the whole sketch — hash, bucket, rho, merge,
# estimate — is portable column algebra with a full DuckDB twin (the
# BigQuery/Druid "portable sketch format" idea, done as SQL):
#
# - 60-bit hash H = first 15 hex chars of md5(value)  (cross-engine:
#   Spark conv(hex,16,10) == DuckDB ('0x'||hex)::BIGINT, verified);
#   at 100 TB swap md5 for xxhash64 — same algebra, engine-local hash
# - bucket = H >> 48 (p=12, m=4096 registers); r = low 48 bits;
#   rho = 49 - bitlength(r) (exact integer math via bin()-string
#   length on both engines; r=0 -> 49)
# - register state = MAX(rho) per (group, bucket): merge/rollup is an
#   integer MAX — associative, commutative, order-free, so daily ->
#   monthly union is lossless BY CONSTRUCTION and the driver's hash
#   compare against the one-shot DuckDB twin proves it
# - estimate: Z-sum accumulated as the exact integer
#   sum(2^(49-rho)) (every term a power of two; BIGINT, order-free)
#   so the only floating math is a handful of single-value IEEE ops
#   identical on both engines, plus one ln() in the linear-counting
#   branch (fround-rounded; see functions.numeric)

HLL_P = 12                       #: bucket bits -> m = 4096 registers
HLL_M = 1 << HLL_P
HLL_RBITS = 60 - HLL_P           #: rank bits below the bucket field
_HLL_MASK = (1 << HLL_RBITS) - 1
_HLL_RHO0 = HLL_RBITS + 1        #: rho scale: empty register term 2^49
_HLL_EMPTY = 1 << _HLL_RHO0
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
_HLL_NUM = float(HLL_M) * float(HLL_M) * float(_HLL_EMPTY)  # m^2 * 2^49


def hll_register_cols(value):
    """(bucket, rho) columns of the portable sketch for one value
    expression — pure JVM-side column algebra, no UDF."""
    h = md5_int(value.cast("string"), 15)
    bucket = F.shiftright(h, HLL_RBITS).cast("int")
    r = h.bitwiseAND(F.lit(_HLL_MASK))
    rho = (F.when(r == 0, F.lit(_HLL_RHO0))
           .otherwise(F.lit(_HLL_RHO0) - F.length(F.bin(r)))).cast("int")
    return bucket, rho


def hll_estimate(regs: DataFrame, group_cols: list) -> DataFrame:
    """Registers (group..., bucket, mx) -> (group..., hll_est). The
    Z-sum is an exact BIGINT (shiftleft terms), so the estimate is a
    deterministic function of the register STATE, independent of
    partitioning/accumulation order."""
    scaled = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_RHO0} - mx AS INT))")
    agg = (regs.groupBy(*group_cols)
           .agg(F.sum(scaled).alias("s_present"),
                F.count("*").alias("n_present")))
    v = F.lit(HLL_M) - F.col("n_present")
    s_total = (F.col("s_present") + v * F.lit(_HLL_EMPTY)).cast("double")
    e_raw = F.lit(HLL_ALPHA) * F.lit(_HLL_NUM) / s_total
    est = (F.when((e_raw <= F.lit(2.5 * HLL_M)) & (v > 0),
                  F.lit(float(HLL_M))
                  * F.log(F.lit(float(HLL_M)) / v.cast("double")))
           .otherwise(e_raw))
    return agg.select(*group_cols, est.alias("hll_est"))


def _hll_sql(group_expr: str, group_alias: str, source_sql: str) -> str:
    """DuckDB twin of hll_register_cols + hll_estimate: CTE text
    producing (group_alias, e) from `source_sql` (must expose user_id
    and the group expression's inputs)."""
    e_raw = (f"((0.7213 / (1.0 + 1.079 / {HLL_M}.0)) * {_HLL_NUM!r} "
             f"/ CAST(s_present + ({HLL_M} - n_present) * {_HLL_EMPTY} "
             f"AS DOUBLE))")
    return f"""
    hashed AS (
        SELECT {group_expr} AS {group_alias},
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM {source_sql}
    ), regs AS (
        SELECT {group_alias}, h >> {HLL_RBITS} AS bucket,
               MAX(CASE WHEN (h & {_HLL_MASK}) = 0 THEN {_HLL_RHO0}
                        ELSE {_HLL_RHO0} - length(bin(h & {_HLL_MASK}))
                   END) AS mx
        FROM hashed GROUP BY 1, 2
    ), acc AS (
        SELECT {group_alias},
               SUM(1::BIGINT << CAST({_HLL_RHO0} - mx AS INT)) AS s_present,
               COUNT(*) AS n_present
        FROM regs GROUP BY 1
    ), est AS (
        SELECT {group_alias},
               CASE WHEN {e_raw} <= {2.5 * HLL_M!r}
                         AND ({HLL_M} - n_present) > 0
                    THEN {HLL_M}.0 * ln({HLL_M}.0 / ({HLL_M} - n_present))
                    ELSE {e_raw} END AS e
        FROM acc
    )"""


@register(
    "hll_monthly_rollup",
    survey="ext-sketch,A2,A7",
    oracle=f"""
    WITH {_hll_sql("date_trunc('month', ts)", "month", "events")},
    rounded AS (
        SELECT month, {fround_sql('e')} AS hll_users FROM est
    ), ex AS (
        SELECT date_trunc('month', ts) AS month,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
        FROM events GROUP BY 1
    )
    SELECT ex.month, ex.n_events, ex.exact_users, r.hll_users,
           {fround_sql('ABS(r.hll_users - ex.exact_users)'
                       ' / ex.exact_users')} AS rel_err
    FROM ex JOIN rounded r USING (month)
    """,
)
def hll_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly distinct users via the PORTABLE HLL register layer: the
    daily register states (the only pass over raw events — at 100 TB
    this layer is what you persist) merge into monthly states by an
    integer MAX per bucket, and the estimate is evaluated on the
    merged state. The DuckDB oracle builds the same sketch ONE-SHOT
    (direct monthly registers): the driver's hash match therefore
    PROVES the daily->monthly merge is lossless (max is associative),
    upgrading the old rows-only check to full value parity. Exact
    COUNT(DISTINCT) ground truth and the relative error ride along.
    The native-DataSketches twin of this layer (daily_user_sketches,
    hll_sketch_agg/hll_union_agg) stays the production fast path and
    is pinned against this portable sketch in tests/test_semdedup.py."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    bucket, rho = hll_register_cols(F.col("user_id"))
    base = ev.select(F.date_trunc("month", "ts").alias("month"),
                     F.date_trunc("day", "ts").alias("day"),
                     bucket.alias("bucket"), rho.alias("rho"))
    daily = (base.groupBy("month", "day", "bucket")
             .agg(F.max("rho").alias("mx")))          # persisted layer
    monthly = (daily.groupBy("month", "bucket")
               .agg(F.max("mx").alias("mx")))         # lossless union
    est = hll_estimate(monthly, ["month"]) \
        .select("month", fround(F.col("hll_est")).alias("hll_users"))
    exact = (ev.groupBy(F.date_trunc("month", "ts").alias("month"))
             .agg(F.count("*").alias("n_events"),
                  F.countDistinct("user_id").alias("exact_users")))
    err = (F.abs(F.col("hll_users") - F.col("exact_users"))
           / F.col("exact_users"))
    return (exact.join(F.broadcast(est), "month")
            .select("month", "n_events", "exact_users", "hll_users",
                    fround(err).alias("rel_err")))


#: audience-overlap pair: the two behavioral cohorts to intersect.
OVERLAP_TYPES = ("signup", "purchase")

def _hll_est_driver(jm, pairs) -> float:
    """hll_estimate's scalar algebra replayed on the driver for ONE
    group's collected (bucket, mx) registers: the Z-sum is the exact
    integer Σ 2^(rho0−mx), casts and divides are the identical IEEE
    ops, and the linear-counting LN is the JVM's own StrictMath.log
    via py4j (Spark 4's F.log == StrictMath)."""
    s_present = sum(1 << (_HLL_RHO0 - mx) for _, mx in pairs)
    v = HLL_M - len(pairs)
    s_total = float(s_present + v * _HLL_EMPTY)
    e_raw = HLL_ALPHA * _HLL_NUM / s_total
    if e_raw <= 2.5 * HLL_M and v > 0:
        return float(HLL_M) * jm.log(float(HLL_M) / float(v))
    return e_raw

_OVERLAP_SRC = ("(SELECT event_type, user_id FROM events "
                "WHERE event_type IN ('signup', 'purchase'))")


@register(
    "hll_audience_overlap",
    survey="ext-sketch,A2,J7",
    oracle=f"""
    WITH {_hll_sql("event_type", "event_type", _OVERLAP_SRC)},
    uacc AS (
        SELECT SUM(1::BIGINT << CAST({_HLL_RHO0} - mx AS INT)) AS s_present,
               COUNT(*) AS n_present
        FROM (SELECT bucket, MAX(mx) AS mx FROM regs GROUP BY 1)
    ), uest AS (
        SELECT CASE WHEN ((0.7213 / (1.0 + 1.079 / {HLL_M}.0))
                          * {_HLL_NUM!r}
                          / CAST(s_present + ({HLL_M} - n_present)
                                 * {_HLL_EMPTY} AS DOUBLE))
                         <= {2.5 * HLL_M!r}
                         AND ({HLL_M} - n_present) > 0
                    THEN {HLL_M}.0 * ln({HLL_M}.0 / ({HLL_M} - n_present))
                    ELSE ((0.7213 / (1.0 + 1.079 / {HLL_M}.0))
                          * {_HLL_NUM!r}
                          / CAST(s_present + ({HLL_M} - n_present)
                                 * {_HLL_EMPTY} AS DOUBLE)) END AS e
        FROM uacc
    ), rounded AS (
        SELECT {fround_sql("(SELECT e FROM est WHERE event_type = 'signup')")}
                   AS approx_signup,
               {fround_sql("(SELECT e FROM est WHERE event_type = 'purchase')")}
                   AS approx_purchase,
               {fround_sql("(SELECT e FROM uest)")} AS approx_union
    ), ex AS (
        SELECT CAST(COUNT(DISTINCT CASE WHEN event_type = 'signup'
                                        THEN user_id END) AS BIGINT)
                   AS exact_signup,
               CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                        THEN user_id END) AS BIGINT)
                   AS exact_purchase
        FROM events WHERE event_type IN ('signup', 'purchase')
    ), exb AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_overlap FROM (
            SELECT user_id FROM events WHERE event_type = 'signup'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'purchase')
    )
    SELECT approx_signup, approx_purchase, approx_union,
           {fround_sql('approx_signup + approx_purchase - approx_union')}
               AS approx_overlap,
           exact_signup, exact_purchase, exact_overlap,
           {fround_sql('(approx_signup + approx_purchase - approx_union)'
                       ' - exact_overlap')} AS overlap_err
    FROM rounded CROSS JOIN ex CROSS JOIN exb
    """,
)
def hll_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA on the portable HLL layer: estimated overlap
    of the signup and purchase audiences via inclusion-exclusion
    (|A∩B| ≈ est(A) + est(B) − est(A∪B)) — the question ("how many
    users did BOTH?") that per-cohort distinct counts cannot answer
    and exact answers need a user-level join for. The union state is
    an integer MAX over the two cohorts' registers — NO re-scan of
    events: at 100 TB the cohort registers are the persisted layer
    and this whole query is algebra over kilobyte payloads.

    Reports approx A/B/union/overlap next to the exact ground truth
    (count-distinct + an INTERSECT-counted intersection) and the
    signed overlap error. The portable register algebra makes the
    estimates bit-reproducible in DuckDB, so this is a full
    hash-compare driver check (upgraded from rows-only). The overlap
    estimate inherits ~3× the union's relative error when the
    intersection is small — a documented property of
    inclusion-exclusion on HLL, which is why theta sketches exist;
    the planted-overlap test bounds it for this cohort geometry."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].filter(F.col("event_type").isin(*OVERLAP_TYPES))
    bucket, rho = hll_register_cols(F.col("user_id"))
    regs = (ev.select("event_type", bucket.alias("bucket"),
                      rho.alias("rho"))
            .groupBy("event_type", "bucket")
            .agg(F.max("rho").alias("mx"))
            .localCheckpoint(eager=False))   # ≤ 2·4096 rows; reused 2×
    a, b = OVERLAP_TYPES
    # driver resolution (r13): the register census is ≤ 2·HLL_M rows
    # BY CONSTRUCTION — the three estimates (per-type + union) resolve
    # on the driver (_hll_est_driver: exact integer Z-sums, StrictMath
    # LN, fround replayed with fround_val) and the THREE exact
    # fact-sized aggregates fold into ONE distinct + per-user-flag
    # pass (identical counts: countDistinct(user | type) ==
    # Σ has_type over distinct users; the semi-join intersection ==
    # Σ (has_a AND has_b)). A type with no registers falls through to
    # the distributed path, whose empty-frame crossJoin shape is the
    # pinned degenerate behavior.
    tab = driver.bounded_collect(regs, 2 * HLL_M)
    if tab is not None:
        reg_rows = [(r["event_type"], int(r["bucket"]), int(r["mx"]))
                    for r in tab]
        per_type: dict = {}
        for et, bucket, mx in reg_rows:
            per_type.setdefault(et, []).append((bucket, mx))
        if a in per_type and b in per_type:
            jm = spark._jvm.java.lang.StrictMath
            uni_regs: dict = {}
            for _, bucket, mx in reg_rows:
                uni_regs[bucket] = max(uni_regs.get(bucket, 0), mx)
            asu = fround_val(_hll_est_driver(jm, per_type[a]))
            apu = fround_val(_hll_est_driver(jm, per_type[b]))
            aun = fround_val(_hll_est_driver(jm, list(uni_regs.items())))
            overlap = asu + apu - aun
            flags = (ev.select("event_type", "user_id").distinct()
                     .groupBy("user_id")
                     .agg(F.max(F.col("event_type") == a).alias("ha"),
                          F.max(F.col("event_type") == b).alias("hb")))
            exact = flags.agg(
                F.sum(F.col("ha").cast("long")).alias("exact_signup"),
                F.sum(F.col("hb").cast("long")).alias("exact_purchase"),
                F.sum((F.col("ha") & F.col("hb")).cast("long"))
                .alias("exact_overlap"))
            return exact.select(
                F.lit(asu).alias("approx_signup"),
                F.lit(apu).alias("approx_purchase"),
                F.lit(aun).alias("approx_union"),
                F.lit(fround_val(overlap)).alias("approx_overlap"),
                "exact_signup", "exact_purchase", "exact_overlap",
                fround(F.lit(overlap) - F.col("exact_overlap"))
                .alias("overlap_err"))
    per = hll_estimate(regs, ["event_type"]).localCheckpoint(eager=False)
    union_regs = (regs.groupBy("bucket").agg(F.max("mx").alias("mx"))
                  .withColumn("g", F.lit(1)))
    uni = (hll_estimate(union_regs, ["g"])
           .select(fround(F.col("hll_est")).alias("approx_union")))
    ea = (per.filter(F.col("event_type") == a)
          .select(fround(F.col("hll_est")).alias("approx_signup")))
    eb = (per.filter(F.col("event_type") == b)
          .select(fround(F.col("hll_est")).alias("approx_purchase")))
    exact = ev.agg(
        F.countDistinct(F.when(F.col("event_type") == a,
                               F.col("user_id"))).alias("exact_signup"),
        F.countDistinct(F.when(F.col("event_type") == b,
                               F.col("user_id"))).alias("exact_purchase"))
    users = ev.select("event_type", "user_id").distinct()
    exact_both = (users.filter(F.col("event_type") == a)
                  .select("user_id")
                  .join(users.filter(F.col("event_type") == b)
                        .select("user_id"), "user_id", "semi")
                  .agg(F.count("*").alias("exact_overlap")))
    out = (ea.crossJoin(F.broadcast(eb))
           .crossJoin(F.broadcast(uni))
           .crossJoin(F.broadcast(exact))
           .crossJoin(F.broadcast(exact_both)))
    overlap = (F.col("approx_signup") + F.col("approx_purchase")
               - F.col("approx_union"))
    return out.select(
        "approx_signup", "approx_purchase", "approx_union",
        fround(overlap).alias("approx_overlap"),
        "exact_signup", "exact_purchase", "exact_overlap",
        fround(overlap - F.col("exact_overlap")).alias("overlap_err"))


#: bitmap bucket width: 62 id-bits per signed BIGINT word keeps
#: 1<<bit away from the sign bit on BOTH engines (DuckDB raises on
#: 1::BIGINT << 63).
BITMAP_BITS = 62


@register(
    "bitmap_audience_intersection",
    survey="ext-sketch,A2,J1,F10",
    oracle=f"""
    WITH du AS (
        SELECT DISTINCT event_type, user_id FROM events
        WHERE event_type IN ('signup', 'purchase')
    ), bm AS (
        SELECT event_type, user_id // {BITMAP_BITS} AS bucket,
               bit_or(1::BIGINT << CAST(user_id % {BITMAP_BITS} AS INT))
                 AS words
        FROM du GROUP BY 1, 2
    ), a AS (SELECT bucket, words FROM bm WHERE event_type = 'signup'),
       b AS (SELECT bucket, words FROM bm WHERE event_type = 'purchase'),
    sizes AS (
        SELECT CAST(SUM(CASE WHEN event_type = 'signup'
                             THEN bit_count(words) ELSE 0 END) AS BIGINT)
                 AS n_signup,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN bit_count(words) ELSE 0 END) AS BIGINT)
                 AS n_purchase
        FROM bm
    ), inter AS (
        SELECT CAST(COALESCE(SUM(bit_count(a.words & b.words)), 0)
                    AS BIGINT) AS n_both
        FROM a JOIN b USING (bucket)
    )
    SELECT n_signup, n_purchase, n_both,
           ROUND(n_both * 1.0 / (n_signup + n_purchase - n_both), 6)
             AS jaccard
    FROM sizes CROSS JOIN inter
    """,
)
def bitmap_audience_intersection(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """EXACT audience intersection via BITMAP indexes — the roaring-
    bitmap pattern (Druid / ClickHouse / Pinot segment bitmaps) as
    pure column algebra, and the exact counterpart of
    `hll_audience_overlap`'s estimate: pack each cohort's user-id set
    into 62-bit words (bucket = id div 62, one bit_or aggregate per
    (cohort, bucket)), then |A∩B| is a popcount over the bitwise AND
    of aligned words. Every set operation becomes integer algebra —
    union/difference/xor are the same one-line joins — and the
    intermediate state is |universe|/62 words per cohort, mergeable
    and FAR smaller than the id sets whenever ids are dense (the
    design reason warehouses keep dictionary-encoded dense ids).

    Exact and deterministic by construction (integer-only: no floats
    anywhere until the final jaccard, a single rounded division).
    Scale: one distinct-project of the fact (map-combinable), one
    shuffle on (cohort, bucket), one bucket-aligned equi-join of two
    word tables. Skew-free: the bucket key is uniformly dense by
    construction. Sparse-id universes want roaring's RLE containers —
    same plan, different word encoding."""
    t = load_tables(spark, sf_dir, ("events",))
    du = (t["events"]
          .filter(F.col("event_type").isin("signup", "purchase"))
          .select("event_type", "user_id").distinct())
    # F.shiftleft only takes a literal shift amount — column shifts
    # need the SQL expression form
    mask = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(user_id % {BITMAP_BITS} AS INT))")
    bm = (du.select("event_type",
                    F.expr(f"user_id div {BITMAP_BITS}").alias("bucket"),
                    mask.alias("m"))
          .groupBy("event_type", "bucket")
          .agg(F.bit_or("m").alias("words"))
          .localCheckpoint(eager=False))    # reused: sizes + both sides
    sizes = bm.agg(
        F.sum(F.when(F.col("event_type") == "signup",
                     F.bit_count("words")).otherwise(0)).alias("n_signup"),
        F.sum(F.when(F.col("event_type") == "purchase",
                     F.bit_count("words")).otherwise(0))
        .alias("n_purchase"))
    a = (bm.filter(F.col("event_type") == "signup")
         .select("bucket", F.col("words").alias("wa")))
    b = (bm.filter(F.col("event_type") == "purchase")
         .select("bucket", F.col("words").alias("wb")))
    inter = (a.join(b, "bucket")
             .agg(F.coalesce(F.sum(F.bit_count(
                 F.col("wa").bitwiseAND(F.col("wb")))), F.lit(0))
                 .alias("n_both")))
    jac = (F.col("n_both") * 1.0
           / (F.col("n_signup") + F.col("n_purchase") - F.col("n_both")))
    return (sizes.crossJoin(F.broadcast(inter))
            .select("n_signup", "n_purchase", "n_both",
                    F.round(jac, 6).alias("jaccard")))


# ---------------------------------------------------------------------------
# mergeable quantile summary + its error gate — the third sketch family
# ---------------------------------------------------------------------------

#: fixed-grid histogram: bin width in price cents and bin count.
#: 2048 x $512 covers o_totalprice to $1,048,575.99 — comfortably past
#: the column's TPC-H spec-max (~$555k at large SFs; advice r7: the
#: old 1024-bin clamp at $524,287.99 could be EXCEEDED by real data,
#: which would flip abs_err negative and break the one-bin theorem).
#: The top bin stays a clamp only for out-of-spec data; the worst-case
#: quantile error is ONE BIN WIDTH by construction (the bound the eval
#: below measures), and tests pin max(o_totalprice) under the clamp.
QSK_BIN_CENTS = 51200
QSK_BINS = 2048
#: evaluated quantiles (per mille, integer grid).
QSK_QS = (500, 900, 990)


@register(
    "quantile_sketch_error_eval",
    survey="ext-sketch,A11,A6,U5",
    oracle=f"""
    WITH v AS (
        SELECT o_orderpriority AS pri,
               CAST(FLOOR(o_totalprice * 1e2 + 0.5) AS BIGINT) AS cents
        FROM orders
    ),
    hist AS (
        SELECT pri, LEAST(cents // {QSK_BIN_CENTS}, {QSK_BINS - 1}) AS bin,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM v GROUP BY 1, 2
    ),
    cum AS (
        SELECT pri, bin, c,
               SUM(c) OVER (PARTITION BY pri ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cc,
               SUM(c) OVER (PARTITION BY pri) AS n
        FROM hist
    ),
    qs(q) AS (VALUES {", ".join(f"({q})" for q in QSK_QS)}),
    est AS (
        SELECT pri, q,
               MIN(bin) AS qbin, MIN(n) AS n
        FROM cum, qs
        WHERE cc * 1000 >= q * n
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT pri, cents,
               ROW_NUMBER() OVER (PARTITION BY pri ORDER BY cents) AS rn,
               COUNT(*) OVER (PARTITION BY pri) AS nn
        FROM v
    ),
    exact AS (
        -- the k-th order statistic at k = ceil(q*n/1000): the SAME
        -- rank rule the histogram covers, so the one-bin bound is a
        -- theorem, not a hope
        SELECT r.pri, qs.q, r.cents AS xc
        FROM ranked r, qs
        WHERE r.rn = (qs.q * r.nn + 999) // 1000
    )
    SELECT e.pri, CAST(e.q AS INT) AS q_permille,
           CAST(e.n AS BIGINT) AS n,
           ((e.qbin + 1) * {QSK_BIN_CENTS} - 1) / 1e2 AS est_price,
           x.xc / 1e2 AS exact_price,
           (((e.qbin + 1) * {QSK_BIN_CENTS} - 1) - x.xc) / 1e2 AS abs_err,
           {QSK_BIN_CENTS} / 1e2 AS err_bound
    FROM est e JOIN exact x ON x.pri = e.pri AND x.q = e.q
    """,
)
def quantile_sketch_error_eval(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """MERGEABLE QUANTILE SUMMARY with its error gate — the third
    sketch family beside cardinality (portable HLL) and frequency
    (count-min): a fixed-grid histogram of order prices per priority
    (integer bin counts — the summary that merges across
    partitions/days/tables by pure addition, the property that makes
    it a 100 TB rollup primitive), quantile estimates read off the
    merged histogram as bin upper edges, and — the gate — the measured
    absolute error against the EXACT k-th order statistic at the SAME
    ceiling-rank rule (k = ceil(q*n/1000)) — which makes the one-bin
    bound a THEOREM: the order statistic lies inside the chosen bin,
    so 0 <= est - exact < bin width, always. Before shipping
    grid-sketch quantiles at scale you check est within err_bound per
    group per quantile (the planted test asserts exactly that).

    Plan: one scan -> integer cents (exact: the money column carries
    2 decimals) -> (group, bin) counts (map-side combinable, ≤
    groups x {QSK_BINS} rows), a GROUP-partitioned running sum, the
    smallest-bin-covering-rank aggregation per quantile, and a
    group-partitioned rank window for the exact order statistic. The
    ENTIRE query is integer arithmetic (cc*1000 >= q*n avoids any
    float rank; prices live in exact cents) — parity is free. The
    baseline's per-group sort is the expensive exact path the sketch
    replaces at 100 TB; it is here precisely to measure what the
    cheap path gives up."""
    t = load_tables(spark, sf_dir, ("orders",))
    cents = F.floor(F.col("o_totalprice") * F.lit(1e2) + F.lit(0.5)) \
             .cast("long")
    v = t["orders"].select(F.col("o_orderpriority").alias("pri"),
                           cents.alias("cents"))
    hist = (v.groupBy("pri",
                      F.least(F.floor(F.col("cents") / QSK_BIN_CENTS),
                              F.lit(QSK_BINS - 1)).cast("long")
                      .alias("bin"))
            .agg(F.count("*").alias("c")))
    wc = (W.partitionBy("pri").orderBy("bin")
          .rowsBetween(W.unboundedPreceding, 0))
    wn = W.partitionBy("pri")
    cum = (hist.withColumn("cc", F.sum("c").over(wc))
           .withColumn("n", F.sum("c").over(wn)))
    qs = driver.local_frame(spark, [(q,) for q in QSK_QS], "q int")
    est = (cum.crossJoin(F.broadcast(qs))
           .filter(F.col("cc") * 1000 >= F.col("q") * F.col("n"))
           .groupBy("pri", "q")
           .agg(F.min("bin").alias("qbin"), F.min("n").alias("n")))
    wr = W.partitionBy("pri").orderBy("cents")
    ranked = (v.withColumn("rn", F.row_number().over(wr))
              .withColumn("nn", F.count("*").over(W.partitionBy("pri"))))
    exact = (ranked.crossJoin(F.broadcast(qs))
             .filter(F.col("rn")
                     == F.floor((F.col("q") * F.col("nn") + 999) / 1000))
             .select("pri", "q", F.col("cents").alias("xc")))
    est_price = ((F.col("qbin") + 1) * F.lit(QSK_BIN_CENTS) - 1) / F.lit(1e2)
    return (est.join(exact, ["pri", "q"])
            .select("pri", F.col("q").cast("int").alias("q_permille"),
                    F.col("n").cast("long").alias("n"),
                    est_price.alias("est_price"),
                    (F.col("xc") / F.lit(1e2)).alias("exact_price"),
                    ((((F.col("qbin") + 1) * F.lit(QSK_BIN_CENTS) - 1)
                      - F.col("xc")) / F.lit(1e2)).alias("abs_err"),
                    (F.lit(QSK_BIN_CENTS) / F.lit(1e2)).alias("err_bound")))
