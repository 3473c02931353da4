"""Statistical feature-engineering operators: exact quantile binning,
IQR outlier fencing, and a chi-square independence test.

The reference's EDA dashboard computes exact percentiles for extremes
(`streamlit/weather_analysis.py:218-222`), `describe()` profiles and a
correlation matrix (`:124-151`) — the natural next steps a warehouse
user takes are discretization (quantile bins as model features),
outlier fencing (the boxplot rule the dashboard draws, reference
`:193-196`, turned into an actionable report), and independence
testing between categorical dimensions. All three are expressed as
aggregate + broadcast-edge plans:

- one full-data pass computes the (tiny) edge/contingency aggregate;
- the edges broadcast back over the scan for assignment/counting;
- floating quantile edges are rounded to 6dp on BOTH engines before
  any comparison, so bin membership is bit-deterministic (the repo's
  standard engine/oracle float convention).

Scale: every plan is one map-combinable shuffle over the group keys
plus broadcast joins of percentile-row-sized frames. Exact
`percentile` becomes `percentile_approx` at 100 TB (SURVEY A11 note);
nothing else changes shape.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_weather_etl_spark.functions import driver
from covid_weather_etl_spark.functions.numeric import fround_sql, md5_int
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables, spread

#: quartile probabilities for binning/fencing (boxplot geometry).
_QS = (0.25, 0.50, 0.75)


@register(
    "quantile_binning",
    survey="ext-stats,A11,A6,F9",
    oracle="""
    WITH edges AS (
        SELECT ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS e1,
               ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS e2,
               ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS e3
        FROM lineitem
    ), binned AS (
        SELECT CASE WHEN l_extendedprice < e.e1 THEN 0
                    WHEN l_extendedprice < e.e2 THEN 1
                    WHEN l_extendedprice < e.e3 THEN 2
                    ELSE 3 END AS bin,
               l_extendedprice AS v
        FROM lineitem CROSS JOIN edges e
    )
    SELECT bin, COUNT(*) AS n_rows,
           MIN(v) AS min_price, MAX(v) AS max_price
    FROM binned GROUP BY bin
    """,
)
def quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile discretization of `l_extendedprice` (the
    QuantileDiscretizer / ntile-as-feature shape, computed exactly):
    one aggregate derives the three interpolated quartile edges,
    rounded 6dp so both engines compare against bit-identical
    thresholds; the assignment is a broadcast CASE over the scan; the
    report is per-bin count + support. Bins 0-3 land within ±1 of
    n/4 of each other only up to value ties — exactly what the oracle
    verifies. At 100 TB the edge pass flips to percentile_approx and
    the rest of the plan is unchanged."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    # single-file scan → ONE task; the exact percentile sorts the whole
    # column in it. spread() parallelizes the partial collection.
    li = spread(t["lineitem"])
    # ONE percentile aggregate for all three edges: F.percentile
    # buffers the whole column per aggregate expression, so three
    # separate aggs would buffer (and serialize partials of) the
    # column three times.
    qarr = li.agg(F.percentile(
        "l_extendedprice", F.array(*[F.lit(q) for q in _QS])).alias("qs"))
    edges = qarr.select(*[
        F.round(F.col("qs")[i], 6).alias(f"e{i + 1}")
        for i in range(len(_QS))])
    v = F.col("l_extendedprice")
    bin_ = (F.when(v < F.col("e1"), 0)
            .when(v < F.col("e2"), 1)
            .when(v < F.col("e3"), 2)
            .otherwise(3))
    return (li.crossJoin(F.broadcast(edges))
            .select(bin_.alias("bin"), v.alias("v"))
            .groupBy("bin")
            .agg(F.count("*").alias("n_rows"),
                 F.min("v").alias("min_price"),
                 F.max("v").alias("max_price")))


@register(
    "iqr_outlier_report",
    survey="ext-stats,A11,A16,A3",
    oracle="""
    WITH fences AS (
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.25)
                     - 1.5 * (quantile_cont(l_extendedprice, 0.75)
                              - quantile_cont(l_extendedprice, 0.25)), 6)
                   AS lo_fence,
               ROUND(quantile_cont(l_extendedprice, 0.75)
                     + 1.5 * (quantile_cont(l_extendedprice, 0.75)
                              - quantile_cont(l_extendedprice, 0.25)), 6)
                   AS hi_fence
        FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN l.l_extendedprice < f.lo_fence
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(SUM(CASE WHEN l.l_extendedprice > f.hi_fence
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           f.lo_fence, f.hi_fence
    FROM lineitem l JOIN fences f USING (l_returnflag)
    GROUP BY 1, f.lo_fence, f.hi_fence
    """,
)
def iqr_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier report per return flag: the dashboard's
    boxplot whiskers (reference `streamlit/weather_analysis.py:193-196`)
    turned into counts — lo/hi fences at Q1∓1.5·IQR / Q3±1.5·IQR
    (rounded 6dp before comparison on both engines) and how many rows
    breach each. Complements `winsorized_prices` (which CLIPS): this
    one measures. Two passes: a per-group percentile aggregate
    (group-count-sized) broadcast back over the scan, then one
    map-combinable count aggregate."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = spread(t["lineitem"], "l_returnflag")
    # one array-percentile buffer per group instead of one per quartile
    q1, q3 = F.col("qs")[0], F.col("qs")[1]
    fences = (li.groupBy("l_returnflag")
              .agg(F.percentile("l_extendedprice",
                                F.array(F.lit(0.25), F.lit(0.75)))
                   .alias("qs"))
              .select("l_returnflag",
                      F.round(q1 - 1.5 * (q3 - q1), 6).alias("lo_fence"),
                      F.round(q3 + 1.5 * (q3 - q1), 6).alias("hi_fence")))
    v = F.col("l_extendedprice")
    return (li.join(F.broadcast(fences), "l_returnflag")
            .groupBy("l_returnflag", "lo_fence", "hi_fence")
            .agg(F.count("*").alias("n_rows"),
                 F.sum(F.when(v < F.col("lo_fence"), 1).otherwise(0))
                  .cast("long").alias("n_low"),
                 F.sum(F.when(v > F.col("hi_fence"), 1).otherwise(0))
                  .cast("long").alias("n_high"))
            .select("l_returnflag", "n_rows", "n_low", "n_high",
                    "lo_fence", "hi_fence"))


@register(
    "chi2_independence",
    survey="ext-stats,A6,A14,J1",
    oracle="""
    WITH obs AS (
        SELECT c_mktsegment AS seg, n_name AS nat, COUNT(*) AS o
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    ), rt AS (SELECT seg, SUM(o) AS r FROM obs GROUP BY 1),
    ct AS (SELECT nat, SUM(o) AS c FROM obs GROUP BY 1),
    tot AS (SELECT SUM(o) AS n FROM obs),
    terms AS (
        SELECT CAST(ROUND(POWER(obs.o - (rt.r * ct.c * 1.0 / tot.n), 2)
                          / (rt.r * ct.c * 1.0 / tot.n), 9)
                    AS DECIMAL(28,9)) AS term
        FROM obs JOIN rt USING (seg) JOIN ct USING (nat) CROSS JOIN tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST((SELECT COUNT(*) FROM rt) - 1 AS BIGINT)
               * CAST((SELECT COUNT(*) FROM ct) - 1 AS BIGINT) AS dof,
           ROUND(CAST(SUM(term) AS DOUBLE), 6) AS chi2
    FROM terms
    """,
)
def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between market segment and nation
    over the customer dimension — the categorical complement of the
    correlation matrix (SURVEY A14): observed cell counts vs
    expected-under-independence r·c/N, χ² = Σ(o−e)²/e with the degrees
    of freedom. Per-cell terms are rounded to 9dp then summed in exact
    DECIMAL, so the statistic is independent of cell visit order (a
    raw double Σ over 125 cells would be partitioning-dependent in the
    last ulps). Plan: one (seg, nation) count shuffle; the row/column
    marginals are aggregates OF that tiny contingency table, broadcast
    back — nothing but the first count ever touches the full table."""
    t = load_tables(spark, sf_dir, ("customer", "nation"))
    obs = (t["customer"]
           .join(F.broadcast(t["nation"]),
                 F.col("c_nationkey") == F.col("n_nationkey"))
           .groupBy(F.col("c_mktsegment").alias("seg"),
                    F.col("n_name").alias("nat"))
           .agg(F.count("*").alias("o")))
    rt = obs.groupBy("seg").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("nat").agg(F.sum("o").alias("c"))
    tot = obs.agg(F.sum("o").alias("n"))
    e = F.col("r") * F.col("c") * 1.0 / F.col("n")
    term = (F.round(F.pow(F.col("o") - e, F.lit(2)) / e, 9)
            .cast("decimal(28,9)"))
    terms = (obs.join(F.broadcast(rt), "seg")
             .join(F.broadcast(ct), "nat")
             .crossJoin(F.broadcast(tot))
             .select(term.alias("term")))
    n_r = rt.agg(F.count("*").alias("nr"))
    n_c = ct.agg(F.count("*").alias("nc"))
    return (terms.agg(F.count("*").alias("n_cells"),
                      F.round(F.sum("term").cast("double"), 6).alias("chi2"))
            .crossJoin(F.broadcast(n_r)).crossJoin(F.broadcast(n_c))
            .select("n_cells",
                    ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long")
                    .alias("dof"),
                    "chi2"))


LEV_MAX = 3  # maximum edit distance for a name match


@register(
    "name_similarity_pairs",
    survey="ext-er,A13,J1,F1",
    oracle=f"""
    WITH names AS (
        SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM part GROUP BY 1
    )
    SELECT a.name AS name_1, b.name AS name_2,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_distance,
           a.n_parts AS n_parts_1, b.n_parts AS n_parts_2
    FROM names a JOIN names b
      ON a.name < b.name
     AND levenshtein(a.name, b.name) <= {LEV_MAX}
    """,
)
def name_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate pairs by edit distance over part
    names — with the distinct-first trick that makes fuzzy matching
    tractable: Levenshtein runs on the DISTINCT name table (vocabulary-
    sized), never on the base rows, and member counts map each fuzzy
    pair back to its record mass. At any corpus scale the quadratic
    comparison is |distinct values|², not |rows|² — and distinct names
    grow Zipf-slowly. When the distinct table itself outgrows one
    broadcast, the standard escalation is length + first-character
    blocking (edit distance ≤ k forces |len(a)−len(b)| ≤ k), which
    this plan picks up as one extra join key without changing shape.

    Both engines implement the same unweighted Levenshtein; the pair
    predicate is a broadcast theta-join over the tiny name table."""
    t = load_tables(spark, sf_dir, ("part",))
    names = (t["part"].groupBy(F.col("p_name").alias("name"))
             .agg(F.count("*").alias("n_parts")))
    a, b = names.alias("a"), names.alias("b")
    # thresholded levenshtein (Spark 3.5+) early-abandons the DP once
    # the distance exceeds LEV_MAX (returns -1): O(len·k) per pair
    # instead of O(len²); the length-difference conjunct is the free
    # lossless pre-filter (|len(a)−len(b)| ≤ k is necessary for
    # distance ≤ k) — same results, ~2× faster pair generation
    lev = F.levenshtein(F.col("a.name"), F.col("b.name"), LEV_MAX)
    len_ok = (F.abs(F.length(F.col("a.name"))
                    - F.length(F.col("b.name"))) <= LEV_MAX)
    return (a.join(F.broadcast(b),
                   (F.col("a.name") < F.col("b.name")) & len_ok
                   & (lev >= 0))
            .select(F.col("a.name").alias("name_1"),
                    F.col("b.name").alias("name_2"),
                    lev.cast("long").alias("edit_distance"),
                    F.col("a.n_parts").alias("n_parts_1"),
                    F.col("b.n_parts").alias("n_parts_2")))


TE_SMOOTHING = 10.0  # pseudo-count weight toward the global mean


@register(
    "target_encoding_segment",
    survey="ext-stats,A6,A9,U4",
    oracle=f"""
    WITH joined AS (
        SELECT c.c_mktsegment AS segment, o.o_totalprice AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), per_cat AS (
        SELECT segment, COUNT(*) AS n,
               CAST(SUM(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy
        FROM joined GROUP BY 1
    ), gl AS (
        SELECT CAST(SUM(CAST(y AS DECIMAL(25,6))) AS DOUBLE)
               / COUNT(*) AS gmean
        FROM joined
    )
    SELECT p.segment, p.n AS n_orders,
           ROUND(p.sy / p.n, 6) AS raw_mean,
           ROUND((p.sy + {TE_SMOOTHING!r} * g.gmean)
                 / (p.n + {TE_SMOOTHING!r}), 6) AS encoded
    FROM per_cat p CROSS JOIN gl g
    """,
)
def target_encoding_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target (mean) encoding of market segment against order
    value — the categorical-feature workhorse a tree model consumes
    instead of one-hot: encoded = (Σy + m·global_mean)/(n + m), which
    shrinks rare categories toward the global mean (m = {TE_SMOOTHING:g}
    pseudo-observations) so a 3-row category can't memorize its
    targets. Sums run through exact DECIMAL, so the encoding is
    bit-stable across partitionings; the division chain is identical
    IEEE on both engines, rounded 6dp.

    Plan: one fact scan feeding a per-category aggregate and a 1-row
    global aggregate (broadcast crossJoin back) — category-count
    output. At 100 TB that is still exactly two map-combinable passes;
    out-of-fold encoding (per CV fold) re-runs the same plan per fold
    over the fold filter."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    joined = (t["orders"]
              .join(F.broadcast(t["customer"]),
                    F.col("o_custkey") == F.col("c_custkey"))
              .select(F.col("c_mktsegment").alias("segment"),
                      F.col("o_totalprice").alias("y")))
    per_cat = (joined.groupBy("segment")
               .agg(F.count("*").alias("n"),
                    F.sum(F.col("y").cast("decimal(25,6)"))
                     .cast("double").alias("sy")))
    gl = joined.agg((F.sum(F.col("y").cast("decimal(25,6)")).cast("double")
                     / F.count("*")).alias("gmean"))
    return (per_cat.crossJoin(F.broadcast(gl))
            .select("segment", F.col("n").alias("n_orders"),
                    F.round(F.col("sy") / F.col("n"), 6).alias("raw_mean"),
                    F.round((F.col("sy") + TE_SMOOTHING * F.col("gmean"))
                            / (F.col("n") + F.lit(TE_SMOOTHING)), 6)
                     .alias("encoded")))


#: iterative-refinement knobs for the distributed exact quantile:
#: histogram resolution per round and the candidate-set size at which
#: the driver finishes the selection exactly.
REFINE_BUCKETS = 512
REFINE_COLLECT_LIMIT = 10_000


def _exact_quantile_distributed(df: DataFrame, col: str,
                                q: float) -> tuple[int, float]:
    """Exact interpolated quantile WITHOUT buffering the column: the
    driver-coordinated iterative rank-refinement selection. Each round
    histograms the current value range into {REFINE_BUCKETS} buckets
    (ONE map-combinable aggregate; only bucket counts reach the
    driver — the in-range count is the histogram's own sum, not a
    separate job), narrows to the bucket span covering BOTH
    interpolation ranks k0=floor((n-1)q) and k1=ceil((n-1)q) in the
    same descent (adjacent ranks share a bucket until the very end,
    so one descent does the work the old two-call form paid twice
    for), and when ≤{REFINE_COLLECT_LIMIT} candidates remain fetches
    them sorted and indexes both ranks exactly. Memory is O(buckets)
    per round everywhere — the scalable EXACT alternative to both
    `percentile` (buffers every value) and `approx_percentile`
    (sketched, inexact). Converges in ~2 rounds on real data
    (range / buckets^rounds shrinks below float resolution fast).
    Ties/duplicates are handled by the rank arithmetic (a range that
    cannot shrink — all remaining values equal, or float-resolution
    floor — short-circuits to a bounded sorted fetch)."""
    first = df.agg(F.count("*"), F.min(col), F.max(col)).first()
    n = first[0]
    if n == 0:
        return 0, float("nan")
    r = (n - 1) * q
    k0, k1 = int(np.floor(r)), int(np.ceil(r))
    frac = r - k0

    lo, hi = float(first[1]), float(first[2])
    below = 0                           # values strictly < lo overall
    cur = df
    while True:
        if lo == hi:
            v0 = v1 = lo
            break
        cur = cur.filter((F.col(col) >= lo) & (F.col(col) <= hi))
        width = (hi - lo) / REFINE_BUCKETS
        b = F.least(
            F.floor((F.col(col) - F.lit(lo)) / F.lit(width)),
            F.lit(REFINE_BUCKETS - 1)).cast("int")
        hist = dict(cur.groupBy(b.alias("b")).count().collect())
        cnt = sum(hist.values())
        if cnt <= REFINE_COLLECT_LIMIT:
            vals = [row[0] for row in
                    cur.select(col).orderBy(col).collect()]
            v0 = float(vals[k0 - below])
            v1 = float(vals[k1 - below])
            break
        # locate the buckets holding ranks k0 and k1 (i1 >= i0; for
        # adjacent ranks usually the same bucket) in one scan
        acc = below
        i0 = below0 = None
        i1 = None
        for i in range(REFINE_BUCKETS):
            c = hist.get(i, 0)
            if i0 is None and acc + c > k0:
                i0, below0 = i, acc
            if acc + c > k1:
                i1 = i
                break
            acc += c
        new_lo = lo + i0 * width
        new_hi = hi if i1 == REFINE_BUCKETS - 1 \
            else lo + (i1 + 1) * width
        # float-resolution floor: range can stop shrinking
        if (new_lo, new_hi) == (lo, hi):
            vals = [row[0] for row in
                    cur.select(col).orderBy(col)
                    .limit(k1 - below + 1).collect()]
            v0 = float(vals[k0 - below])
            v1 = float(vals[k1 - below])
            break
        lo, hi, below = new_lo, new_hi, below0

    return n, v0 + (v1 - v0) * frac


@register(
    "distributed_exact_median",
    survey="ext-stats,A11,A1",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS median_price
    FROM lineitem
    """,
)
def distributed_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median of l_extendedprice computed WITHOUT
    any task ever buffering the column: driver-coordinated iterative
    rank refinement (histogram -> narrow -> select; see
    _exact_quantile_distributed). This is the 100 TB twin that
    quantile_binning's docstring promises: where `percentile` buffers
    every value in aggregate state and `approx_percentile` gives up
    exactness, this plan's per-round state is 512 bucket counts per
    task and a final ≤10k-value sorted fetch — and the oracle check
    proves it lands on the bit-identical quantile_cont answer. The
    trade: ~2-3 extra narrow scans instead of one buffering pass —
    at scale, scans are cheap and memory is not."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = spread(t["lineitem"]).select("l_extendedprice").cache()
    try:
        n, med = _exact_quantile_distributed(li, "l_extendedprice", 0.5)
    finally:
        li.unpersist()
    return driver.local_frame(
        spark, [(n, round(med, 6))], "n_rows long, median_price double")


#: isotonic calibration: char-bin width and the token-count label cut.
ISO_BIN = 10
ISO_TOK_CUT = 56


#: driver-resolution cap on the binned point frame (rows). Bins are
#: length-domain-bounded (n_chars // ISO_BIN); the cap also bounds the
#: driver's (B+1)² float64 segment matrices (4001² ≈ 128 MB each, at
#: most two live at once plus the triangle index: ~272 MB peak).
ISO_COLLECT_MAX = 4000


def _iso_from_pts(spark: SparkSession, rows) -> DataFrame:
    """isotonic_calibration's closed-form minimax fit resolved on the
    driver from the collected (x, w, pos) bin frame — replaces three
    triangular broadcast joins (+ checkpoint/broadcast-build jobs)
    with vectorized numpy over the (B+1)² segment matrix. Bit-exact:
    prefix sums are exact int64; every seg_avg replays
    (Δcpos)·1.0/(Δcw) — int64→float64 conversion then one IEEE divide,
    identical to the engine's long→double cast + divide; the minimax
    is pure comparison/selection (no arithmetic), so min/max pick the
    identical doubles; finals replay Spark ROUND via Decimal(repr)
    HALF_UP. Pinned driver-vs-distributed bitwise in
    tests/test_driver_paths.py."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    if not rows:
        return driver.local_frame(
            spark, [], "char_bin long, n_docs long, n_pos long, "
                       "emp_rate double, iso_rate double")
    pts = sorted((int(r["x"]), int(r["w"]), int(r["pos"])) for r in rows)
    xs = [p[0] for p in pts]
    ws = np.array([p[1] for p in pts], dtype=np.int64)
    pos = np.array([p[2] for p in pts], dtype=np.int64)
    B = len(pts)
    cw0 = np.concatenate(([0], np.cumsum(ws)))       # pre0 prefix sums
    cp0 = np.concatenate(([0], np.cumsum(pos)))
    # prefix sums are exact integers < 2**53, so subtracting in float64
    # equals the int64 difference cast to double; one matrix is built
    # in place and each is freed as soon as the next exists
    A = np.subtract(cp0[None, :], cp0[:, None], dtype=np.float64)
    den = np.subtract(cw0[None, :], cw0[:, None], dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        np.divide(A, den, out=A)                     # A[lo, hi], hi > lo
    del den
    A[np.tril_indices(B + 1)] = np.inf               # hi <= lo: no seg
    # S[lo, i] = min_{hi >= i} A[lo, hi]; fit(i) = max_{lo < i} S[lo, i]
    S = np.minimum.accumulate(A[:, ::-1], axis=1)[:, ::-1]
    del A
    np.maximum.accumulate(S, axis=0, out=S)
    fit = S[np.arange(B), np.arange(1, B + 1)]
    q6 = Decimal("1e-6")

    def r6(v: float) -> float:
        return float(Decimal(repr(v)).quantize(q6, ROUND_HALF_UP))

    out = [(xs[i], int(ws[i]), int(pos[i]),
            r6(int(pos[i]) * 1.0 / int(ws[i])), r6(float(fit[i])))
           for i in range(B)]
    return driver.local_frame(
        spark, out, "char_bin long, n_docs long, n_pos long, "
                    "emp_rate double, iso_rate double")


@register(
    "isotonic_calibration",
    survey="ext-stats,U1,A6,F9",
    oracle=f"""
    WITH pts AS (
        SELECT n_chars // {ISO_BIN} AS x,
               CAST(COUNT(*) AS BIGINT) AS w,
               CAST(SUM(CASE WHEN len(string_split(text, ' '))
                             > {ISO_TOK_CUT} THEN 1 ELSE 0 END)
                    AS BIGINT) AS pos
        FROM documents GROUP BY 1
    ), pre AS (
        SELECT a.x,
               CAST(SUM(b.w) AS BIGINT) AS cw,
               CAST(SUM(b.pos) AS BIGINT) AS cpos
        FROM pts a JOIN pts b ON b.x <= a.x
        GROUP BY a.x
    ), pre0 AS (
        SELECT * FROM pre
        UNION ALL
        SELECT (SELECT MIN(x) - 1 FROM pts), 0, 0
    ), seg AS (
        -- weighted mean of the empirical rate over every run [k, j]
        SELECT lo.x + 1 AS k, hi.x AS j,
               (hi.cpos - lo.cpos) * 1.0 / (hi.cw - lo.cw) AS seg_avg
        FROM pre0 hi JOIN pre0 lo ON lo.x < hi.x
        WHERE hi.cw > lo.cw OR hi.x > lo.x
    ), minimax AS (
        -- fit(i) = max_(k<=i) min_(j>=i) avg[k, j]   (PAV fixpoint)
        SELECT p.x,
               MAX(inner_min.m) AS fit
        FROM pts p JOIN (
            SELECT s.k, p2.x, MIN(s.seg_avg) AS m
            FROM pts p2 JOIN seg s ON s.k <= p2.x AND s.j >= p2.x
            GROUP BY s.k, p2.x
        ) inner_min ON inner_min.x = p.x AND inner_min.k <= p.x
        GROUP BY p.x
    )
    SELECT p.x AS char_bin, p.w AS n_docs, p.pos AS n_pos,
           ROUND(p.pos * 1.0 / p.w, 6) AS emp_rate,
           ROUND(m.fit, 6) AS iso_rate
    FROM pts p JOIN minimax m ON p.x = m.x
    """,
)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact isotonic regression (the PAV fit, Barlow et al. 1972) of
    P(doc length > 56 tokens | n_chars bin) — the calibration
    primitive behind monotone probability calibration (Zadrozny &
    Elkan 2002): empirical per-bin rates are replaced by the closest
    non-decreasing fit under weighted least squares.

    Instead of the sequential pool-adjacent-violators loop, the engine
    computes the CLOSED FORM fit(i) = max_(k≤i) min_(j≥i) avg(y on
    [k..j]) over the binned point set — three triangular joins on a
    frame whose size is the number of BINS, not rows, so the O(B³)
    combination space is trivially small while the corpus scan stays
    one map-combinable aggregate. Every ingredient is a ratio of
    integer counts — bit-identical IEEE doubles on both engines, no
    float-sum order dependence anywhere. tests/test_warehouse.py pins
    equality with a from-scratch numpy PAV and with Spark ML's
    IsotonicRegression on the same weighted points, plus the
    monotonicity + pooled-means invariants. Scale: calibration always
    pre-bins scores (bounded B); the scan is the only data-sized pass."""
    t = load_tables(spark, sf_dir, ("documents",))
    x = (F.col("n_chars") / ISO_BIN).cast("long")  # floor for positives
    y = (F.size(F.split("text", " ")) > ISO_TOK_CUT).cast("int")
    pts = (spread(t["documents"], "doc_id")
           .select(x.alias("x"), y.alias("y"))
           .groupBy("x")
           .agg(F.count("*").alias("w"), F.sum("y").alias("pos"))
           .localCheckpoint(eager=False))  # B rows; reused by 4 joins
    # driver resolution (r13): the bin frame is length-domain-bounded
    # — resolve the O(B²) minimax on the driver (see _iso_from_pts).
    tab = driver.bounded_collect(pts, ISO_COLLECT_MAX)
    if tab is not None:
        return _iso_from_pts(spark, tab)
    lo0 = pts.agg((F.min("x") - 1).alias("x"),
                  F.lit(0).cast("long").alias("cw"),
                  F.lit(0).cast("long").alias("cpos"))
    a, b = pts.alias("a"), pts.alias("b")
    pre = (a.join(F.broadcast(b), F.col("b.x") <= F.col("a.x"))
           .groupBy(F.col("a.x").alias("x"))
           .agg(F.sum("b.w").alias("cw"), F.sum("b.pos").alias("cpos"))
           .unionByName(lo0)
           .localCheckpoint(eager=False))
    hi, lo = pre.alias("hi"), pre.alias("lo")
    seg = (hi.join(F.broadcast(lo), F.col("lo.x") < F.col("hi.x"))
           .select((F.col("lo.x") + 1).alias("k"),
                   F.col("hi.x").alias("j"),
                   ((F.col("hi.cpos") - F.col("lo.cpos")) * 1.0
                    / (F.col("hi.cw") - F.col("lo.cw"))).alias("seg_avg")))
    p2 = pts.select(F.col("x"))
    inner_min = (p2.join(F.broadcast(seg),
                         (F.col("k") <= F.col("x"))
                         & (F.col("j") >= F.col("x")))
                 .groupBy("k", "x").agg(F.min("seg_avg").alias("m")))
    minimax = (pts.select(F.col("x"))
               .join(F.broadcast(inner_min.withColumnRenamed("x", "ix")),
                     (F.col("ix") == F.col("x"))
                     & (F.col("k") <= F.col("x")))
               .groupBy("x").agg(F.max("m").alias("fit")))
    return (pts.join(minimax, "x")
            .select(F.col("x").alias("char_bin"),
                    F.col("w").alias("n_docs"),
                    F.col("pos").alias("n_pos"),
                    F.round(F.col("pos") * 1.0 / F.col("w"), 6)
                    .alias("emp_rate"),
                    F.round("fit", 6).alias("iso_rate")))


#: Poisson bootstrap: replicate count and Poisson(1) CDF cut points
#: (deterministic md5 uniform -> weight via inverse CDF, capped at 6).
BOOT_B = 200
_POIS_CDF = ("0.367879441171", "0.735758882343", "0.919698602929",
             "0.981011843124", "0.996340153173", "0.999405815182")


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF))
    return f"CASE {branches} ELSE 6 END"


@register(
    "bootstrap_mean_ci",
    survey="ext-stats,A4,A11,F9",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE)
                   AS rev
        FROM orders GROUP BY 1
    ), reps AS (
        SELECT d.day, d.rev, b.b,
               (CAST(CAST('0x' || substr(md5(CAST(b.b AS VARCHAR) || ':' ||
                    CAST(d.day AS VARCHAR)), 1, 13) AS BIGINT) AS DOUBLE)
                + 0.5) / 4503599627370496.0 AS u
        FROM daily d
        CROSS JOIN (SELECT unnest(range({BOOT_B})) AS b) b
    ), weighted AS (
        SELECT b, {_pois_case_sql('u')} AS w, rev FROM reps
    ), means AS (
        SELECT b,
               CAST(SUM(CAST(ROUND(w * rev, 2) AS DECIMAL(25,2)))
                    AS DOUBLE)
               / SUM(w) AS m
        FROM weighted GROUP BY b HAVING SUM(w) > 0
    ), base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               ROUND(AVG(rev), 6) AS mean_revenue
        FROM daily
    )
    SELECT base.n_days,
           CAST(COUNT(*) AS BIGINT) AS b_reps,
           base.mean_revenue,
           ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
           ROUND(quantile_cont(m, 0.975), 6) AS ci_hi
    FROM means CROSS JOIN base
    GROUP BY base.n_days, base.mean_revenue
    """,
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-bootstrap 95% CI for mean daily revenue via the
    POISSON bootstrap — the form that actually distributes: a
    multinomial resample needs a global row index (forbidden at
    scale), but giving every row an independent Poisson(1) weight per
    replicate is a narrow map and approximates the same resampling
    distribution (the e^-1-probability-of-exclusion bootstrap used in
    production A/B systems). Weights are DETERMINISTIC: u =
    md5(b:day) mapped into (0,1), w = Poisson(1) inverse CDF of u
    (CASE over 6 fixed cut points, capped) — identical across
    engines, partitionings, and reruns, which turns a Monte-Carlo
    method into an oracle-checkable one.

    Plan: one aggregate builds the daily frame; a B=200-way
    generator explode + one map-combinable (replicate)-keyed
    aggregate computes every replicate mean (weighted sums on the 2dp
    money grid → DECIMAL-exact); the CI is an exact percentile over
    the B-row means frame. Cost at 100 TB: B× the daily frame
    (NOT B× the raw data — resample the aggregation grain), one
    shuffle on (b)."""
    t = load_tables(spark, sf_dir, ("orders",))
    daily = (spread(t["orders"])
             .groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(F.sum(F.col("o_totalprice").cast("decimal(25,2)"))
                  .cast("double").alias("rev"))
             .localCheckpoint(eager=False))  # reused: base stats + reps
    base = daily.agg(F.count("*").alias("n_days"),
                     F.round(F.avg("rev"), 6).alias("mean_revenue"))
    bs = F.explode(F.array(*[F.lit(i) for i in range(BOOT_B)])).alias("b")
    raw = md5_int(F.concat(F.col("b").cast("string"), F.lit(":"),
                           F.col("day").cast("string")), 13).cast("double")
    u = (raw + 0.5) / float(1 << 52)
    w = F.lit(6)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u < float(_POIS_CDF[k]), k).otherwise(w)
    means = (daily.select("day", "rev", bs)
             .select("b", w.alias("w"), "rev")
             .groupBy("b")
             .agg((F.sum(F.round(F.col("w") * F.col("rev"), 2)
                         .cast("decimal(25,2)")).cast("double")
                   / F.sum("w")).alias("m"),
                  F.sum("w").alias("tw"))
             .filter(F.col("tw") > 0))
    return (means.agg(F.count("*").alias("b_reps"),
                      F.round(F.percentile("m", F.lit(0.025)), 6)
                      .alias("ci_lo"),
                      F.round(F.percentile("m", F.lit(0.975)), 6)
                      .alias("ci_hi"))
            .crossJoin(F.broadcast(base))
            .select("n_days", "b_reps", "mean_revenue", "ci_lo", "ci_hi"))


@register(
    "er_name_clusters",
    survey="ext-er,J1,A6,D1",
    oracle=f"""
    WITH RECURSIVE names AS (
        SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM part GROUP BY 1
    ), pairs AS (
        SELECT a.name AS a, b.name AS b
        FROM names a JOIN names b
          ON a.name < b.name
         AND levenshtein(a.name, b.name) <= {3}
    ), edges AS (
        SELECT a, b FROM pairs
        UNION ALL
        SELECT b, a FROM pairs
    ), walk(name, label) AS (
        SELECT name, name FROM names
        UNION
        SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.name
    )
    SELECT w.name,
           MIN(w.label) AS cluster_id,
           w.name = MIN(w.label) AS is_canonical,
           ANY_VALUE(n.n_parts) AS n_parts
    FROM walk w JOIN names n ON w.name = n.name
    GROUP BY w.name
    """,
)
def er_name_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: the fuzzy candidate pairs from
    `name_similarity_pairs` (Levenshtein ≤ 3 over the DISTINCT name
    table) resolved into entities by large-star/small-star connected
    components (`corpus.star_components` — the same O(log² n) engine
    that resolves near-dup document clusters), with the
    lexicographically smallest name as each entity's canonical form.
    This is the composition a real MDM/record-linkage pipeline runs:
    block → compare → cluster → pick survivor, all vocabulary-sized
    after the first aggregate. The oracle re-derives the same
    clusters with recursive-CTE reachability + MIN."""
    from covid_weather_etl_spark.operators.corpus import star_components
    t = load_tables(spark, sf_dir, ("part",))
    names = (t["part"].groupBy(F.col("p_name").alias("name"))
             .agg(F.count("*").alias("n_parts"))
             .localCheckpoint(eager=False))  # reused: pairs + universe
    a, b = names.alias("a"), names.alias("b")
    # same thresholded-levenshtein + length-band pruning as
    # name_similarity_pairs (lossless; see that docstring)
    lev = F.levenshtein(F.col("a.name"), F.col("b.name"), 3)
    len_ok = (F.abs(F.length(F.col("a.name"))
                    - F.length(F.col("b.name"))) <= 3)
    pairs = (a.join(F.broadcast(b),
                    (F.col("a.name") < F.col("b.name")) & len_ok
                    & (lev >= 0))
             .select(F.col("a.name").alias("a"), F.col("b.name").alias("b")))
    lbl = star_components(pairs, op_name="er_name_clusters") \
        .withColumnRenamed("node", "name")
    return (names.join(lbl, "name", "left")
            .select("name",
                    F.coalesce("lbl", "name").alias("cluster_id"),
                    (F.coalesce("lbl", "name") == F.col("name"))
                    .alias("is_canonical"),
                    "n_parts"))


#: reliability diagram: number of equal-width confidence bins.
ECE_BINS = 10


@register(
    "calibration_ece_report",
    survey="ext-stats,U5,A6,F9",
    oracle=f"""
    WITH scored AS (
        SELECT n_chars AS score,
               CASE WHEN len(string_split(text, ' ')) > {ISO_TOK_CUT}
                    THEN 1 ELSE 0 END AS y
        FROM documents
    ), mm AS (
        SELECT MIN(score) AS lo, MAX(score) AS hi FROM scored
    ), conf AS (
        SELECT CAST(ROUND((score - lo) * 1.0 / (hi - lo), 6)
                    AS DECIMAL(10,6)) AS c, y
        FROM scored CROSS JOIN mm
    ), binned AS (
        SELECT LEAST(CAST(FLOOR(c * {ECE_BINS}) AS INT), {ECE_BINS} - 1)
                 AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               SUM(c) AS sc,
               CAST(SUM(y) AS BIGINT) AS n_pos
        FROM conf GROUP BY 1
    ), terms AS (
        SELECT bin, n_rows, n_pos,
               FLOOR(CAST(sc AS DOUBLE) / n_rows * 1e6 + 0.5) / 1e6
                 AS avg_conf,
               FLOOR(n_pos * 1.0 / n_rows * 1e6 + 0.5) / 1e6 AS frac_pos,
               CAST(ROUND(ABS(CAST(sc AS DOUBLE) / n_rows
                              - n_pos * 1.0 / n_rows), 9)
                    AS DECIMAL(20,9)) AS gap9
        FROM binned
    ), tot AS (
        SELECT CAST(SUM(n_rows) AS BIGINT) AS n,
               SUM(n_rows * gap9) AS wgap
        FROM terms
    )
    SELECT bin, n_rows, n_pos, avg_conf, frac_pos,
           FLOOR(CAST(wgap AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS ece
    FROM terms CROSS JOIN tot
    """,
)
def calibration_ece_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Expected Calibration Error for the
    min-max-normalized n_chars score as a probability of the
    long-document outcome — the calibration DIAGNOSTIC that says
    whether scores can be read as probabilities at all, the question
    `isotonic_calibration` then FIXES (same score/outcome pair, so the
    before/after story is inspectable in one registry). Ten
    equal-width confidence bins; per bin the mean claimed confidence
    vs the observed positive rate; ECE = Σ (n_b/N)·|conf_b − acc_b|,
    the standard one-number summary (Guo et al. 2017).

    Exactness: confidences are rounded to the 1e-6 grid and summed in
    DECIMAL (order-free); per-bin means and gaps are scalar double
    ops; each |gap| is rounded to 9dp back into DECIMAL so the
    N-weighted ECE sum is order-free too — every division is a single
    IEEE op under the fround convention on both engines. Plan: one
    scan → a 2-value min/max broadcast → one 10-group aggregate;
    everything after is 10 rows."""
    t = load_tables(spark, sf_dir, ("documents",))
    scored = (spread(t["documents"], "doc_id")
              .select(F.col("n_chars").alias("score"),
                      (F.size(F.split("text", " ")) > ISO_TOK_CUT)
                      .cast("int").alias("y")))
    mm = scored.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    conf = (scored.crossJoin(F.broadcast(mm))
            .select(F.round((F.col("score") - F.col("lo")) * 1.0
                            / (F.col("hi") - F.col("lo")), 6)
                    .cast("decimal(10,6)").alias("c"), "y"))
    binned = (conf.groupBy(
        F.least(F.floor(F.col("c") * ECE_BINS).cast("int"),
                F.lit(ECE_BINS - 1)).alias("bin"))
        .agg(F.count("*").alias("n_rows"),
             F.sum("c").alias("sc"),
             F.sum("y").alias("n_pos")))
    avg_conf = F.floor(F.col("sc").cast("double") / F.col("n_rows")
                       * 1e6 + 0.5) / 1e6
    frac_pos = F.floor(F.col("n_pos") * 1.0 / F.col("n_rows")
                       * 1e6 + 0.5) / 1e6
    gap9 = (F.round(F.abs(F.col("sc").cast("double") / F.col("n_rows")
                          - F.col("n_pos") * 1.0 / F.col("n_rows")), 9)
            .cast("decimal(20,9)"))
    terms = (binned.select("bin", "n_rows", "n_pos",
                           avg_conf.alias("avg_conf"),
                           frac_pos.alias("frac_pos"),
                           gap9.alias("gap9"))
             .localCheckpoint(eager=False))   # 10 rows; reused
    tot = terms.agg(F.sum("n_rows").alias("n"),
                    F.sum(F.col("n_rows") * F.col("gap9")).alias("wgap"))
    ece = F.floor(F.col("wgap").cast("double") / F.col("n")
                  * 1e6 + 0.5) / 1e6
    return (terms.crossJoin(F.broadcast(tot))
            .select("bin", "n_rows", "n_pos", "avg_conf", "frac_pos",
                    ece.alias("ece")))


# ---------------------------------------------------------------------------
# weight-of-evidence / information-value binning
# ---------------------------------------------------------------------------

#: "bad" outcome for the risk-binning view: deep-discounted lines.
WOE_BAD_CUT = 0.05


@register(
    "woe_iv_binning",
    survey="ext-stats,A11,A3,F9",
    bench=True,  # r13: heavy flagged for the driver PERF table (additions-only)
    oracle=f"""
    WITH edges AS (
        SELECT ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS e1,
               ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS e2,
               ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS e3
        FROM lineitem
    ), binned AS (
        SELECT CASE WHEN l_extendedprice < e1 THEN 0
                    WHEN l_extendedprice < e2 THEN 1
                    WHEN l_extendedprice < e3 THEN 2
                    ELSE 3 END AS bin,
               CASE WHEN l_discount > {WOE_BAD_CUT} THEN 1 ELSE 0 END AS bad
        FROM lineitem CROSS JOIN edges
    ), counts AS (
        SELECT bin,
               CAST(SUM(bad) AS BIGINT)     AS n_bad,
               CAST(COUNT(*) - SUM(bad) AS BIGINT) AS n_good
        FROM binned GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(n_bad) AS BIGINT) AS b,
               CAST(SUM(n_good) AS BIGINT) AS g
        FROM counts
    ), woe AS (
        SELECT bin, n_bad, n_good,
               FLOOR(ln(CAST(n_bad * g AS DOUBLE)
                        / CAST(n_good * b AS DOUBLE)) * 1e6 + 0.5) / 1e6
                   AS woe
        FROM counts CROSS JOIN tot
    ), terms AS (
        SELECT bin, n_bad, n_good, woe,
               CAST(ROUND((n_bad * 1.0 / b - n_good * 1.0 / g) * woe, 9)
                    AS DECIMAL(20,9)) AS term9
        FROM woe CROSS JOIN tot
    )
    , ivagg AS (
        SELECT FLOOR(CAST(SUM(term9) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS iv
        FROM terms
    )
    SELECT bin, n_bad, n_good, woe, iv
    FROM terms CROSS JOIN ivagg
    """,
)
def woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value binning — the credit-risk
    canon's feature-screening step (Siddiqi 2006): discretize the
    price feature into quartile bins, score each bin's log-odds shift
    WoE = ln((bad_i/B)/(good_i/G)) against the deep-discount outcome,
    and summarize the feature's separating power as
    IV = Σ (bad_i/B − good_i/G)·WoE_i (rule of thumb: IV < 0.02
    useless, > 0.3 strong). Complements `mutual_information_features`
    (MI is symmetric/unsigned; WoE keeps direction and is the input
    to scorecard points).

    Exactness: bin edges are 6dp-rounded exact percentiles (the
    repo's quantile_binning convention); counts are integers; each
    WoE is ln of ONE exact-integer-product ratio (n_bad·G / n_good·B)
    fround-rounded; IV terms re-enter DECIMAL at 9dp so the
    cross-bin sum is order-free. Plan: one 3-value edge aggregate
    broadcast over the scan, one 4-group count aggregate, then pure
    4-row algebra (window over 4 rows for the IV constant). The
    quartile-bin construction guarantees every bin is populated on
    both classes at any realistic scale; a production scorecard would
    add a CASE for empty bins (Laplace smoothing) on both engines."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    price = F.col("l_extendedprice")
    # ONE array-percentile aggregate (one column buffer, not three —
    # quantile_binning's lesson) collected as three driver scalars:
    # leaving `edges` as an unevaluated broadcast subplan made the
    # counts job RE-RUN the percentile, doubling the dominant cost
    # (measured 8.4s → ~3s at sf0.1). A 3-scalar fetch is the repo's
    # cursor-scalar convention, not a data collect.
    e1, e2, e3 = (
        t["lineitem"]
        .agg(F.transform(
            F.percentile(price, F.array(*[F.lit(p) for p in _QS])),
            lambda c: F.round(c, 6)).alias("qs"))
        .collect()[0]["qs"])
    bin_col = (F.when(price < e1, 0)
                .when(price < e2, 1)
                .when(price < e3, 2).otherwise(3))
    bad = (F.col("l_discount") > WOE_BAD_CUT).cast("int")
    counts = (t["lineitem"]
              .select(bin_col.alias("bin"), bad.alias("bad"))
              .groupBy("bin")
              .agg(F.sum("bad").cast("long").alias("n_bad"),
                   (F.count("*") - F.sum("bad")).cast("long")
                   .alias("n_good")))
    tot = counts.agg(F.sum("n_bad").alias("b"), F.sum("n_good").alias("g"))
    woe = (F.floor(F.log((F.col("n_bad") * F.col("g")).cast("double")
                         / (F.col("n_good") * F.col("b")).cast("double"))
                   * 1e6 + 0.5) / 1e6)
    scored = (counts.crossJoin(F.broadcast(tot))
              .select("bin", "n_bad", "n_good", woe.alias("woe"),
                      F.round((F.col("n_bad") * 1.0 / F.col("b")
                               - F.col("n_good") * 1.0 / F.col("g"))
                              * woe, 9)
                      .cast("decimal(20,9)").alias("term9")))
    scored = scored.localCheckpoint(eager=False)  # 4 rows; reused twice
    ivf = scored.agg((F.floor(F.sum("term9").cast("double") * 1e6 + 0.5)
                      / 1e6).alias("iv"))
    return (scored.crossJoin(F.broadcast(ivf))
            .select("bin", "n_bad", "n_good", "woe", "iv"))


# ---------------------------------------------------------------------------
# ridge regression by one-pass distributed normal equations
# ---------------------------------------------------------------------------

#: L2 penalty added to every diagonal entry of the Gram matrix.
RIDGE_LAMBDA = 1.0

#: Shared 3x3 Cramer's-rule solve over the 9 sufficient statistics.
#: The SAME expression text runs on both engines (Spark SQL and
#: DuckDB parse identical precedence), so given bit-identical inputs
#: the determinant arithmetic is bit-identical too.
_RIDGE_SOLVE_SQL = """
    SELECT CAST(n AS BIGINT) AS n_rows,
           FLOOR((b0*(a11*a22 - a12*a21) - a01*(b1*a22 - a12*b2)
                  + a02*(b1*a21 - a11*b2)) / det * 1e6 + 5e-1)
               / 1e6 AS beta_intercept,
           FLOOR((a00*(b1*a22 - a12*b2) - b0*(a10*a22 - a12*a20)
                  + a02*(a10*b2 - b1*a20)) / det * 1e6 + 5e-1)
               / 1e6 AS beta_quantity,
           FLOOR((a00*(a11*b2 - b1*a21) - a01*(a10*b2 - b1*a20)
                  + b0*(a10*a21 - a11*a20)) / det * 1e6 + 5e-1)
               / 1e6 AS beta_discount
    FROM (
        SELECT n, sq, sd, sy,
               n + {lam} AS a00, sq AS a01, sd AS a02,
               sq AS a10, sqq + {lam} AS a11, sqd AS a12,
               sd AS a20, sqd AS a21, sdd + {lam} AS a22,
               sy AS b0, sqy AS b1, sdy AS b2,
               (n + {lam})*((sqq + {lam})*(sdd + {lam}) - sqd*sqd)
                 - sq*(sq*(sdd + {lam}) - sqd*sd)
                 + sd*(sq*sqd - (sqq + {lam})*sd) AS det
        FROM sums
    )
"""


@register(
    "ridge_normal_equations",
    survey="ext-ml,U2,A1,A4",
    oracle=("""
    WITH sums AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sq,
               CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sd,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6)))
                    AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6)))
                    AS DOUBLE) AS sqq,
               CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,6)))
                    AS DOUBLE) AS sqd,
               CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,6)))
                    AS DOUBLE) AS sdd,
               CAST(SUM(CAST(l_quantity * l_extendedprice
                             AS DECIMAL(38,6))) AS DOUBLE) AS sqy,
               CAST(SUM(CAST(l_discount * l_extendedprice
                             AS DECIMAL(38,6))) AS DOUBLE) AS sdy
        FROM lineitem
    )
    """ + _RIDGE_SOLVE_SQL).format(lam=float(RIDGE_LAMBDA)),
)
def ridge_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression of line price on (quantity, discount) solved
    in CLOSED FORM by distributed normal equations: one map-side-
    combinable aggregate computes the 9 sufficient statistics
    (Gram matrix X'X and moment vector X'y for the design
    [1, quantity, discount]), then a 3x3 Cramer's-rule solve runs as
    plain column arithmetic on the single aggregate row — no driver
    numpy, no iterations, no Spark-ML fit. This is the canonical
    "learn a linear model in one pass" pattern: at 100 TB the ENTIRE
    training cost is one scan + a 9-number combine tree; executors
    never see the model, the model never sees a second pass.

    Exactness: every sufficient statistic is an exact DECIMAL sum of
    per-row IEEE products, so both engines hand the SAME nine doubles
    to the SAME determinant expression text — the solve is
    bit-identical and only display-rounded (1e-6 grid). The L2
    penalty (lambda on every Gram diagonal including the intercept;
    documented choice, keeps the matrix well-conditioned even on
    degenerate slices) is what guarantees det != 0.

    Semantic pin: tests/test_applied_stats.py checks the coefficients
    against numpy's explicit (X'X + lambda*I)^-1 X'y on the same rows."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    dec = "decimal(38,6)"
    q, d, y = F.col("l_quantity"), F.col("l_discount"), \
        F.col("l_extendedprice")

    def s(col, alias):
        return F.sum(col.cast(dec)).cast("double").alias(alias)

    sums = t["lineitem"].agg(
        F.count("*").cast("double").alias("n"),
        s(q, "sq"), s(d, "sd"), s(y, "sy"),
        s(q * q, "sqq"), s(q * d, "sqd"), s(d * d, "sdd"),
        s(q * y, "sqy"), s(d * y, "sdy"))
    sums.createOrReplaceTempView("sums")
    return spark.sql(_RIDGE_SOLVE_SQL.format(lam=float(RIDGE_LAMBDA)))


# ---------------------------------------------------------------------------
# log-space and reciprocal-space means (geometric / harmonic)
# ---------------------------------------------------------------------------

@register(
    "pythagorean_means_prices",
    survey="ext-stats,A4,A6,F10",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6)))
                      AS DOUBLE) / COUNT(*) * 1e6 + 5e-1) / 1e6
               AS arith_mean,
           FLOOR(EXP(CAST(SUM(CAST(LN(l_extendedprice)
                                   AS DECIMAL(25,12))) AS DOUBLE)
                     / COUNT(*)) * 1e6 + 5e-1) / 1e6 AS geom_mean,
           FLOOR(COUNT(*) / CAST(SUM(CAST(1e0 / l_extendedprice
                                          AS DECIMAL(25,18))) AS DOUBLE)
                 * 1e6 + 5e-1) / 1e6 AS harm_mean
    FROM lineitem
    WHERE l_extendedprice > 0
    GROUP BY l_returnflag
    """,
)
def pythagorean_means_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three Pythagorean means of price per return flag — the
    aggregates a built-in-only engine user would otherwise reach for
    a UDAF to get: geometric mean as exp(mean(ln x)) (the only
    correct average for ratios/growth rates), harmonic mean as
    n/Σ(1/x) (the only correct average for rates), next to the
    arithmetic baseline. Each is expressed as a sum in the
    TRANSFORMED space — so all three remain ordinary map-side-
    combinable aggregates, one shuffle for all nine columns, no UDAF,
    no second pass.

    Exactness: the transformed per-row terms (ln x, 1/x) are single
    IEEE ops; they accumulate as DECIMAL (12/18 fractional digits —
    the reciprocals of 5-digit prices need the headroom) so the sums
    are order-free, and each mean is floor-rounded onto the 1e-6
    grid after one deterministic division/EXP. Guarded on x > 0 on
    both engines: ln/reciprocal are undefined at 0 and the guard is
    the documented domain of both means."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    x = F.col("l_extendedprice")

    def grid(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return (t["lineitem"]
            .filter(x > 0)
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n_rows"),
                 grid(F.sum(x.cast("decimal(25,6)")).cast("double")
                      / F.count("*")).alias("arith_mean"),
                 grid(F.exp(F.sum(F.log(x).cast("decimal(25,12)"))
                            .cast("double") / F.count("*")))
                 .alias("geom_mean"),
                 grid(F.count("*")
                      / F.sum((F.lit(1.0) / x).cast("decimal(25,18)"))
                      .cast("double")).alias("harm_mean")))


#: blocking-key length band width (characters) for the ER blocking eval.
BLK_LEN_BAND = 4


@register(
    "blocking_quality_eval",
    survey="ext-er,A5,A6,J1",
    oracle=f"""
    WITH names AS (SELECT DISTINCT p_name AS name FROM part),
    keyed AS (
        SELECT name,
               string_split(name, ' ')[1] AS k_tok,
               CAST(length(name) // {BLK_LEN_BAND} AS BIGINT) AS k_len
        FROM names
    ),
    truth AS (
        SELECT a.name AS n1, b.name AS n2,
               ka.k_tok AS tok1, kb.k_tok AS tok2,
               ka.k_len AS len1, kb.k_len AS len2
        FROM names a JOIN names b
          ON a.name < b.name
         AND levenshtein(a.name, b.name) <= 3
        JOIN keyed ka ON ka.name = a.name
        JOIN keyed kb ON kb.name = b.name
    ),
    v AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM names),
    strat AS (
        SELECT 'first_token' AS strategy,
               (SELECT CAST(COUNT(DISTINCT k_tok) AS BIGINT) FROM keyed)
                   AS n_blocks,
               (SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT)
                FROM (SELECT COUNT(*) AS c FROM keyed GROUP BY k_tok))
                   AS n_cand,
               (SELECT CAST(SUM(CASE WHEN tok1 = tok2 THEN 1 ELSE 0 END)
                            AS BIGINT) FROM truth) AS n_cov
        UNION ALL
        SELECT 'len_band',
               (SELECT CAST(COUNT(DISTINCT k_len) AS BIGINT) FROM keyed),
               (SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT)
                FROM (SELECT COUNT(*) AS c FROM keyed GROUP BY k_len)),
               (SELECT CAST(SUM(CASE WHEN len1 = len2 THEN 1 ELSE 0 END)
                            AS BIGINT) FROM truth)
        UNION ALL
        SELECT 'token_and_band',
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM (SELECT 1 FROM keyed GROUP BY k_tok, k_len)),
               (SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT)
                FROM (SELECT COUNT(*) AS c FROM keyed
                      GROUP BY k_tok, k_len)),
               (SELECT CAST(SUM(CASE WHEN tok1 = tok2 AND len1 = len2
                                     THEN 1 ELSE 0 END) AS BIGINT)
                FROM truth)
    )
    SELECT s.strategy, s.n_blocks, s.n_cand,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
           s.n_cov AS n_true_covered,
           {fround_sql("1e0 - s.n_cand * 1e0 / (v.nv * (v.nv - 1) // 2)")}
               AS reduction_ratio,
           {fround_sql("s.n_cov * 1e0 "
                       "/ (SELECT COUNT(*) FROM truth)")}
               AS pair_completeness
    FROM strat s CROSS JOIN v
    """,
)
def blocking_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER BLOCKING quality gate — before running any fuzzy matcher at
    scale you pick a blocking scheme and measure the two numbers that
    justify it: REDUCTION RATIO (share of the all-pairs comparison
    space the blocks prune) and PAIR COMPLETENESS (share of true
    matches — here Levenshtein ≤ 3 pairs, name_similarity_pairs'
    truth — that land in the same block and thus survive). Three
    standard schemes side by side: first token, length band
    (|len(a)−len(b)| ≤ 3 ⊂ same-or-adjacent {BLK_LEN_BAND}-char band —
    deliberately lossy, the eval QUANTIFIES the loss), and their
    conjunction.

    The trick that makes the eval itself cheap: candidate counts come
    from BLOCK SIZES (Σ c·(c−1)/2 — never materializing a pair), and
    completeness is a key-equality predicate evaluated ON the truth
    pairs (vocabulary-sized, the distinct-first discipline). Pure
    integer counts + two fround ratios."""
    from covid_weather_etl_spark.functions.numeric import fround
    t = load_tables(spark, sf_dir, ("part",))
    names = t["part"].select(F.col("p_name").alias("name")).distinct()
    keyed = names.select(
        "name",
        F.split("name", " ").getItem(0).alias("k_tok"),
        F.floor(F.length("name") / BLK_LEN_BAND).cast("long")
        .alias("k_len")).localCheckpoint(eager=False)
    a, b = keyed.alias("a"), keyed.alias("b")
    lev = F.levenshtein(F.col("a.name"), F.col("b.name"), 3)
    len_ok = (F.abs(F.length(F.col("a.name"))
                    - F.length(F.col("b.name"))) <= 3)
    truth = (a.join(F.broadcast(b),
                    (F.col("a.name") < F.col("b.name")) & len_ok
                    & (lev >= 0))
             .select(F.col("a.k_tok").alias("tok1"),
                     F.col("b.k_tok").alias("tok2"),
                     F.col("a.k_len").alias("len1"),
                     F.col("b.k_len").alias("len2"))
             .localCheckpoint(eager=False))
    nv = keyed.count()
    all_pairs = nv * (nv - 1) // 2
    n_true = truth.count()

    def block_stats(strategy: str, keys: list, hit) -> DataFrame:
        blocks = keyed.groupBy(*keys).agg(F.count("*").alias("c"))
        cand = blocks.agg(
            F.count("*").alias("n_blocks"),
            F.coalesce(F.sum(F.floor(F.col("c") * (F.col("c") - 1) / 2)),
                       F.lit(0)).cast("long").alias("n_cand"))
        cov = truth.agg(
            F.coalesce(F.sum(F.when(hit, 1).otherwise(0)), F.lit(0))
            .cast("long").alias("n_cov"))
        return (cand.crossJoin(F.broadcast(cov))
                .select(F.lit(strategy).alias("strategy"),
                        F.col("n_blocks").cast("long").alias("n_blocks"),
                        "n_cand",
                        F.lit(n_true).cast("long").alias("n_true"),
                        F.col("n_cov").alias("n_true_covered"),
                        fround(F.lit(1.0) - F.col("n_cand") * F.lit(1.0)
                               / F.lit(float(all_pairs)))
                        .alias("reduction_ratio"),
                        fround(F.col("n_cov") * F.lit(1.0)
                               / F.lit(float(n_true)))
                        .alias("pair_completeness")))

    s1 = block_stats("first_token", ["k_tok"],
                     F.col("tok1") == F.col("tok2"))
    s2 = block_stats("len_band", ["k_len"],
                     F.col("len1") == F.col("len2"))
    s3 = block_stats("token_and_band", ["k_tok", "k_len"],
                     (F.col("tok1") == F.col("tok2"))
                     & (F.col("len1") == F.col("len2")))
    return s1.unionByName(s2).unionByName(s3)


# ---------------------------------------------------------------------------
# Neyman allocation — variance-optimal stratified sampling design
# ---------------------------------------------------------------------------

#: total sample budget the allocation distributes.
NEYMAN_BUDGET = 1000


@register(
    "neyman_allocation_plan",
    survey="ext-sampling,A6,A10,F10,F9",
    oracle=f"""
    WITH s AS (
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
                    AS DOUBLE) AS sx,
               CAST(SUM(CAST(o_totalprice * o_totalprice
                             AS DECIMAL(25,6))) AS DOUBLE) AS sxx
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1
    ), st AS (
        SELECT n_name, n_rows,
               FLOOR(SQRT((sxx - (sx / n_rows) * sx)
                          / (n_rows - 1)) * 1e6 + 0.5) / 1e6 AS sd
        FROM s
    ), tot AS (
        SELECT CAST(SUM(n_rows) AS BIGINT) AS n_total,
               CAST(SUM(CAST(FLOOR(n_rows * sd * 1e6 + 0.5)
                             AS DECIMAL(25,0))) AS DOUBLE) / 1e6 AS w
        FROM st
    )
    SELECT st.n_name, st.n_rows, st.sd AS stratum_sd,
           CAST(FLOOR({NEYMAN_BUDGET} * st.n_rows * 1e0 / tot.n_total
                      + 0.5) AS BIGINT) AS proportional_alloc,
           CAST(FLOOR({NEYMAN_BUDGET} * (st.n_rows * st.sd) / tot.w
                      + 0.5) AS BIGINT) AS neyman_alloc,
           {fround_sql("(st.n_rows * st.sd) / tot.w")} AS neyman_share
    FROM st CROSS JOIN tot
    """,
)
def neyman_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN ALLOCATION (Neyman 1934) — the variance-optimal way to
    spend a sampling budget of {NEYMAN_BUDGET} across strata: sample
    n_h ∝ N_h·S_h (stratum size × stratum std), vs the proportional
    baseline n_h ∝ N_h. High-variance nations get oversampled, stable
    ones undersampled — the estimator-variance win every survey /
    data-audit / eval-set-construction pipeline takes when strata
    differ in spread (the design-side complement of
    `stratified_exact_k_sample`, which EXECUTES a plan like this, and
    of `bootstrap_mean_ci`, which prices the variance this reduces).

    Exactness: per-stratum moments ride DECIMAL sums (2dp money →
    4dp squares, exact); the std is one shared-text sqrt snapped to
    1e-6; N_h·S_h products snap to 1e-6 then DECIMAL-sum into the
    denominator, so every ratio sees identical inputs on both
    engines; allocations are floor(x+0.5) of those shared
    expressions. Plan: one fact-side aggregate after two broadcast
    dim joins (nation/customer are dims), then a ~25-row frame and a
    1-row broadcast total — map-combinable end to end, no window."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    s = (t["orders"]
         .join(F.broadcast(t["customer"]
                           .select("c_custkey", "c_nationkey")),
               F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(t["nation"]
                           .select("n_nationkey", "n_name")),
               F.col("c_nationkey") == F.col("n_nationkey"))
         .groupBy("n_name")
         .agg(F.count("*").alias("n_rows"),
              F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
              .cast("double").alias("sx"),
              F.sum((F.col("o_totalprice") * F.col("o_totalprice"))
                    .cast("decimal(25,6)")).cast("double").alias("sxx")))
    g6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    st = s.select(
        "n_name", "n_rows",
        g6(F.sqrt((F.col("sxx") - (F.col("sx") / F.col("n_rows"))
                   * F.col("sx")) / (F.col("n_rows") - 1))).alias("sd"))
    st = st.localCheckpoint(eager=False)  # ~25 rows, reused as both sides
    tot = st.agg(
        F.sum("n_rows").cast("long").alias("n_total"),
        (F.sum(F.floor(F.col("n_rows") * F.col("sd") * F.lit(1e6)
                       + F.lit(0.5)).cast("decimal(25,0)"))
         .cast("double") / F.lit(1e6)).alias("w"))
    return (st.crossJoin(F.broadcast(tot))
            .select("n_name",
                    F.col("n_rows").cast("long").alias("n_rows"),
                    F.col("sd").alias("stratum_sd"),
                    F.floor(F.lit(NEYMAN_BUDGET) * F.col("n_rows")
                            * F.lit(1.0) / F.col("n_total") + F.lit(0.5))
                    .cast("long").alias("proportional_alloc"),
                    F.floor(F.lit(NEYMAN_BUDGET)
                            * (F.col("n_rows") * F.col("sd"))
                            / F.col("w") + F.lit(0.5))
                    .cast("long").alias("neyman_alloc"),
                    g6((F.col("n_rows") * F.col("sd")) / F.col("w"))
                    .alias("neyman_share")))


# ---------------------------------------------------------------------------
# Gini split scores — the CART node criterion per candidate feature
# ---------------------------------------------------------------------------

#: candidate discrete features scored against the discount label:
#: (name, spark SQL expr, duckdb SQL expr). The exprs differ in
#: dialect (dayofweek bases, integer division) but produce IDENTICAL
#: categorical values — shared text is only required for floats.
GINI_FEATURES = (
    ("returnflag", "l_returnflag", "l_returnflag"),
    ("linestatus", "l_linestatus", "l_linestatus"),
    ("weekend",
     "CASE WHEN dayofweek(l_shipdate) IN (1, 7) THEN 'y' ELSE 'n' END",
     "CASE WHEN dayofweek(l_shipdate) IN (0, 6) THEN 'y' ELSE 'n' END"),
    ("qty_band",
     "CAST(CAST(FLOOR(l_quantity / 10) AS BIGINT) AS STRING)",
     "CAST(CAST(FLOOR(l_quantity / 10) AS BIGINT) AS VARCHAR)"),
)
_GINI_LABEL = "CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END"


def _gini_oracle() -> str:
    parts = []
    for name, _spark_expr, expr in GINI_FEATURES:
        parts.append(f"""
    SELECT '{name}' AS feature,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           FLOOR(MAX(parent) * 1e6 + 0.5) / 1e6 AS parent_gini,
           FLOOR(CAST(SUM(CAST(FLOOR((nv * 1e0 / nt)
                 * (1e0 - (n1 * 1e0 / nv) * (n1 * 1e0 / nv)
                        - ((nv - n1) * 1e0 / nv)
                          * ((nv - n1) * 1e0 / nv)) * 1e9 + 0.5)
                 AS DECIMAL(25,0))) AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6
               AS weighted_gini,
           FLOOR((MAX(parent)
                  - CAST(SUM(CAST(FLOOR((nv * 1e0 / nt)
                    * (1e0 - (n1 * 1e0 / nv) * (n1 * 1e0 / nv)
                           - ((nv - n1) * 1e0 / nv)
                             * ((nv - n1) * 1e0 / nv)) * 1e9 + 0.5)
                    AS DECIMAL(25,0))) AS DOUBLE) / 1e9)
                 * 1e6 + 0.5) / 1e6 AS gini_gain
    FROM (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS nv,
               CAST(SUM(y) AS BIGINT) AS n1,
               CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS nt,
               1e0 - (SUM(SUM(y)) OVER () * 1e0
                      / SUM(COUNT(*)) OVER ())
                       * (SUM(SUM(y)) OVER () * 1e0
                          / SUM(COUNT(*)) OVER ())
                   - ((SUM(COUNT(*)) OVER () - SUM(SUM(y)) OVER ())
                      * 1e0 / SUM(COUNT(*)) OVER ())
                       * ((SUM(COUNT(*)) OVER () - SUM(SUM(y)) OVER ())
                          * 1e0 / SUM(COUNT(*)) OVER ()) AS parent
        FROM (SELECT CAST({expr} AS VARCHAR) AS v,
                     {_GINI_LABEL} AS y
              FROM lineitem) r
        GROUP BY v
    ) per_v""")
    return " UNION ALL ".join(parts)


@register(
    "gini_split_scores",
    survey="ext-ml,A3,A6,F9,U4",
    oracle=_gini_oracle(),
)
def gini_split_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI SPLIT scores — the CART node criterion (Breiman et al.
    1984) for each candidate discrete feature against the discount
    label: weighted post-split impurity Σ_v (n_v/n)·Gini(v) and the
    gain vs the parent node. The counting-side complement to
    `mutual_information_features` (information gain) and
    `feature_relevance_ranking` — and literally the statistic the GBT
    twins' tree learner maximizes at every node; here it is ONE
    grouped aggregate per feature, which is how distributed tree
    libraries actually evaluate candidate splits at scale (sufficient
    statistics per (feature value, label), never row-level recursion).

    Exactness: all counts integer; each per-value term is one
    shared-text float expression snapped to the 1e-9 grid and
    DECIMAL-summed (order-free across values); the parent Gini is
    scalar algebra over group totals (the oracle's OVER () is the
    per-feature total the engine gets from a broadcast scalar).
    Plan: per feature, one map-combinable (value, label) count
    rollup bounded by the feature's cardinality; features union."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = t["lineitem"]
    outs = []
    for name, expr, _duck_expr in GINI_FEATURES:
        r = li.select(F.expr(expr).cast("string").alias("v"),
                      F.expr(_GINI_LABEL).alias("y"))
        per_v = (r.groupBy("v")
                 .agg(F.count("*").alias("nv"), F.sum("y").alias("n1")))
        tot = per_v.agg(F.sum("nv").alias("nt"),
                        F.sum("n1").alias("t1"))
        p1 = F.col("n1") * F.lit(1.0) / F.col("nv")
        p0 = (F.col("nv") - F.col("n1")) * F.lit(1.0) / F.col("nv")
        term = F.floor((F.col("nv") * F.lit(1.0) / F.col("nt"))
                       * (F.lit(1.0) - p1 * p1 - p0 * p0)
                       * F.lit(1e9) + F.lit(0.5)).cast("decimal(25,0)")
        q1 = F.col("t1") * F.lit(1.0) / F.col("nt")
        q0 = (F.col("nt") - F.col("t1")) * F.lit(1.0) / F.col("nt")
        parent = F.lit(1.0) - q1 * q1 - q0 * q0
        g6 = lambda c: (F.floor(c * F.lit(1e6) + F.lit(0.5))  # noqa: E731
                        / F.lit(1e6))
        wg = F.sum(term).cast("double") / F.lit(1e9)
        outs.append(per_v.crossJoin(F.broadcast(tot)).agg(
            F.lit(name).alias("feature"),
            F.count("*").alias("n_values"),
            g6(F.max(parent)).alias("parent_gini"),
            g6(wg).alias("weighted_gini"),
            g6(F.max(parent) - wg).alias("gini_gain")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
