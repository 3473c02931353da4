"""Distribution-drift and dependence diagnostics — the monitoring pack
a training-data pipeline runs between corpus snapshots: Population
Stability Index over reference-period quantile bins, an exact
two-sample Kolmogorov-Smirnov distance, and mutual information between
a categorical feature and an outcome label.

All three are pure column algebra over one or two aggregates — no
Python in the data path — and each is exactly reproducible in the
DuckDB oracle (percentile edges rounded 6dp before binning, counts
integer-exact, logs applied to identical rationals on both engines).

Reference parity: the reference has no drift monitoring; these are the
operations its retraining DAG (`dags/forecasting_dag.py` re-fits on
every run) would need before trusting a refreshed corpus at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_weather_etl_spark.functions import driver
from covid_weather_etl_spark.functions.numeric import (
    decimal_sum, dsum, dsum_sql, fround, fround_sql, md5_int,
)
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables, spread

#: reference/current split for drift: orders strictly before the cutoff
#: are the "training-time" reference population.
PSI_CUTOFF = "1998-01-01"
#: decile edges of the reference distribution define the bins.
PSI_QS = tuple(i / 10 for i in range(1, 10))

_PSI_EDGE_SQL = ", ".join(
    f"ROUND(quantile_cont(o_totalprice, {q}), 6) AS e{i}"
    for i, q in enumerate(PSI_QS))
_PSI_BIN_SQL = ("CASE " + " ".join(
    f"WHEN o_totalprice < e{i} THEN {i}" for i in range(len(PSI_QS)))
    + f" ELSE {len(PSI_QS)} END")


@register(
    "psi_drift_report",
    survey="ext-drift,A11,A6,F9",
    oracle=f"""
    WITH edges AS (
        SELECT {_PSI_EDGE_SQL}
        FROM orders WHERE o_orderdate < TIMESTAMP '{PSI_CUTOFF}'
    ), binned AS (
        SELECT {_PSI_BIN_SQL} AS bin,
               (o_orderdate < TIMESTAMP '{PSI_CUTOFF}') AS is_ref
        FROM orders CROSS JOIN edges
    ), counts AS (
        SELECT bin,
               CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
                   AS ref_cnt,
               CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
                   AS cur_cnt
        FROM binned GROUP BY bin
    ), tot AS (
        SELECT CAST(SUM(ref_cnt) AS BIGINT) AS nr,
               CAST(SUM(cur_cnt) AS BIGINT) AS nc
        FROM counts
    )
    SELECT bin, ref_cnt, cur_cnt,
           ROUND(ref_cnt * 1.0 / nr, 6) AS ref_pct,
           ROUND(cur_cnt * 1.0 / nc, 6) AS cur_pct,
           ROUND((cur_cnt * 1.0 / nc - ref_cnt * 1.0 / nr)
                 * LN((cur_cnt * 1.0 / nc) / (ref_cnt * 1.0 / nr)), 6)
               AS psi_term
    FROM counts CROSS JOIN tot
    """,
)
def psi_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of `o_totalprice` between the
    pre-cutoff (1998-01-01) reference period and everything after: decile edges
    are computed ONCE on the reference slice (one array-percentile
    aggregate, edges rounded 6dp so both engines bin against
    bit-identical thresholds), broadcast back over a single full scan
    that CASE-assigns bins and map-side-combines (bin × is_ref) counts,
    then 10 rows of pure arithmetic produce the per-bin PSI terms
    (total PSI = SUM(psi_term); > 0.2 is the conventional alarm).

    Every bin is guaranteed non-empty on the reference side (deciles of
    the same population), so the log term never sees a zero — no
    Laplace fudge needed for ref_pct; a zero cur_cnt would NaN the term
    honestly on both engines alike. Scale: the edge pass flips to
    percentile_approx at 100 TB, plan otherwise unchanged — one scan,
    one tiny broadcast, one 10-row report."""
    t = load_tables(spark, sf_dir, ("orders",))
    od = spread(t["orders"])
    cutoff = F.lit(PSI_CUTOFF).cast("timestamp")
    ref = od.filter(F.col("o_orderdate") < cutoff)
    qarr = ref.agg(F.percentile(
        "o_totalprice", F.array(*[F.lit(q) for q in PSI_QS])).alias("qs"))
    edges = qarr.select(*[
        F.round(F.col("qs")[i], 6).alias(f"e{i}")
        for i in range(len(PSI_QS))])

    v = F.col("o_totalprice")
    bin_ = F.when(v < F.col("e0"), 0)
    for i in range(1, len(PSI_QS)):
        bin_ = bin_.when(v < F.col(f"e{i}"), i)
    bin_ = bin_.otherwise(len(PSI_QS))

    # eager checkpoint: `counts` (10 rows) feeds both the report and
    # `tot`; self-referenced frames are NOT auto-reused, so without
    # materialization the full scan+bin pass would run twice.
    counts = (od.crossJoin(F.broadcast(edges))
              .select(bin_.alias("bin"),
                      (F.col("o_orderdate") < cutoff).alias("is_ref"))
              .groupBy("bin")
              .agg(F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
                   .alias("ref_cnt"),
                   F.sum(F.when(F.col("is_ref"), 0).otherwise(1))
                   .alias("cur_cnt"))
              .localCheckpoint(eager=False))
    tot = counts.agg(F.sum("ref_cnt").alias("nr"),
                     F.sum("cur_cnt").alias("nc"))
    ref_pct = F.col("ref_cnt") * 1.0 / F.col("nr")
    cur_pct = F.col("cur_cnt") * 1.0 / F.col("nc")
    return (counts.crossJoin(F.broadcast(tot))
            .select("bin", "ref_cnt", "cur_cnt",
                    F.round(ref_pct, 6).alias("ref_pct"),
                    F.round(cur_pct, 6).alias("cur_pct"),
                    F.round((cur_pct - ref_pct)
                            * F.log(cur_pct / ref_pct), 6)
                    .alias("psi_term")))


#: the two samples for the KS test: event `value` distributions of two
#: behaviorally distinct event types.
KS_A, KS_B = "click", "purchase"
#: value-range blocks for the skew-resilient ECDF (see docstring).
KS_BLOCKS = 32


@register(
    "ks_two_sample",
    survey="ext-drift,A6,W1,A3",
    oracle=f"""
    WITH s AS (
        SELECT value AS v,
               CASE WHEN event_type = '{KS_A}' THEN 1 ELSE 0 END AS ia,
               CASE WHEN event_type = '{KS_B}' THEN 1 ELSE 0 END AS ib
        FROM events
        WHERE event_type IN ('{KS_A}', '{KS_B}') AND value IS NOT NULL
    ), d AS (
        SELECT v, CAST(SUM(ia) AS BIGINT) AS ca,
               CAST(SUM(ib) AS BIGINT) AS cb
        FROM s GROUP BY v
    ), c AS (
        SELECT SUM(ca) OVER (ORDER BY v) AS cca,
               SUM(cb) OVER (ORDER BY v) AS ccb
        FROM d
    ), tot AS (
        SELECT CAST(SUM(ia) AS BIGINT) AS n_a,
               CAST(SUM(ib) AS BIGINT) AS n_b
        FROM s
    )
    SELECT n_a, n_b,
           ROUND(MAX(ABS(cca * 1.0 / n_a - ccb * 1.0 / n_b)), 6)
               AS ks_stat
    FROM c CROSS JOIN tot
    GROUP BY n_a, n_b
    """,
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance between the
    `value` distributions of 'click' and 'purchase' events — the
    distribution-shape drift test PSI's fixed bins can miss.

    D = max over the pooled support of |ECDF_a - ECDF_b|. The oracle
    states it as one global cumulative window; the engine computes the
    SAME rationals with zero global windows (the registry-wide pin):

    1. tie-collapse: groupBy(v) → per-value (ca, cb) counts — the ECDF
       only changes at distinct values, and using the cumulative
       THROUGH each value handles ties in one step;
    2. block the value axis into KS_BLOCKS=32 equal-width ranges from a
       collected (min, max) scalar pair; the in-block cumulative window
       partitions on `blk`;
    3. per-block integer totals form a 32-row frame; the
       strictly-below-block offset comes from a broadcast triangular
       self-join (blk2 < blk1 — 32² tiny rows), NOT a window;
    4. ECDF fractions and one max-abs aggregate. Counts stay integers
       until the final two divisions, so both engines compare identical
       IEEE doubles before the 6dp round.

    Scale: each block's window task sees ~distinct-values/32
    rows (value ranges re-blockable finer at 100 TB); everything else
    is map-combinable aggregation. No all-pairs, no global sort."""
    t = load_tables(spark, sf_dir, ("events",))
    s = (spread(t["events"], "event_type")
         .filter(F.col("event_type").isin(KS_A, KS_B)
                 & F.col("value").isNotNull())
         .select("value",
                 F.when(F.col("event_type") == KS_A, 1).otherwise(0)
                 .alias("ia"),
                 F.when(F.col("event_type") == KS_B, 1).otherwise(0)
                 .alias("ib")))
    # one scan of events builds the tie-collapsed per-value table;
    # checkpoint it (distinct-values-sized) — it feeds the in-block
    # window, the block totals, the range scalars AND the sample sizes,
    # and each reuse would otherwise recompute the scan
    d = (s.groupBy(F.col("value").alias("v"))
         .agg(F.sum("ia").alias("ca"), F.sum("ib").alias("cb"))
         .localCheckpoint(eager=False))

    lo, hi = d.agg(F.min("v"), F.max("v")).first()
    if lo is None:
        # empty pooled sample (e.g. a filtered-out type): a 0-row frame
        # with the contract schema beats a driver-side crash
        return driver.local_frame(
            spark, [], "n_a bigint, n_b bigint, ks_stat double")
    width = max((hi - lo) / KS_BLOCKS, 1e-12)
    blk = F.least(F.floor((F.col("v") - F.lit(lo)) / F.lit(width)),
                  F.lit(KS_BLOCKS - 1)).cast("int")

    from pyspark.sql import Window as W
    w_in = (W.partitionBy("blk").orderBy("v")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    in_blk = (d.withColumn("blk", blk)
              .withColumn("ca_in", F.sum("ca").over(w_in))
              .withColumn("cb_in", F.sum("cb").over(w_in)))

    blk_tot = (d.withColumn("blk", blk).groupBy("blk")
               .agg(F.sum("ca").alias("ta"), F.sum("cb").alias("tb")))
    below = (blk_tot.alias("x")
             .join(F.broadcast(blk_tot.alias("y")),
                   F.col("y.blk") < F.col("x.blk"), "left")
             .groupBy(F.col("x.blk").alias("blk"))
             .agg(F.coalesce(F.sum("y.ta"), F.lit(0)).alias("off_a"),
                  F.coalesce(F.sum("y.tb"), F.lit(0)).alias("off_b")))

    tot = d.agg(F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b"))
    cca = F.col("ca_in") + F.col("off_a")
    ccb = F.col("cb_in") + F.col("off_b")
    return (in_blk.join(F.broadcast(below), "blk")
            .crossJoin(F.broadcast(tot))
            .groupBy("n_a", "n_b")
            .agg(F.round(F.max(F.abs(cca * 1.0 / F.col("n_a")
                                     - ccb * 1.0 / F.col("n_b"))), 6)
                 .alias("ks_stat"))
            .select("n_a", "n_b", "ks_stat"))


#: label threshold for the dependence test: a "large order".
MI_PRICE_CUT = 200000.0


@register(
    "mutual_information_features",
    survey="ext-drift,A6,J1,A3",
    oracle=f"""
    WITH joined AS (
        SELECT c.c_mktsegment AS segment,
               CASE WHEN o.o_totalprice > {MI_PRICE_CUT}
                    THEN 1 ELSE 0 END AS label
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), cells AS (
        SELECT segment, label, CAST(COUNT(*) AS BIGINT) AS n_xy
        FROM joined GROUP BY segment, label
    ), mx AS (
        SELECT segment, CAST(SUM(n_xy) AS BIGINT) AS n_x
        FROM cells GROUP BY segment
    ), my AS (
        SELECT label, CAST(SUM(n_xy) AS BIGINT) AS n_y
        FROM cells GROUP BY label
    ), tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM cells)
    SELECT c.segment, c.label, c.n_xy,
           ROUND((c.n_xy * 1.0 / n)
                 * LN((c.n_xy * 1.0 * n) / (1.0 * mx.n_x * my.n_y)), 9)
               AS mi_term
    FROM cells c
    JOIN mx USING (segment) JOIN my USING (label)
    CROSS JOIN tot
    """,
)
def mutual_information_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between customer market segment and the
    "large order" outcome (o_totalprice > 200000) — the model-free
    dependence screen for categorical feature selection; I(X;Y) =
    SUM(mi_term) over the output rows, 0 iff independent.

    One broadcast dim join builds the (segment, label) pairs; ONE
    map-combinable aggregate produces the contingency cells; marginals
    are re-aggregated from the CELLS (segments × 2 rows), never from a
    second data scan; the MI terms are arithmetic over integers-until-
    division, identical on both engines, rounded 9dp (terms are tiny).
    Scale: cost == one scan + one |X|×|Y|-cell shuffle, independent of
    row count; chi2_independence (stats.py) tests the same table's
    significance, this ranks its effect size in nats."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    joined = (t["orders"]
              .join(F.broadcast(t["customer"]),
                    F.col("o_custkey") == F.col("c_custkey"))
              .select(F.col("c_mktsegment").alias("segment"),
                      F.when(F.col("o_totalprice") > MI_PRICE_CUT, 1)
                      .otherwise(0).alias("label")))
    # |segments|x2 rows reused four times — materialize the scan once
    cells = (joined.groupBy("segment", "label")
             .agg(F.count("*").alias("n_xy"))
             .localCheckpoint(eager=False))
    mx = cells.groupBy("segment").agg(F.sum("n_xy").alias("n_x"))
    my = cells.groupBy("label").agg(F.sum("n_xy").alias("n_y"))
    tot = cells.agg(F.sum("n_xy").alias("n"))
    return (cells
            .join(F.broadcast(mx), "segment")
            .join(F.broadcast(my), "label")
            .crossJoin(F.broadcast(tot))
            .select("segment", "label", "n_xy",
                    F.round((F.col("n_xy") * 1.0 / F.col("n"))
                            * F.log((F.col("n_xy") * 1.0 * F.col("n"))
                                    / (1.0 * F.col("n_x") * F.col("n_y"))),
                            9).alias("mi_term")))


@register(
    "welch_ttest_ab",
    survey="ext-drift,A4,A6,F9",
    oracle=f"""
    WITH s AS (
        SELECT event_type AS grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               {dsum_sql("value")} AS sx,
               {dsum_sql("ROUND(value * value, 6)")} AS sxx
        FROM events
        WHERE event_type IN ('{KS_A}', '{KS_B}') AND value IS NOT NULL
        GROUP BY 1
    ), w AS (
        SELECT MAX(CASE WHEN grp = '{KS_A}' THEN n END) AS n_a,
               MAX(CASE WHEN grp = '{KS_B}' THEN n END) AS n_b,
               MAX(CASE WHEN grp = '{KS_A}' THEN sx / n END) AS mean_a,
               MAX(CASE WHEN grp = '{KS_B}' THEN sx / n END) AS mean_b,
               MAX(CASE WHEN grp = '{KS_A}'
                        THEN (sxx - sx * sx / n) / (n - 1) END) AS var_a,
               MAX(CASE WHEN grp = '{KS_B}'
                        THEN (sxx - sx * sx / n) / (n - 1) END) AS var_b
        FROM s
    )
    SELECT n_a, n_b,
           ROUND(mean_a, 6) AS mean_a, ROUND(mean_b, 6) AS mean_b,
           ROUND((mean_a - mean_b)
                 / SQRT(var_a / n_a + var_b / n_b), 6) AS t_stat,
           ROUND(POWER(var_a / n_a + var_b / n_b, 2)
                 / (POWER(var_a / n_a, 2) / (n_a - 1)
                    + POWER(var_b / n_b, 2) / (n_b - 1)), 6) AS welch_df
    FROM w
    """,
)
def welch_ttest_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between the `value`
    distributions of the same two event types `ks_two_sample` compares
    — the mean-shift A/B read to KS's shape read. ONE map-combinable
    aggregate carries (n, Σx, Σx²) per group; the 2dp money grid makes
    Σx and Σ(round(x²,6)) DECIMAL-exact and therefore partitioning-
    independent, so mean/variance/t/df are identical IEEE doubles on
    both engines before the 6dp round. Welch–Satterthwaite df comes
    from the same four scalars. Scale: sufficient statistics only —
    one scan, a 2-row shuffle, O(1) driver math; this is the pattern
    every moment-based test reduces to at 100 TB."""
    t = load_tables(spark, sf_dir, ("events",))
    s = (t["events"]
         .filter(F.col("event_type").isin(KS_A, KS_B)
                 & F.col("value").isNotNull())
         .groupBy(F.col("event_type").alias("grp"))
         .agg(F.count("*").alias("n"),
              dsum("value").alias("sx"),
              dsum(F.round(F.col("value") * F.col("value"), 6))
              .alias("sxx")))
    pick = lambda g, e: F.max(F.when(F.col("grp") == g, e))  # noqa: E731
    mean = F.col("sx") / F.col("n")
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) \
        / (F.col("n") - 1)
    w = s.agg(pick(KS_A, F.col("n")).alias("n_a"),
              pick(KS_B, F.col("n")).alias("n_b"),
              pick(KS_A, mean).alias("mean_a"),
              pick(KS_B, mean).alias("mean_b"),
              pick(KS_A, var).alias("var_a"),
              pick(KS_B, var).alias("var_b"))
    se2 = F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    df = (F.pow(se2, 2)
          / (F.pow(F.col("var_a") / F.col("n_a"), 2) / (F.col("n_a") - 1)
             + F.pow(F.col("var_b") / F.col("n_b"), 2) / (F.col("n_b") - 1)))
    return w.select(
        "n_a", "n_b",
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round((F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2), 6)
        .alias("t_stat"),
        F.round(df, 6).alias("welch_df"))


#: candidate features screened against the "large order" label.
FR_FEATURES = ("segment", "priority", "nation_key", "order_month")

_FR_FEAT_SQL = {
    "segment": "c.c_mktsegment",
    "priority": "o.o_orderpriority",
    "nation_key": "CAST(c.c_nationkey AS VARCHAR)",
    "order_month": "CAST(EXTRACT(month FROM o.o_orderdate) AS VARCHAR)",
}


def _fr_mi_sql(feat: str) -> str:
    x = _FR_FEAT_SQL[feat]
    return f"""
        SELECT '{feat}' AS feature,
               CAST(COUNT(DISTINCT x) AS BIGINT) AS n_levels,
               ROUND({dsum_sql("term", "decimal(28,9)")}, 6) AS mi_nats
        FROM (
            WITH j AS (
                SELECT {x} AS x,
                       CASE WHEN o.o_totalprice > {200000.0}
                            THEN 1 ELSE 0 END AS y
                FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            ), cells AS (
                SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n_xy
                FROM j GROUP BY 1, 2
            ), mx AS (SELECT x, SUM(n_xy) AS n_x FROM cells GROUP BY 1),
               my AS (SELECT y, SUM(n_xy) AS n_y FROM cells GROUP BY 1),
               tt AS (SELECT SUM(n_xy) AS n FROM cells)
            SELECT cells.x,
                   ROUND((n_xy * 1.0 / n)
                         * LN((n_xy * 1.0 * n) / (1.0 * n_x * n_y)), 9)
                       AS term
            FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tt
        )
    """


@register(
    "feature_relevance_ranking",
    survey="ext-drift,A6,A14,J1",
    oracle=f"""
    WITH mis AS (
        {" UNION ALL ".join(_fr_mi_sql(f) for f in FR_FEATURES)}
    )
    SELECT p.feature, p.n_levels, p.mi_nats,
           CAST(1 + (SELECT COUNT(*) FROM mis q
                     WHERE q.mi_nats > p.mi_nats
                        OR (q.mi_nats = p.mi_nats
                            AND q.feature < p.feature))
                AS BIGINT) AS mi_rank
    FROM mis p
    """,
)
def feature_relevance_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free feature screen: mutual information (nats) between
    each candidate categorical feature and the large-order label, in
    one ranked table — the filter-method feature selection a training
    pipeline runs before committing to an encoder. Extends
    `mutual_information_features` from one feature to a panel; each
    feature's MI uses the same cells/marginals algebra with terms
    rounded 9dp and summed in exact DECIMAL (chi2_independence's
    visit-order-independence discipline), and the rank comes from a
    features²-sized triangular count, not a global window. Plan: the
    orders⋈customer join is computed once per feature over the same
    broadcast dim (Catalyst reuses the scan); every downstream frame
    is level-count-bounded.

    Empty-input note (ADVICE r12): the r12 single-explode rewrite
    emits ZERO rows on an empty orders join (the old per-feature
    global .agg() emitted one n_levels=0/NULL-mi row per feature).
    Reachable only with an empty fixture — every real SF has orders —
    and the driver oracle mirrors the current shape; documented as
    the intended behavior rather than padded with a literal frame."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    joined = (t["orders"]
              .join(F.broadcast(t["customer"]),
                    F.col("o_custkey") == F.col("c_custkey"))
              .select(F.col("c_mktsegment").alias("segment"),
                      F.col("o_orderpriority").alias("priority"),
                      F.col("c_nationkey").cast("string")
                      .alias("nation_key"),
                      F.month("o_orderdate").cast("string")
                      .alias("order_month"),
                      F.when(F.col("o_totalprice") > MI_PRICE_CUT, 1)
                      .otherwise(0).alias("y"))
              .localCheckpoint(eager=False))  # one join feeds 4 screens

    # r12: ONE exploded (feature, x, y) aggregate replaces the four
    # per-feature cells passes — 4 data-sized shuffles → 1 (map-side
    # partial aggregation collapses the ×4 explode fan-out to
    # cells-count rows before the exchange, guide §2.3), and the
    # marginals/totals become ONE tiny frame each for all four screens
    # instead of four broadcast builds apiece (46 scheduled jobs → ~12;
    # the per-cell counts, the 9dp term expression and the DECIMAL sum
    # are character-identical, so mi_nats is bit-unchanged).
    cells = (joined.select(
        F.explode(F.array(*[
            F.struct(F.lit(f).alias("feature"), F.col(f).alias("x"))
            for f in FR_FEATURES])).alias("fx"), "y")
        .groupBy(F.col("fx.feature").alias("feature"),
                 F.col("fx.x").alias("x"), "y")
        .agg(F.count("*").alias("n_xy"))
        .localCheckpoint(eager=False))  # levels-bounded; 4 consumers
    mx = cells.groupBy("feature", "x").agg(F.sum("n_xy").alias("n_x"))
    my = cells.groupBy("feature", "y").agg(F.sum("n_xy").alias("n_y"))
    tt = cells.groupBy("feature").agg(F.sum("n_xy").alias("n"))
    term = F.round(
        (F.col("n_xy") * 1.0 / F.col("n"))
        * F.log((F.col("n_xy") * 1.0 * F.col("n"))
                / (1.0 * F.col("n_x") * F.col("n_y"))), 9)
    mis = (cells.join(F.broadcast(mx), ["feature", "x"])
           .join(F.broadcast(my), ["feature", "y"])
           .join(F.broadcast(tt), "feature")
           .groupBy("feature")
           .agg(F.countDistinct("x").alias("n_levels"),
                F.round(dsum(term, "decimal(28,9)"), 6).alias("mi_nats"))
           .localCheckpoint(eager=False))  # 4 rows; both triangular sides
    p, q = mis.alias("p"), mis.alias("q")
    ahead = ((F.col("q.mi_nats") > F.col("p.mi_nats"))
             | ((F.col("q.mi_nats") == F.col("p.mi_nats"))
                & (F.col("q.feature") < F.col("p.feature"))))
    return (p.join(F.broadcast(q), ahead, "left")
            .groupBy(F.col("p.feature").alias("feature"),
                     F.col("p.n_levels").alias("n_levels"),
                     F.col("p.mi_nats").alias("mi_nats"))
            .agg((F.count(F.col("q.feature")) + 1).alias("mi_rank")))


# ---------------------------------------------------------------------------
# CUPED variance reduction (experimentation)
# ---------------------------------------------------------------------------

#: pre/post experiment split over the 30-day events window.
CUPED_SPLIT = "2024-01-16"


@register(
    "cuped_adjusted_metric",
    survey="ext-experiment,A9,J1,F9",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               CAST({fround_sql(
                 dsum_sql(f"CASE WHEN ts < TIMESTAMP '{CUPED_SPLIT}'"
                          " THEN value END")
                 + f" / COUNT(CASE WHEN ts < TIMESTAMP '{CUPED_SPLIT}'"
                 " THEN 1 END)")} AS DECIMAL(14,6)) AS x,
               -- not the kernel: x and y feed SUM(x * y) as decimals too
               CAST({fround_sql(
                 dsum_sql(f"CASE WHEN ts >= TIMESTAMP '{CUPED_SPLIT}'"
                          " THEN value END")
                 + f" / COUNT(CASE WHEN ts >= TIMESTAMP '{CUPED_SPLIT}'"
                 " THEN 1 END)")} AS DECIMAL(14,6)) AS y
        FROM events GROUP BY user_id
        HAVING COUNT(CASE WHEN ts < TIMESTAMP '{CUPED_SPLIT}' THEN 1 END) > 0
           AND COUNT(CASE WHEN ts >= TIMESTAMP '{CUPED_SPLIT}' THEN 1 END) > 0
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(x * y) AS DOUBLE) AS sxy
        FROM per_user
    )
    SELECT user_id,
           CAST(x AS DOUBLE) AS pre_mean,
           CAST(y AS DOUBLE) AS post_mean,
           {fround_sql("(CAST(y AS DOUBLE)"
                       " - ((n * sxy - sx * sy) / (n * sxx - sx * sx))"
                       " * (CAST(x AS DOUBLE) - sx / n))")}
               AS post_adj,
           {fround_sql("((n * sxy - sx * sy) / (n * sxx - sx * sx))")} AS theta
    FROM per_user CROSS JOIN stats
    """,
)
def cuped_adjusted_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013): adjust each
    user's post-period metric with their own pre-period covariate,
    y_adj = y − θ·(x − x̄), θ = Cov(x,y)/Var(x) — the industry-standard
    trick that cuts A/B-test variance by however much the pre-period
    predicts the post-period, tightening confidence intervals without
    touching the treatment. Here x = the user's mean event value in
    the first half of the window, y = in the second half; only users
    observed in BOTH periods are adjustable (CUPED's own requirement).

    Exactness: per-user sums ride DECIMAL (2-decimal values — exact);
    each mean is one double division fround-rounded onto the 1e-6 grid
    and re-entered into DECIMAL(14,6), so the cross-user moment sums
    (Σx, Σy, Σx², Σxy) are exact decimal arithmetic — θ is then a
    single deterministic double expression both engines evaluate
    identically. Plan: one user-keyed aggregate (map-combinable), a
    1-row moment frame broadcast back — two passes over nothing but
    the per-user frame. At 100 TB the fact is touched once."""
    t = load_tables(spark, sf_dir, ("events",))
    pre = F.col("ts") < CUPED_SPLIT
    post = F.col("ts") >= CUPED_SPLIT
    # not the kernel: x and y feed SUM(x * y) as decimals too
    per_user = (t["events"]
                .groupBy("user_id")
                .agg(decimal_sum(F.when(pre, F.col("value")))
                     .alias("pre_sum"),
                     F.count(F.when(pre, 1)).alias("pre_cnt"),
                     decimal_sum(F.when(post, F.col("value")))
                     .alias("post_sum"),
                     F.count(F.when(post, 1)).alias("post_cnt"))
                .filter((F.col("pre_cnt") > 0) & (F.col("post_cnt") > 0))
                .select(
                    "user_id",
                    fround(F.col("pre_sum").cast("double")
                           / F.col("pre_cnt"))
                    .cast("decimal(14,6)").alias("x"),
                    fround(F.col("post_sum").cast("double")
                           / F.col("post_cnt"))
                    .cast("decimal(14,6)").alias("y")))
    stats = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    theta = (n * F.col("sxy") - sx * sy) / (n * F.col("sxx") - sx * sx)
    xd, yd = F.col("x").cast("double"), F.col("y").cast("double")
    return (per_user.crossJoin(F.broadcast(stats))
            .select("user_id",
                    xd.alias("pre_mean"),
                    yd.alias("post_mean"),
                    fround(yd - theta * (xd - sx / n)).alias("post_adj"),
                    fround(theta).alias("theta")))


# ---------------------------------------------------------------------------
# difference-in-differences estimator
# ---------------------------------------------------------------------------

#: deterministic treatment assignment — odd user_ids are "treated".
DID_TREAT_MOD = 2


@register(
    "did_revenue_uplift",
    survey="ext-experiment,A3,A9,F9",
    oracle=f"""
    WITH cells AS (
        SELECT (user_id % {DID_TREAT_MOD} = 1)              AS treated,
               (ts >= TIMESTAMP '{CUPED_SPLIT}')            AS post,
               CAST(COUNT(*) AS BIGINT)                     AS n,
               {dsum_sql("value")} / COUNT(*) AS m
        FROM events GROUP BY 1, 2
    )
    SELECT
        MAX(CASE WHEN treated AND NOT post THEN n END)      AS n_treat_pre,
        MAX(CASE WHEN treated AND post THEN n END)          AS n_treat_post,
        MAX(CASE WHEN NOT treated AND NOT post THEN n END)  AS n_ctrl_pre,
        MAX(CASE WHEN NOT treated AND post THEN n END)      AS n_ctrl_post,
        {fround_sql("MAX(CASE WHEN treated AND NOT post THEN m END)")}
                                                            AS m_treat_pre,
        {fround_sql("MAX(CASE WHEN treated AND post THEN m END)")}
                                                            AS m_treat_post,
        {fround_sql("MAX(CASE WHEN NOT treated AND NOT post THEN m END)")}
                                                            AS m_ctrl_pre,
        {fround_sql("MAX(CASE WHEN NOT treated AND post THEN m END)")}
                                                            AS m_ctrl_post,
        {fround_sql("(MAX(CASE WHEN treated AND post THEN m END)"
                    " - MAX(CASE WHEN treated AND NOT post THEN m END))"
                    " - (MAX(CASE WHEN NOT treated AND post THEN m END)"
                    " - MAX(CASE WHEN NOT treated AND NOT post THEN m END))")}
                                                            AS did
    FROM cells
    """,
)
def did_revenue_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences uplift estimate over the events
    stream: treated = odd user ids (a deterministic stand-in for the
    rollout flag), post = the second half of the window — DiD =
    (treated post − treated pre) − (control post − control pre), the
    workhorse causal estimator when randomization isn't available and
    both groups share a parallel trend. Companion to
    `cuped_adjusted_metric` (same split; CUPED tightens a randomized
    test, DiD de-biases an observational one).

    Exactness: the four cell means are exact decimal sums over the
    2-decimal value column divided once; the estimator is pure scalar
    double algebra fround-rounded at the end. Plan: ONE map-combinable
    aggregate to 4 cells, then a 1-row pivot — the fact is scanned
    once; at 100 TB nothing else moves."""
    t = load_tables(spark, sf_dir, ("events",))
    cells = (t["events"]
             .groupBy((F.col("user_id") % DID_TREAT_MOD == 1)
                      .alias("treated"),
                      (F.col("ts") >= CUPED_SPLIT).alias("post"))
             .agg(F.count("*").alias("n"),
                  (dsum("value") / F.count("*")).alias("m")))

    def cell(col: str, tr: bool, po: bool):
        return F.max(F.when((F.col("treated") == tr)
                            & (F.col("post") == po), F.col(col)))

    m_tp, m_tq = cell("m", True, False), cell("m", True, True)
    m_cp, m_cq = cell("m", False, False), cell("m", False, True)
    return cells.agg(
        cell("n", True, False).alias("n_treat_pre"),
        cell("n", True, True).alias("n_treat_post"),
        cell("n", False, False).alias("n_ctrl_pre"),
        cell("n", False, True).alias("n_ctrl_post"),
        fround(m_tp).alias("m_treat_pre"),
        fround(m_tq).alias("m_treat_post"),
        fround(m_cp).alias("m_ctrl_pre"),
        fround(m_cq).alias("m_ctrl_post"),
        fround((m_tq - m_tp) - (m_cq - m_cp)).alias("did"))


# ---------------------------------------------------------------------------
# off-policy evaluation (IPS / SNIPS replay)
# ---------------------------------------------------------------------------

#: target policy over the event-type action space (others get 0).
OPE_TARGET = {"purchase": 0.7, "click": 0.3}

_OPE_PI_SQL = ("CASE event_type "
               + " ".join(f"WHEN '{a}' THEN {p}"
                          for a, p in sorted(OPE_TARGET.items()))
               + " ELSE 0.0 END")
#: the exact sums of the 9dp IPS terms, as oracle SQL
_OPE_SUMS = {c: dsum_sql(c, "decimal(25,9)") for c in ("wv9", "w9", "ww9")}


@register(
    "ips_offpolicy_eval",
    survey="ext-ope,A9,J1,F9",
    oracle=f"""
    WITH prop AS (
        SELECT event_type AS act, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
    ), n AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM prop
    ), weighted AS (
        SELECT ({_OPE_PI_SQL}) * n.n_total / prop.cnt AS w,
               e.value AS v
        FROM events e
        JOIN prop ON e.event_type = prop.act
        CROSS JOIN n
    ), terms AS (
        SELECT ROUND(w * v, 9) AS wv9, ROUND(w, 9) AS w9,
               ROUND(w * w, 9) AS ww9
        FROM weighted
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_logged,
           {fround_sql(_OPE_SUMS["wv9"] + " / COUNT(*)")} AS ips_value,
           {fround_sql(_OPE_SUMS["wv9"] + " / " + _OPE_SUMS["w9"])}
               AS snips_value,
           {fround_sql(_OPE_SUMS["w9"] + " * " + _OPE_SUMS["w9"]
                       + " / " + _OPE_SUMS["ww9"])}
               AS effective_sample_size
    FROM terms
    """,
)
def ips_offpolicy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation by importance-weighted replay (Horvitz-
    Thompson IPS and its self-normalized SNIPS variant, Swaminathan &
    Joachims 2015): estimate the value a TARGET policy (70% purchase /
    30% click) would earn from logs collected under the BEHAVIOR
    policy, without deploying it — the counterfactual primitive behind
    recommender/bandit iteration on logged data. Behavior propensities
    are the empirical action frequencies (the logs' own MLE); weights
    w = π(a)/p̂(a); IPS = mean(w·v), SNIPS = Σwv/Σw (bias for
    variance), plus Kish's effective sample size (Σw)²/Σw² — the
    health metric that says whether the estimate rests on 10 rows or
    10 thousand.

    Exactness: p̂ ratios are exact-integer divisions; each weight and
    product is scalar double algebra rounded onto the 1e-9 grid and
    summed in DECIMAL (order-free); the three output ratios are
    single double ops fround-rounded. Plan: one count aggregate
    (|action| rows, broadcast back), one weighted pass, one 1-row
    summary — two fact scans, zero row shuffles. At 100 TB the
    propensity frame is still |actions| rows."""
    t = load_tables(spark, sf_dir, ("events",))
    prop = (t["events"].groupBy(F.col("event_type").alias("a"))
            .agg(F.count("*").alias("cnt")))
    n_total = prop.agg(F.sum("cnt").alias("n_total"))
    pi = None
    for a, p in sorted(OPE_TARGET.items()):
        pi = (F.when(F.col("event_type") == a, F.lit(p)) if pi is None
              else pi.when(F.col("event_type") == a, F.lit(p)))
    pi = pi.otherwise(F.lit(0.0))
    w = pi * F.col("n_total") / F.col("cnt")
    terms = (t["events"]
             .join(F.broadcast(prop), F.col("event_type") == F.col("a"))
             .crossJoin(F.broadcast(n_total))
             .select(F.round(w * F.col("value"), 9).alias("wv9"),
                     F.round(w, 9).alias("w9"),
                     F.round(w * w, 9).alias("ww9")))
    swv, sw, sww = (dsum(c, "decimal(25,9)") for c in ("wv9", "w9", "ww9"))
    cnt = F.count("*")
    return terms.agg(
        cnt.alias("n_logged"),
        fround(swv / cnt).alias("ips_value"),
        fround(swv / sw).alias("snips_value"),
        fround(sw * sw / sww).alias("effective_sample_size"))


# ---------------------------------------------------------------------------
# Sequential A/B testing — SPRT over the daily event stream
# ---------------------------------------------------------------------------

#: SPRT spec: H0 conversion p0 vs H1 p1 at alpha = beta = 0.05. The
#: log-likelihood constants are FIXED INTEGER GRID LITERALS computed
#: once from the spec (1e-6 grid for the per-event terms, 1e-9 for
#: the decision bound), injected identically into BOTH engines — the
#: decision rule is therefore float-free: nano-unit integer
#: cumulative sums against an integer bound.
SPRT_P0, SPRT_P1 = "2e-1", "25e-2"
SPRT_C1_E6 = 223144        # floor(ln(p1/p0)*1e6 + 0.5)
SPRT_C2_E6 = -64539        # floor(ln((1-p1)/(1-p0))*1e6 + 0.5)
SPRT_BOUND_E9 = 2944438979  # floor(ln((1-beta)/alpha)*1e9 + 0.5)
SPRT_CONV_TYPE = "purchase"


@register(
    "sprt_ab_sequential",
    survey="ext-ab,A6,W2,F8",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                        1, 8) AS BIGINT) % 2 AS BIGINT)
                   AS variant,
               CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = '{SPRT_CONV_TYPE}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), walk AS (
        SELECT variant, d, n, x,
               ROW_NUMBER() OVER (PARTITION BY variant ORDER BY d)
                   AS day_idx,
               SUM(CAST(FLOOR((x * {SPRT_C1_E6}e-6
                               + (n - x) * {SPRT_C2_E6}e-6) * 1e9
                              + 5e-1) AS BIGINT))
                   OVER (PARTITION BY variant ORDER BY d
                         ROWS UNBOUNDED PRECEDING) AS cum9
        FROM daily
    ), dec AS (
        SELECT variant,
               CAST(MAX(day_idx) AS BIGINT) AS n_days,
               CAST(MIN(CASE WHEN cum9 >= {SPRT_BOUND_E9}
                             THEN day_idx END) AS BIGINT) AS d1,
               CAST(MIN(CASE WHEN cum9 <= -{SPRT_BOUND_E9}
                             THEN day_idx END) AS BIGINT) AS d0,
               CAST(MAX(CASE WHEN day_idx = (SELECT MAX(day_idx)
                                             FROM walk w2
                                             WHERE w2.variant = walk.variant)
                             THEN cum9 END) AS BIGINT) AS final9
        FROM walk GROUP BY variant
    )
    SELECT variant, n_days,
           final9 / 1e9 AS final_llr,
           CASE WHEN d1 IS NOT NULL AND (d0 IS NULL OR d1 <= d0)
                THEN 'accept_h1'
                WHEN d0 IS NOT NULL THEN 'accept_h0'
                ELSE 'continue' END AS decision,
           CAST(COALESCE(LEAST(COALESCE(d1, d0), COALESCE(d0, d1)), 0)
                AS BIGINT) AS decision_day
    FROM dec
    """,
)
def sprt_ab_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL A/B test (Wald's SPRT) — the experimentation-
    platform primitive the fixed-horizon pack (cuped / did / ips)
    lacks: per hash-assigned variant, the daily log-likelihood-ratio
    walk for conversion H0 p={SPRT_P0} vs H1 p={SPRT_P1}, the first
    day the walk crosses ±ln((1-β)/α), and the verdict — the math
    that lets an experiment STOP EARLY with guaranteed error rates
    instead of waiting out the horizon (and the peeking-correction
    answer to the classic p-hacking failure).

    Replay discipline: the LLR constants are fixed integer-grid
    literals baked into the op spec (no engine evaluates a
    transcendental), each day's increment is nano-floored to an
    integer, the cumulative walk is an exact BIGINT window sum
    (partitioned per variant, ordered by day — never global), and the
    crossing rule compares integers to an integer bound. Plan: one
    events scan -> (variant, day) aggregate -> variant-partitioned
    window over ~days rows -> 2-row verdict. At 100 TB the walk frame
    is days x variants, microscopic by construction."""
    t = load_tables(spark, sf_dir, ("events",))
    variant = md5_int(F.col("user_id").cast("string"), 8) % 2
    daily = (t["events"]
             .groupBy(variant.alias("variant"),
                      F.col("ts").cast("date").alias("d"))
             .agg(F.count("*").alias("n"),
                  F.sum((F.col("event_type") == SPRT_CONV_TYPE)
                        .cast("long")).alias("x")))
    from pyspark.sql import Window as W
    wv = W.partitionBy("variant").orderBy("d")
    inc9 = F.floor((F.col("x") * float(f"{SPRT_C1_E6}e-6")
                    + (F.col("n") - F.col("x"))
                    * float(f"{SPRT_C2_E6}e-6")) * 1e9 + 0.5)         .cast("long")
    walk = (daily
            .withColumn("day_idx", F.row_number().over(wv))
            .withColumn("inc9", inc9)
            .withColumn("cum9", F.sum("inc9").over(
                wv.rowsBetween(W.unboundedPreceding, 0))))
    last = walk.groupBy("variant").agg(F.max("day_idx").alias("mx"))
    dec = (walk.join(last, "variant")
           .groupBy("variant")
           .agg(F.max("day_idx").cast("long").alias("n_days"),
                F.min(F.when(F.col("cum9") >= SPRT_BOUND_E9,
                             F.col("day_idx"))).cast("long").alias("d1"),
                F.min(F.when(F.col("cum9") <= -SPRT_BOUND_E9,
                             F.col("day_idx"))).cast("long").alias("d0"),
                F.max(F.when(F.col("day_idx") == F.col("mx"),
                             F.col("cum9"))).cast("long").alias("final9")))
    return (dec.select(
        "variant", "n_days",
        (F.col("final9") / F.lit(1e9)).alias("final_llr"),
        F.when(F.col("d1").isNotNull()
               & (F.col("d0").isNull() | (F.col("d1") <= F.col("d0"))),
               "accept_h1")
        .when(F.col("d0").isNotNull(), "accept_h0")
        .otherwise("continue").alias("decision"),
        F.coalesce(F.least(F.coalesce("d1", "d0"),
                           F.coalesce("d0", "d1")), F.lit(0))
        .cast("long").alias("decision_day")))


# ---------------------------------------------------------------------------
# Holm step-down multiple-testing correction over a fleet of A/B reads
# ---------------------------------------------------------------------------

#: family-wise error rate and the DESIGN test count (the 25 nations;
#: thresholds are baked at this m, so the procedure is exactly Holm
#: when all 25 strata test and conservative if any stratum drops out).
HOLM_ALPHA = 0.05
HOLM_M = 25


def _norm_ppf(p: float) -> float:
    """Acklam's rational approximation to the standard normal inverse
    CDF (|rel err| < 1.15e-9) — pure-Python deterministic floats, used
    ONLY to bake critical-value literals shared by both engines."""
    a = (-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00)
    b = (-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01)
    c = (-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00)
    d = (7.784695709041462e-03, 3.224671290700398e-01,
         2.445134137142996e+00, 3.754408661907416e+00)
    plow, phigh = 0.02425, 1 - 0.02425
    import math
    if p < plow:
        q = math.sqrt(-2 * math.log(p))
        return ((((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q
                  + c[4]) * q + c[5])
                / ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1))
    if p > phigh:
        return -_norm_ppf(1 - p)
    q = p - 0.5
    r = q * q
    return ((((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r
              + a[4]) * r + a[5]) * q
            / (((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r
                + b[4]) * r + 1))


#: per-rank Holm critical |z| values: rank k tests at alpha/(m-k+1).
HOLM_ZCRIT = tuple(
    round(_norm_ppf(1 - HOLM_ALPHA / (2 * (HOLM_M - k + 1))), 6)
    for k in range(1, HOLM_M + 1))
_BONF_Z = HOLM_ZCRIT[0]                 # alpha/m — Bonferroni
_RAW_Z = round(_norm_ppf(1 - HOLM_ALPHA / 2), 6)   # unadjusted


def _nation_welch_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared per-nation Welch-z test frame (nation mean order
    value vs everyone else), checkpointed — one fact aggregate behind
    broadcast dim joins, then scalar algebra; consumed by both
    multiple-testing procedures below."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    s = (t["orders"]
         .join(F.broadcast(t["customer"]
                           .select("c_custkey", "c_nationkey")),
               F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(t["nation"]
                           .select("n_nationkey", "n_name")),
               F.col("c_nationkey") == F.col("n_nationkey"))
         .groupBy("n_name")
         .agg(F.count("*").alias("n"),
              dsum("o_totalprice").alias("sx"),
              dsum(F.round(F.col("o_totalprice") * F.col("o_totalprice"), 6))
              .alias("sxx")))
    g = s.agg(F.sum("n").alias("n_g"), F.sum("sx").alias("sx_g"),
              F.sum("sxx").alias("sxx_g"))
    mean_a = F.col("sx") / F.col("n")
    mean_r = (F.col("sx_g") - F.col("sx")) / (F.col("n_g") - F.col("n"))
    var_a = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) \
        / (F.col("n") - 1)
    var_r = ((F.col("sxx_g") - F.col("sxx"))
             - (F.col("sx_g") - F.col("sx"))
             * (F.col("sx_g") - F.col("sx"))
             / (F.col("n_g") - F.col("n"))) \
        / (F.col("n_g") - F.col("n") - 1)
    zexpr = fround((mean_a - mean_r)
                   / F.sqrt(var_a / F.col("n")
                            + var_r / (F.col("n_g") - F.col("n"))))
    return (s.crossJoin(F.broadcast(g))
            .filter(F.col("n") >= 2)
            .select("n_name", "n", zexpr.alias("z"))
            .localCheckpoint(eager=False))  # test-frame-sized, reused


#: shared CTE text: the 25-nation Welch-z test frame (s -> g -> z ->
#: ranked) used by BOTH multiple-testing procedures below.
_NATION_Z_CTES = f"""
    s AS (
        SELECT n.n_name,
               CAST(COUNT(*) AS BIGINT) AS n,
               {dsum_sql("o_totalprice")} AS sx,
               {dsum_sql("ROUND(o_totalprice * o_totalprice, 6)")} AS sxx
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n ON c_nationkey = n.n_nationkey
        GROUP BY 1
    ), g AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_g,
               SUM(sx) AS sx_g, SUM(sxx) AS sxx_g
        FROM s
    ), z AS (
        SELECT s.n_name, s.n,
               {fround_sql("((s.sx / s.n) - ((g.sx_g - s.sx) / (g.n_g - s.n)))"
                           " / SQRT(((s.sxx - s.sx * s.sx / s.n) / (s.n - 1))"
                           " / s.n"
                           " + (((g.sxx_g - s.sxx)"
                           " - (g.sx_g - s.sx) * (g.sx_g - s.sx)"
                           " / (g.n_g - s.n)) / (g.n_g - s.n - 1))"
                           " / (g.n_g - s.n))")} AS z
        FROM s CROSS JOIN g
        WHERE s.n >= 2
    ), ranked AS (
        SELECT a.n_name, a.n, a.z,
               CAST(1 + COUNT(CASE WHEN ABS(b.z) > ABS(a.z)
                              OR (ABS(b.z) = ABS(a.z)
                                  AND b.n_name < a.n_name)
                              THEN 1 END) AS BIGINT) AS rk
        FROM z a LEFT JOIN z b ON b.n_name <> a.n_name
        GROUP BY a.n_name, a.n, a.z
    )"""


# Driver resolution of the two multiple-testing procedures (r12): the
# shared z frame is ≤ HOLM_M rows BY DOMAIN (one row per nation), so
# the post-z algebra — triangular rank join, critical-value join, step
# decision — runs on the driver instead of ~10 one-task broadcast/
# aggregate jobs apiece (SCALE.md §13 tax). It introduces NO new float
# ops: z doubles pass through, ranks are |z| comparisons with
# byte-order name tie-breaks (the cc_single_task UTF-8 convention),
# thresholds are the same module literals, verdicts are integer
# comparisons.
def _mt_rank(rows) -> list:
    """Shared rank step: 1 + |{b : |z_b| > |z_a| or (= and name_b <
    name_a byte-order)}| — the triangular-join text replayed on ints/
    doubles/bytes."""
    out = []
    for name, n, z in rows:
        az = abs(z)
        rk = 1 + sum(
            1 for bn, _, bz in rows
            if bn != name and (abs(bz) > az
                               or (abs(bz) == az
                                   and bn.encode("utf-8")
                                   < name.encode("utf-8"))))
        out.append((name, n, z, rk))
    return out


def _holm_from_rows(spark: SparkSession, rows) -> DataFrame:
    """Holm step-down resolved on the driver from the collected
    ≤HOLM_M-row z frame (callers gate on the ACTUAL row
    count and on NULL-free z — ADVICE r12 hardening; NULL z or an
    over-cap frame falls through to the distributed path, whose
    NULL-propagation is the pinned shape). Bit-exact: replays the
    rank/threshold/step algebra on the unchanged z doubles (pinned
    driver-vs-distributed in tests/test_driver_paths.py)."""
    tup = [(r["n_name"], int(r["n"]), float(r["z"])) for r in rows]
    ranked = _mt_rank(tup)
    pass_k = {rk: int(abs(zz) >= HOLM_ZCRIT[rk - 1])
              for _, _, zz, rk in ranked}
    recs = [(nm, n, zz, rk,
             int(abs(zz) >= _RAW_Z), int(abs(zz) >= _BONF_Z),
             min(pass_k[r] for r in pass_k if r <= rk))
            for nm, n, zz, rk in ranked]
    return driver.local_frame(
        spark, recs, "n_name string, n long, z double, holm_rank long, "
                     "reject_unadjusted int, reject_bonferroni int, "
                     "reject_holm int")


def _bh_from_rows(spark: SparkSession, rows) -> DataFrame:
    """Benjamini-Hochberg step-up on the driver; same contract as
    _holm_from_rows."""
    tup = [(r["n_name"], int(r["n"]), float(r["z"])) for r in rows]
    ranked = _mt_rank(tup)
    ks = max((rk for _, _, zz, rk in ranked
              if abs(zz) >= BH_ZCRIT[rk - 1]), default=0)
    recs = [(nm, n, zz, rk, BH_ZCRIT[rk - 1], int(rk <= ks))
            for nm, n, zz, rk in ranked]
    return driver.local_frame(
        spark, recs, "n_name string, n long, z double, bh_rank long, "
                     "bh_threshold_z double, reject_bh int")


def _holm_oracle() -> str:
    zrows = ", ".join(f"({k + 1}, {z!r})"
                      for k, z in enumerate(HOLM_ZCRIT))
    return f"""
    WITH s AS (
        SELECT n.n_name,
               CAST(COUNT(*) AS BIGINT) AS n,
               {dsum_sql("o_totalprice")} AS sx,
               {dsum_sql("ROUND(o_totalprice * o_totalprice, 6)")} AS sxx
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n ON c_nationkey = n.n_nationkey
        GROUP BY 1
    ), g AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_g,
               SUM(sx) AS sx_g, SUM(sxx) AS sxx_g
        FROM s
    ), z AS (
        SELECT s.n_name, s.n,
               {fround_sql("((s.sx / s.n) - ((g.sx_g - s.sx) / (g.n_g - s.n)))"
                           " / SQRT(((s.sxx - s.sx * s.sx / s.n) / (s.n - 1))"
                           " / s.n"
                           " + (((g.sxx_g - s.sxx)"
                           " - (g.sx_g - s.sx) * (g.sx_g - s.sx)"
                           " / (g.n_g - s.n)) / (g.n_g - s.n - 1))"
                           " / (g.n_g - s.n))")} AS z
        FROM s CROSS JOIN g
        WHERE s.n >= 2
    ), ranked AS (
        SELECT a.n_name, a.n, a.z,
               CAST(1 + COUNT(CASE WHEN ABS(b.z) > ABS(a.z)
                              OR (ABS(b.z) = ABS(a.z)
                                  AND b.n_name < a.n_name)
                              THEN 1 END) AS BIGINT) AS rk
        FROM z a LEFT JOIN z b ON b.n_name <> a.n_name
        GROUP BY a.n_name, a.n, a.z
    ), crit AS (SELECT * FROM (VALUES {zrows}) AS t(rk, zcrit)),
    dec AS (
        SELECT r.n_name, r.n, r.z, r.rk, c.zcrit,
               CASE WHEN ABS(r.z) >= c.zcrit THEN 1 ELSE 0 END AS pass_k
        FROM ranked r JOIN crit c ON c.rk = r.rk
    )
    SELECT d.n_name, d.n, d.z, d.rk AS holm_rank,
           CASE WHEN ABS(d.z) >= {_RAW_Z!r} THEN 1 ELSE 0 END
               AS reject_unadjusted,
           CASE WHEN ABS(d.z) >= {_BONF_Z!r} THEN 1 ELSE 0 END
               AS reject_bonferroni,
           CAST(MIN(e.pass_k) AS INT) AS reject_holm
    FROM dec d JOIN dec e ON e.rk <= d.rk
    GROUP BY d.n_name, d.n, d.z, d.rk
    """


@register(
    "holm_multiple_tests",
    survey="ext-drift,A6,A10,F9",
    oracle=_holm_oracle(),
)
def holm_multiple_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLM step-down correction over a FLEET of per-nation Welch
    z-tests (nation mean order value vs everyone else) — the
    multiple-comparisons discipline the per-test members of the A/B
    family (welch_ttest_ab, sprt_ab_sequential, cuped, did) need the
    moment a dashboard fans one metric across {HOLM_M} strata and
    'discovers' the reddest cell: unadjusted testing at α={HOLM_ALPHA}
    false-alarms ~1−0.95^{HOLM_M} ≈ 72% of the time. Reported per
    stratum: the z, its rank, and three verdicts — unadjusted,
    Bonferroni (α/m — uniformly conservative), and Holm (step-down:
    rank k tests at α/(m−k+1), stop at the first failure — uniformly
    more powerful than Bonferroni at the same FWER, Holm 1979).

    Replay discipline: per-stratum sufficient statistics are exact
    DECIMAL sums on the 2dp money grid; each z is ONE shared-text
    expression snapped to 1e-6; critical values are Acklam inverse-
    normal LITERALS baked identically into both engines (no erf at
    query time); the rank is a broadcast self-count over the
    {HOLM_M}-row test frame (total order: |z| desc, name), and Holm's
    'all previous ranks must also reject' is a triangular MIN over
    the same tiny frame — no window anywhere. Plan: one fact
    aggregate behind two broadcast dim joins; everything after is
    {HOLM_M}-row algebra."""
    z = _nation_welch_z(spark, sf_dir)
    # driver resolution (r12 kernel -> r13 bounded collect, ADVICE
    # hardening): gate on the ACTUAL row count and NULL-free z — an
    # over-cap universe or a NULL z (zero pooled variance) falls
    # through to the distributed path, whose NULL-propagation is the
    # pinned shape.
    rows = driver.bounded_collect(z, HOLM_M)
    if rows is not None and all(r["z"] is not None for r in rows):
        return _holm_from_rows(spark, rows)
    a, b = z.alias("a"), z.alias("b")
    beats = (F.abs(F.col("b.z")) > F.abs(F.col("a.z"))) | \
        ((F.abs(F.col("b.z")) == F.abs(F.col("a.z")))
         & (F.col("b.n_name") < F.col("a.n_name")))
    ranked = (a.join(F.broadcast(b),
                     F.col("b.n_name") != F.col("a.n_name"), "left")
              .groupBy(F.col("a.n_name").alias("n_name"),
                       F.col("a.n").alias("n"),
                       F.col("a.z").alias("z"))
              .agg((F.count(F.when(beats, 1)) + 1).cast("long")
                   .alias("rk")))
    crit = driver.local_frame(
        spark, [(k + 1, zc) for k, zc in enumerate(HOLM_ZCRIT)],
        "rk long, zcrit double")
    dec_df = (ranked.join(F.broadcast(crit), "rk")
              .select("n_name", "n", "z", "rk",
                      (F.abs(F.col("z")) >= F.col("zcrit"))
                      .cast("int").alias("pass_k"))
              .localCheckpoint(eager=False))  # reused as both sides
    d, e = dec_df.alias("d"), dec_df.alias("e")
    return (d.join(F.broadcast(e), F.col("e.rk") <= F.col("d.rk"))
            .groupBy(F.col("d.n_name").alias("n_name"),
                     F.col("d.n").alias("n"),
                     F.col("d.z").alias("z"),
                     F.col("d.rk").alias("holm_rank"))
            .agg(F.max(F.when(F.abs(F.col("d.z")) >= F.lit(_RAW_Z), 1)
                       .otherwise(0)).cast("int")
                 .alias("reject_unadjusted"),
                 F.max(F.when(F.abs(F.col("d.z")) >= F.lit(_BONF_Z), 1)
                       .otherwise(0)).cast("int")
                 .alias("reject_bonferroni"),
                 F.min(F.col("e.pass_k")).cast("int")
                 .alias("reject_holm")))


# ---------------------------------------------------------------------------
# sample-ratio mismatch (SRM) — the experiment-health gate
# ---------------------------------------------------------------------------

#: assignment seeds swept (each simulates one experiment's hash salt).
SRM_SEEDS = ("exp1", "exp2", "exp3")
#: chi-square(1 df) critical values at 95% / 99%.
_SRM_CHI2_95, _SRM_CHI2_99 = 3.841459, 6.634897


def _srm_oracle() -> str:
    parts = []
    for seed in SRM_SEEDS:
        parts.append(f"""
    SELECT '{seed}' AS seed,
           CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
           CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
    FROM (
        SELECT CAST(CAST('0x' || substr(md5('{seed}:' ||
                    CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2
               AS BIGINT) AS arm
        FROM (SELECT DISTINCT user_id FROM events) u
    ) a""")
    body = " UNION ALL ".join(parts)
    return f"""
    WITH counts AS ({body})
    SELECT seed, n_a, n_b,
           {fround_sql("(n_a - n_b) * (n_a - n_b) * 1e0 / (n_a + n_b)")}
               AS chi2,
           CASE WHEN (n_a - n_b) * (n_a - n_b) * 1e0 / (n_a + n_b)
                     > {_SRM_CHI2_95!r} THEN 1 ELSE 0 END AS srm_95,
           CASE WHEN (n_a - n_b) * (n_a - n_b) * 1e0 / (n_a + n_b)
                     > {_SRM_CHI2_99!r} THEN 1 ELSE 0 END AS srm_99
    FROM counts
    """


@register(
    "srm_check",
    survey="ext-drift,A6,F9",
    oracle=_srm_oracle(),
)
def srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-RATIO MISMATCH check — the first gate every experiment
    readout must pass (Fabijan et al. 2019 report ~6% of real
    experiments fail it): under a 50/50 split, arm counts n_a, n_b
    give the 1-df chi-square (n_a−n_b)²/(n_a+n_b); exceeding
    {_SRM_CHI2_95} (95%) means the ASSIGNMENT is broken — redirects,
    bot filtering, or logging loss hit one arm harder — and every
    downstream metric (welch_ttest_ab, cuped, sprt) is untrustworthy
    no matter how significant it looks. Swept over {len(SRM_SEEDS)}
    hash salts: healthy md5 assignment passes all of them; a failing
    salt localizes the bug to the assignment path, not the traffic.

    Exactness: integer counts, one shared-text chi-square expression
    snapped to 1e-6, literal critical values — the flag compares the
    UNSNAPPED shared expression on both engines, so the verdict can't
    flip on the display grid. Plan: one distinct-user projection, a
    narrow hash map per seed, and a 2-counter aggregate —
    map-combinable; at 100 TB this is one scan however many salts."""
    t = load_tables(spark, sf_dir, ("events",))
    users = t["events"].select("user_id").distinct() \
        .localCheckpoint(eager=False)  # reused per seed
    outs = []
    for seed in SRM_SEEDS:
        arm = md5_int(F.concat(F.lit(f"{seed}:"),
                               F.col("user_id").cast("string")), 8) % 2
        outs.append(users.select(arm.alias("arm")).agg(
            F.lit(seed).alias("seed"),
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("long").alias("n_a"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("long").alias("n_b")))
    counts = outs[0]
    for o in outs[1:]:
        counts = counts.unionByName(o)
    chi2 = ((F.col("n_a") - F.col("n_b"))
            * (F.col("n_a") - F.col("n_b")) * F.lit(1.0)
            / (F.col("n_a") + F.col("n_b")))
    return counts.select(
        "seed", "n_a", "n_b",
        fround(chi2).alias("chi2"),
        F.when(chi2 > _SRM_CHI2_95, 1).otherwise(0).alias("srm_95"),
        F.when(chi2 > _SRM_CHI2_99, 1).otherwise(0).alias("srm_99"))


# ---------------------------------------------------------------------------
# Benjamini-Hochberg step-up — FDR control, the discovery-oriented twin
# ---------------------------------------------------------------------------

#: false-discovery rate the BH procedure controls.
BH_Q = 0.10
#: per-rank BH critical |z|: rank k tests at p <= k*q/m, thresholds
#: DECREASE with k (step-up; compare HOLM_ZCRIT, which increases).
BH_ZCRIT = tuple(
    round(_norm_ppf(1 - (k * BH_Q) / (2 * HOLM_M)), 6)
    for k in range(1, HOLM_M + 1))


def _bh_oracle() -> str:
    zrows = ", ".join(f"({k + 1}, {z!r})" for k, z in enumerate(BH_ZCRIT))
    return f"""
    WITH {_NATION_Z_CTES.strip()},
    crit AS (SELECT * FROM (VALUES {zrows}) AS t(rk, zcrit)),
    dec AS (
        SELECT r.n_name, r.n, r.z, r.rk, c.zcrit,
               CASE WHEN ABS(r.z) >= c.zcrit THEN 1 ELSE 0 END AS pass_k
        FROM ranked r JOIN crit c ON c.rk = r.rk
    ),
    kstar AS (
        SELECT COALESCE(MAX(CASE WHEN pass_k = 1 THEN rk END), 0) AS ks
        FROM dec
    )
    SELECT d.n_name, d.n, d.z, d.rk AS bh_rank, d.zcrit AS bh_threshold_z,
           CASE WHEN d.rk <= k.ks THEN 1 ELSE 0 END AS reject_bh
    FROM dec d CROSS JOIN kstar k
    """


@register(
    "bh_fdr_control",
    survey="ext-drift,A6,A10,F9",
    oracle=_bh_oracle(),
)
def bh_fdr_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI-HOCHBERG step-up over the same {HOLM_M}-nation Welch-z
    fleet as `holm_multiple_tests` — the OTHER multiple-testing
    guarantee: Holm controls the family-wise error (any false
    positive, the launch-decision bar); BH controls the FALSE
    DISCOVERY RATE at q={BH_Q} (share of false positives among
    discoveries — the screening bar for 'which segments deserve a
    follow-up experiment'). Step-UP: find the LARGEST rank k whose
    |z| clears its threshold z(1−kq/2m) and reject ranks 1..k —
    including ranks that individually failed, the property that makes
    BH strictly more powerful than Holm on the same data (pinned in
    tests: reject_holm ⊆ reject_bh here).

    Replay discipline: identical to Holm — the shared z frame
    (_nation_welch_z / _NATION_Z_CTES), Acklam critical-value
    literals, broadcast self-count ranks; the step-up k* is one MAX
    over the {HOLM_M}-row decision frame and the verdict is an
    integer rank comparison. Plan: one fact aggregate, then
    {HOLM_M}-row algebra."""
    z = _nation_welch_z(spark, sf_dir)
    # driver resolution — same gate/hardening as holm_multiple_tests.
    rows = driver.bounded_collect(z, HOLM_M)
    if rows is not None and all(r["z"] is not None for r in rows):
        return _bh_from_rows(spark, rows)
    a, b = z.alias("a"), z.alias("b")
    beats = (F.abs(F.col("b.z")) > F.abs(F.col("a.z"))) | \
        ((F.abs(F.col("b.z")) == F.abs(F.col("a.z")))
         & (F.col("b.n_name") < F.col("a.n_name")))
    ranked = (a.join(F.broadcast(b),
                     F.col("b.n_name") != F.col("a.n_name"), "left")
              .groupBy(F.col("a.n_name").alias("n_name"),
                       F.col("a.n").alias("n"),
                       F.col("a.z").alias("z"))
              .agg((F.count(F.when(beats, 1)) + 1).cast("long")
                   .alias("rk")))
    crit = driver.local_frame(
        spark, [(k + 1, zc) for k, zc in enumerate(BH_ZCRIT)],
        "rk long, zcrit double")
    dec_df = (ranked.join(F.broadcast(crit), "rk")
              .select("n_name", "n", "z", "rk", "zcrit",
                      (F.abs(F.col("z")) >= F.col("zcrit"))
                      .cast("int").alias("pass_k"))
              .localCheckpoint(eager=False))
    kstar = dec_df.agg(F.coalesce(
        F.max(F.when(F.col("pass_k") == 1, F.col("rk"))),
        F.lit(0)).alias("ks"))
    return (dec_df.crossJoin(F.broadcast(kstar))
            .select("n_name", "n", "z",
                    F.col("rk").alias("bh_rank"),
                    F.col("zcrit").alias("bh_threshold_z"),
                    F.when(F.col("rk") <= F.col("ks"), 1).otherwise(0)
                    .alias("reject_bh")))
