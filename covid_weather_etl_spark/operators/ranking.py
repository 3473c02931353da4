"""Exact rank statistics at scale: ROC AUC (Mann-Whitney), Spearman
rank correlation, and the decile lift/gains table — the model- and
feature-evaluation primitives that naively need a GLOBAL sort/rank
(every row through one task), re-expressed as tie-collapsed per-value
count tables + prefix sums, so they obey the registry's zero-global-
window pin and stay exact.

The common trick: a rank statistic never needs the rank of each ROW —
only, per DISTINCT value, how much mass lies below it and how much is
tied at it. GroupBy(value) bounds the working frame by the number of
distinct values; cumulative counts come from value-range blocks +
triangular offset joins (the ks_two_sample pattern); every sum is
integer (or half-integer) and accumulates in DECIMAL, so results are
bit-identical across engines and partitionings.

Reference parity: the reference evaluates its classifier with
sklearn's roc_auc_score (`dags/classification_dag.py:118`); this is
that evaluation computed inside the engine, exactly, at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from covid_weather_etl_spark.functions import driver
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables, spread

#: the scored-binary-outcome pair: score = n_chars, outcome = document
#: longer than ISO_TOK_CUT tokens (same pair isotonic_calibration fits).
AUC_TOK_CUT = 56

_DOC_SCORED_SQL = f"""
        SELECT n_chars AS score,
               CASE WHEN len(string_split(text, ' ')) > {AUC_TOK_CUT}
                    THEN 1 ELSE 0 END AS y
        FROM documents
"""


@register(
    "exact_auc_mann_whitney",
    survey="ext-rank,U5,A6,W1",
    oracle=f"""
    WITH scored AS (
        {_DOC_SCORED_SQL}
    ), d AS (
        SELECT score,
               CAST(SUM(y) AS BIGINT) AS pos,
               CAST(SUM(1 - y) AS BIGINT) AS neg
        FROM scored GROUP BY score
    ), c AS (
        SELECT score, pos, neg,
               SUM(neg) OVER (ORDER BY score) - neg AS neg_below
        FROM d
    ), tot AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(SUM(neg) AS BIGINT) AS n_neg
        FROM d
    )
    SELECT n_pos, n_neg,
           ROUND(CAST(SUM(pos * (2 * neg_below + neg)) AS DOUBLE)
                 / (2.0 * n_pos * n_neg), 6) AS auc
    FROM c CROSS JOIN tot
    WHERE n_pos > 0 AND n_neg > 0
    GROUP BY n_pos, n_neg
    """,
)
def exact_auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of `n_chars` as a predictor of the long-document
    outcome, via the Mann-Whitney U identity: AUC = P(score_pos >
    score_neg) + ½·P(tie) = Σ_v pos(v)·(neg_below(v) + ½·neg(v)) /
    (n_pos·n_neg). The engine never ranks rows — it tie-collapses to
    the per-distinct-score count table (one map-combinable aggregate),
    gets neg_below from value-range blocks + a triangular offset join
    (the ks_two_sample pattern, zero global windows), and the
    2×-scaled concordance sum stays INTEGER in DECIMAL until the one
    final division — bit-identical across engines and partitionings.
    Scale: cost = one scan + a distinct-scores-bounded frame; the
    oracle states the same sum with a plain cumulative window."""
    t = load_tables(spark, sf_dir, ("documents",))
    scored = (spread(t["documents"], "doc_id")
              .select(F.col("n_chars").alias("score"),
                      (F.size(F.split("text", " ")) > AUC_TOK_CUT)
                      .cast("int").alias("y")))
    d = (scored.groupBy("score")
         .agg(F.sum("y").alias("pos"),
              F.sum(1 - F.col("y")).alias("neg"))
         .localCheckpoint(eager=False))

    lo, hi = d.agg(F.min("score"), F.max("score")).first()
    if lo is None:
        return driver.local_frame(
            spark, [], "n_pos bigint, n_neg bigint, auc double")
    n_blocks = 32
    width = max((hi - lo) / n_blocks, 1e-9)
    blk = F.least(F.floor((F.col("score") - F.lit(lo)) / F.lit(width)),
                  F.lit(n_blocks - 1)).cast("int")
    w_in = (W.partitionBy("blk").orderBy("score")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    in_blk = (d.withColumn("blk", blk)
              .withColumn("neg_thru", F.sum("neg").over(w_in)))
    blk_tot = (d.withColumn("blk", blk).groupBy("blk")
               .agg(F.sum("neg").alias("tneg")))
    below = (blk_tot.alias("x")
             .join(F.broadcast(blk_tot.alias("y")),
                   F.col("y.blk") < F.col("x.blk"), "left")
             .groupBy(F.col("x.blk").alias("blk"))
             .agg(F.coalesce(F.sum("y.tneg"), F.lit(0)).alias("off")))
    tot = d.agg(F.sum("pos").alias("n_pos"), F.sum("neg").alias("n_neg"))
    neg_below = F.col("neg_thru") + F.col("off") - F.col("neg")
    return (in_blk.join(F.broadcast(below), "blk")
            .crossJoin(F.broadcast(tot))
            # AUC is undefined for a one-class outcome: emit 0 rows
            # (same cut in the oracle) instead of a divide-by-zero inf
            .filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
            .groupBy("n_pos", "n_neg")
            .agg(F.round(
                F.sum((F.col("pos") * (2 * neg_below + F.col("neg")))
                      .cast("decimal(25,0)")).cast("double")
                / (2.0 * F.col("n_pos") * F.col("n_neg")), 6)
                .alias("auc"))
            .select("n_pos", "n_neg", "auc"))


def rank_table(df: DataFrame, col: str, n_blocks: int = 32) -> DataFrame:
    """Tie-averaged rank side table for one column WITHOUT a global
    window: tie-collapse to per-value counts, value-range blocked
    in-block cumulative window, triangular block-offset join. Returns
    (col, rk2_col) with the average rank carried 2×-scaled as an
    exact integer on the ½ grid."""
    d = (df.groupBy(col).agg(F.count("*").alias("c"))
         .localCheckpoint(eager=False))
    lo, hi = d.agg(F.min(col), F.max(col)).first()
    if lo is None:
        return d.select(F.col(col),
                        F.lit(None).cast("long").alias(f"rk2_{col}"))
    width = max((hi - lo) / n_blocks, 1e-9)
    blk = F.least(F.floor((F.col(col) - F.lit(lo)) / F.lit(width)),
                  F.lit(n_blocks - 1)).cast("int")
    w_in = (W.partitionBy("blk").orderBy(col)
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    in_blk = (d.withColumn("blk", blk)
              .withColumn("thru_blk", F.sum("c").over(w_in)))
    blk_tot = d.withColumn("blk", blk).groupBy("blk") \
               .agg(F.sum("c").alias("tc"))
    below = (blk_tot.alias("x")
             .join(F.broadcast(blk_tot.alias("y")),
                   F.col("y.blk") < F.col("x.blk"), "left")
             .groupBy(F.col("x.blk").alias("blk"))
             .agg(F.coalesce(F.sum("y.tc"), F.lit(0)).alias("off")))
    thru = F.col("thru_blk") + F.col("off")
    rk2 = 2 * (thru - F.col("c")) + F.col("c") + 1
    return (in_blk.join(F.broadcast(below), "blk")
            .select(col, rk2.cast("long").alias(f"rk2_{col}")))


#: driver-resolution cap on the (a, b) joint tie-census (rows). Joint
#: distinct (chars, tokens) pairs are length-domain-bounded in
#: practice. The row-count bound keeps the replay inside the engine's
#: long-multiply range.
SPEAR_COLLECT_MAX = 100_000
_SPEAR_N_MAX = 10**9


def _spearman_from_cells(spark: SparkSession, rows):
    """spearman_correlation's rank/moment algebra resolved on the
    driver from the collected (a, b, c) joint tie-census — the two
    rank_table side frames, their min/max first() jobs, broadcast
    builds and the moment aggregate collapse into exact integer
    algebra (ranks on the ½ grid carried 2×-scaled as ints, moment
    sums exact Python ints == the engine's DECIMAL sums), one
    float(int)/2 (or /4) per moment — the identical
    CAST(DECIMAL AS DOUBLE) rounding — and the closed-form rho in
    plain IEEE doubles with the Decimal(repr) HALF_UP replay of Spark
    ROUND. Returns None when the denominator is 0 (degenerate,
    all-tied input) — callers fall through to the distributed path,
    whose NaN/Infinity double-division shape is the pinned behavior.
    Pinned driver-vs-distributed bitwise in tests/test_ranking.py."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    cells = [(int(r["a"]), int(r["b"]), int(r["c"])) for r in rows]
    if not cells:
        return driver.local_frame(
            spark, [(0, None)], "n long, spearman_rho double")
    ca: dict = {}
    cb: dict = {}
    for a, b, c in cells:
        ca[a] = ca.get(a, 0) + c
        cb[b] = cb.get(b, 0) + c

    def rk2(counts: dict) -> dict:
        thru, out = 0, {}
        for v in sorted(counts):
            c = counts[v]
            thru += c
            out[v] = 2 * (thru - c) + c + 1
        return out

    rka, rkb = rk2(ca), rk2(cb)
    n = sa = sb = sab = saa = sbb = 0
    for a, b, c in cells:
        x, y = rka[a], rkb[b]
        n += c
        sa += c * x
        sb += c * y
        sab += c * x * y
        saa += c * x * x
        sbb += c * y * y
    fsa, fsb = float(sa) / 2, float(sb) / 2
    fsab, fsaa, fsbb = float(sab) / 4, float(saa) / 4, float(sbb) / 4
    arg1, arg2 = n * fsaa - fsa * fsa, n * fsbb - fsb * fsb
    if arg1 < 0.0 or arg2 < 0.0:     # float-rounded-negative variance:
        return None                  # NaN shape — distributed path
    den = math.sqrt(arg1) * math.sqrt(arg2)
    if den == 0.0:
        return None
    rho = float(Decimal(repr((n * fsab - fsa * fsb) / den)).quantize(
        Decimal("1e-6"), ROUND_HALF_UP))
    return driver.local_frame(
        spark, [(n, rho)], "n long, spearman_rho double")


@register(
    "spearman_correlation",
    survey="ext-rank,A14,A6,W1",
    oracle="""
    WITH t AS (
        SELECT n_chars AS a,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS b
        FROM documents
    ), ra AS (
        SELECT a, CAST(COUNT(*) AS BIGINT) AS c,
               SUM(COUNT(*)) OVER (ORDER BY a) AS thru
        FROM t GROUP BY a
    ), rb AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c,
               SUM(COUNT(*)) OVER (ORDER BY b) AS thru
        FROM t GROUP BY b
    ), ranked AS (
        SELECT (ra.thru - ra.c + (ra.c + 1) / 2.0) AS rka,
               (rb.thru - rb.c + (rb.c + 1) / 2.0) AS rkb
        FROM t JOIN ra ON t.a = ra.a JOIN rb ON t.b = rb.b
    ), sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(rka * 2 AS DECIMAL(25,0))) AS DOUBLE) / 2
                   AS sa,
               CAST(SUM(CAST(rkb * 2 AS DECIMAL(25,0))) AS DOUBLE) / 2
                   AS sb,
               CAST(SUM(CAST(rka * rkb * 4 AS DECIMAL(30,0))) AS DOUBLE)
                   / 4 AS sab,
               CAST(SUM(CAST(rka * rka * 4 AS DECIMAL(30,0))) AS DOUBLE)
                   / 4 AS saa,
               CAST(SUM(CAST(rkb * rkb * 4 AS DECIMAL(30,0))) AS DOUBLE)
                   / 4 AS sbb
        FROM ranked
    )
    SELECT n,
           ROUND((n * sab - sa * sb)
                 / (SQRT(n * saa - sa * sa) * SQRT(n * sbb - sb * sb)),
                 6) AS spearman_rho
    FROM sums
    """,
)
def spearman_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Spearman rank correlation between document length in
    characters and in tokens (tie-aware average ranks) — the monotone-
    association read Pearson (`correlation_matrix`) misses when the
    relationship is nonlinear. Average rank of a tied value needs only
    (cumulative count through v, tie count at v): both come from the
    tie-collapsed per-value tables via the blocked prefix-sum pattern
    — zero global windows, no row-level rank ever materialized. Ranks
    live on the ½ grid and their products on the ¼ grid, so the 2×/4×
    scaled sums are INTEGERS accumulated in DECIMAL — ρ is
    partitioning-independent to the last bit before the 6dp round.
    Scale: two distinct-value-bounded side tables broadcast back onto
    one scan; everything else is one map-combinable moment aggregate."""
    t = load_tables(spark, sf_dir, ("documents",))
    base = (spread(t["documents"], "doc_id")
            .select(F.col("n_chars").alias("a"),
                    F.size(F.split("text", " ")).cast("long").alias("b")))
    # driver resolution (r13): ONE (a, b)-keyed tie-census aggregate
    # replaces the two rank_table side frames (each with its own
    # min/max first() job + broadcast build) — below the cap the rank
    # and moment algebra is exact integer arithmetic on the driver
    # (see _spearman_from_cells).
    cells = driver.bounded_collect(
        base.groupBy("a", "b").agg(F.count("*").alias("c")),
        SPEAR_COLLECT_MAX)
    if cells is not None and sum(int(r["c"]) for r in cells) <= _SPEAR_N_MAX:
        out = _spearman_from_cells(spark, cells)
        if out is not None:
            return out
    ranked = (base
              .join(F.broadcast(rank_table(base, "a")), "a")
              .join(F.broadcast(rank_table(base, "b")), "b"))
    dec0 = lambda c, p: c.cast(f"decimal({p},0)")  # noqa: E731
    sums = ranked.agg(
        F.count("*").alias("n"),
        (F.sum(dec0(F.col("rk2_a"), 25)).cast("double") / 2).alias("sa"),
        (F.sum(dec0(F.col("rk2_b"), 25)).cast("double") / 2).alias("sb"),
        (F.sum(dec0(F.col("rk2_a") * F.col("rk2_b"), 30)).cast("double")
         / 4).alias("sab"),
        (F.sum(dec0(F.col("rk2_a") * F.col("rk2_a"), 30)).cast("double")
         / 4).alias("saa"),
        (F.sum(dec0(F.col("rk2_b") * F.col("rk2_b"), 30)).cast("double")
         / 4).alias("sbb"))
    n = F.col("n")
    rho = ((n * F.col("sab") - F.col("sa") * F.col("sb"))
           / (F.sqrt(n * F.col("saa") - F.col("sa") * F.col("sa"))
              * F.sqrt(n * F.col("sbb") - F.col("sb") * F.col("sb"))))
    return sums.select("n", F.round(rho, 6).alias("spearman_rho"))


@register(
    "decile_lift_table",
    survey="ext-rank,U5,A11,A6",
    oracle=f"""
    WITH scored AS (
        {_DOC_SCORED_SQL}
    ), edges AS (
        SELECT ROUND(quantile_cont(score, 0.1), 6) AS e0,
               ROUND(quantile_cont(score, 0.2), 6) AS e1,
               ROUND(quantile_cont(score, 0.3), 6) AS e2,
               ROUND(quantile_cont(score, 0.4), 6) AS e3,
               ROUND(quantile_cont(score, 0.5), 6) AS e4,
               ROUND(quantile_cont(score, 0.6), 6) AS e5,
               ROUND(quantile_cont(score, 0.7), 6) AS e6,
               ROUND(quantile_cont(score, 0.8), 6) AS e7,
               ROUND(quantile_cont(score, 0.9), 6) AS e8
        FROM scored
    ), binned AS (
        -- decile 1 = HIGHEST scores (model-eval convention)
        SELECT CASE WHEN score >= e8 THEN 1 WHEN score >= e7 THEN 2
                    WHEN score >= e6 THEN 3 WHEN score >= e5 THEN 4
                    WHEN score >= e4 THEN 5 WHEN score >= e3 THEN 6
                    WHEN score >= e2 THEN 7 WHEN score >= e1 THEN 8
                    WHEN score >= e0 THEN 9 ELSE 10 END AS decile,
               y
        FROM scored CROSS JOIN edges
    ), cells AS (
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(y) AS BIGINT) AS n_pos
        FROM binned GROUP BY decile
    ), tot AS (
        SELECT CAST(SUM(n_rows) AS BIGINT) AS nr,
               CAST(SUM(n_pos) AS BIGINT) AS np
        FROM cells
    ), cum AS (
        SELECT a.decile, a.n_rows, a.n_pos,
               CAST(SUM(b.n_rows) AS BIGINT) AS cum_rows,
               CAST(SUM(b.n_pos) AS BIGINT) AS cum_pos
        FROM cells a JOIN cells b ON b.decile <= a.decile
        GROUP BY a.decile, a.n_rows, a.n_pos
    )
    SELECT decile, n_rows, n_pos,
           ROUND(n_pos * 1.0 / n_rows, 6) AS pos_rate,
           ROUND(cum_pos * 1.0 / np, 6) AS cum_capture,
           ROUND((cum_pos * 1.0 / np) / (cum_rows * 1.0 / nr), 6)
               AS cum_lift
    FROM cum CROSS JOIN tot
    """,
)
def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table for the same scored outcome: rows are
    score deciles from best (1) to worst (10); per decile the positive
    rate, the cumulative share of all positives captured so far
    (gains), and the cumulative lift vs random targeting — the
    campaign/triage read of a score that AUC compresses to one number.
    Exact decile edges come from ONE array-percentile aggregate
    (rounded 6dp so both engines cut identically), assignment is a
    broadcast CASE over the scan, and the cumulative columns come from
    a triangular join on the 10-row cell table — no ntile, no global
    window. At 100 TB the edge pass swaps to percentile_approx
    unchanged (the quantile_binning escalation)."""
    t = load_tables(spark, sf_dir, ("documents",))
    scored = (spread(t["documents"], "doc_id")
              .select(F.col("n_chars").alias("score"),
                      (F.size(F.split("text", " ")) > AUC_TOK_CUT)
                      .cast("int").alias("y")))
    qs = [i / 10 for i in range(1, 10)]
    qarr = scored.agg(F.percentile(
        "score", F.array(*[F.lit(q) for q in qs])).alias("qs"))
    edges = qarr.select(*[F.round(F.col("qs")[i], 6).alias(f"e{i}")
                          for i in range(9)])
    s = F.col("score")
    dec = F.when(s >= F.col("e8"), 1)
    for rank, i in enumerate(range(7, -1, -1), start=2):
        dec = dec.when(s >= F.col(f"e{i}"), rank)
    dec = dec.otherwise(10)
    cells = (scored.crossJoin(F.broadcast(edges))
             .select(dec.alias("decile"), "y")
             .groupBy("decile")
             .agg(F.count("*").alias("n_rows"), F.sum("y").alias("n_pos"))
             .localCheckpoint(eager=False))
    tot = cells.agg(F.sum("n_rows").alias("nr"), F.sum("n_pos").alias("np"))
    a, b = cells.alias("a"), cells.alias("b")
    cum = (a.join(F.broadcast(b), F.col("b.decile") <= F.col("a.decile"))
           .groupBy(F.col("a.decile").alias("decile"),
                    F.col("a.n_rows").alias("n_rows"),
                    F.col("a.n_pos").alias("n_pos"))
           .agg(F.sum("b.n_rows").alias("cum_rows"),
                F.sum("b.n_pos").alias("cum_pos")))
    return (cum.crossJoin(F.broadcast(tot))
            .select("decile", "n_rows", "n_pos",
                    F.round(F.col("n_pos") * 1.0 / F.col("n_rows"), 6)
                    .alias("pos_rate"),
                    F.round(F.col("cum_pos") * 1.0 / F.col("np"), 6)
                    .alias("cum_capture"),
                    F.round((F.col("cum_pos") * 1.0 / F.col("np"))
                            / (F.col("cum_rows") * 1.0 / F.col("nr")), 6)
                    .alias("cum_lift")))


@register(
    "quantile_normalize_feature",
    survey="ext-rank,U1,W14,F9",
    oracle="""
    WITH t AS (
        SELECT doc_id, n_chars FROM documents
    ), ra AS (
        SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS c,
               SUM(COUNT(*)) OVER (ORDER BY n_chars) AS thru
        FROM t GROUP BY n_chars
    ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t)
    SELECT t.doc_id, t.n_chars,
           ROUND((2 * (ra.thru - ra.c) + ra.c + 1)
                 / (2.0 * (nn.n + 1)), 6) AS qnorm
    FROM t JOIN ra USING (n_chars) CROSS JOIN nn
    """,
)
def quantile_normalize_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank) normalization of `n_chars` to (0,1): each row
    maps to its tie-averaged rank / (n+1) — the distribution-free
    feature transform (rank-Gauss without the Gauss step) that makes
    heavy-tailed features comparable across corpus snapshots. Reuses
    `rank_table` (tie-collapsed counts + blocked prefix sums — no
    global window, no row-level sort), broadcast back onto the scan;
    the 2×-scaled integer rank over 2(n+1) is an exact rational, so
    every row's qnorm is bit-identical on both engines. Scale: the
    side table is distinct-values-bounded; the transform itself is a
    broadcast join + narrow map over the full scan."""
    t = load_tables(spark, sf_dir, ("documents",))
    base = (spread(t["documents"], "doc_id")
            .select("doc_id", "n_chars"))
    rk = rank_table(base, "n_chars")
    nn = base.agg(F.count("*").alias("n"))
    return (base.join(F.broadcast(rk), "n_chars")
            .crossJoin(F.broadcast(nn))
            .select("doc_id", "n_chars",
                    F.round(F.col("rk2_n_chars")
                            / (2.0 * (F.col("n") + 1)), 6).alias("qnorm")))


@register(
    "pareto_front_parts",
    survey="ext-rank,P7,A8,J7",
    oracle="""
    SELECT p.p_partkey, p.p_name, p.p_retailprice,
           CAST(p.p_size AS INT) AS p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice
          AND q.p_size <= p.p_size
          AND (q.p_retailprice < p.p_retailprice
               OR q.p_size < p.p_size)
    )
    """,
)
def pareto_front_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front) of the part catalog: parts for which
    no other part is both cheaper-or-equal AND smaller-or-equal with
    at least one strict improvement — the "best tradeoff" query
    (Börzsönyi et al., ICDE 2001) behind any
    cheapest-smallest/fastest-freshest product search. Exact duplicates
    on (price, size) dominate nothing and co-survive.

    The naive form is the oracle's NOT-EXISTS dominance anti-join —
    O(n²) and un-shippable at scale. The engine instead uses the
    sort-free 2-D decomposition: a row is dominated iff
      (a) some STRICTLY cheaper price group contains size ≤ its size, or
      (b) its own price group contains a STRICTLY smaller size.
    Per-price minimum sizes come from one map-combinable groupBy
    (frame bounded by DISTINCT prices — a cents-grid-bounded domain,
    not row count); the strict-prefix minimum over cheaper prices is
    computed as a BLOCKED two-phase prefix min — the
    skew_resilient_running_total pattern applied to MIN: coarse price
    bands give a bands-sized frame for the cross-band triangular join,
    and the within-band strict prefix is a window PARTITIONED on the
    band (registry pin: zero unpartitioned windows, and no quadratic
    term in distinct prices). The verdict joins back onto the scan by
    price. Scale: the part scan shuffles once on p_retailprice; the
    price-grain frame is band-partitioned; a denser price domain only
    needs a finer band width — the plan shape is unchanged."""
    t = load_tables(spark, sf_dir, ("part",))
    part = t["part"]
    grp = (part.groupBy("p_retailprice")
           .agg(F.min("p_size").alias("gmin"))
           .withColumn("blk", F.floor(F.col("p_retailprice") / 100.0))
           .localCheckpoint(eager=False))  # price-grain; reused 3×
    band = grp.groupBy("blk").agg(F.min("gmin").alias("bmin"))
    ba, bb = band.alias("ba"), band.alias("bb")
    band_prefix = (ba.join(F.broadcast(bb),
                           F.col("bb.blk") < F.col("ba.blk"), "left")
                   .groupBy(F.col("ba.blk").alias("blk"))
                   .agg(F.min(F.col("bb.bmin")).alias("band_min")))
    in_band = (W.partitionBy("blk").orderBy("p_retailprice")
               .rowsBetween(W.unboundedPreceding, -1))
    prefix = (grp.join(F.broadcast(band_prefix), "blk")
              .withColumn("in_min", F.min("gmin").over(in_band))
              .select("p_retailprice", "gmin",
                      F.least(F.coalesce("band_min", F.lit(2 ** 31)),
                              F.coalesce("in_min", F.lit(2 ** 31)))
                      .alias("pmin_raw"))
              .withColumn("pmin", F.when(F.col("pmin_raw") < 2 ** 31,
                                         F.col("pmin_raw")))
              .drop("pmin_raw"))
    dominated = ((F.col("pmin").isNotNull()
                  & (F.col("pmin") <= F.col("p_size")))
                 | (F.col("p_size") > F.col("gmin")))
    return (part.join(F.broadcast(prefix), "p_retailprice")
            .filter(~dominated)
            .select("p_partkey", "p_name", "p_retailprice",
                    F.col("p_size").cast("int").alias("p_size")))


#: driver-resolution cap on the band frame (rows). The frame is
#: domain-bounded (price-range/100 bands × |return flags|), so the cap
#: never binds on real data; it exists as the scale guard.
WM_COLLECT_MAX = 100_000


def _wm_from_bands(li: DataFrame, rows) -> DataFrame:
    """Pass-2 of the weighted-median refinement with the crossing-band
    decision resolved on the driver from the collected band frame.
    Exact replay of the distributed decision: bp/tot are Python
    decimal.Decimal sums of the collected DECIMAL(25,6) masses (the
    same exact values Spark's decimal SUM produces), the crossing test
    2·(bp+bw) ≥ tot is an exact decimal comparison, and the chosen
    (flag, cblk, bp, tot) re-enter the plan as DECIMAL literals cast to
    the distributed path's exact types — so the in-band cumulative and
    the final filter see bit-identical numbers (pinned literal-vs-loop
    in tests/test_ranking.py)."""
    from collections import defaultdict
    from decimal import Decimal

    per = defaultdict(list)
    for r in rows:
        per[r["l_returnflag"]].append((int(r["blk"]), r["bw"]))
    info = []  # (flag, cblk, bp, tot)
    for flag, lst in per.items():
        lst.sort()
        tot = sum((bw for _, bw in lst), Decimal(0))
        bp = Decimal(0)
        for blk, bw in lst:
            if 2 * (bp + bw) >= tot:
                info.append((flag, blk, bp, tot))
                break
            bp += bw
    if not info:
        return (li.filter(F.lit(False))
                .groupBy("l_returnflag")
                .agg(F.min("l_extendedprice")
                     .alias("weighted_median_price"),
                     F.lit(None).cast("double").alias("total_qty")))
    picked = None
    for flag, cblk, _, _ in info:
        c = (F.col("l_returnflag") == flag) & (F.col("blk") == cblk)
        picked = c if picked is None else (picked | c)
    # bp/tot enter as the SAME types the distributed path produced:
    # bp = coalesce(SUM(dec(25,6))) -> decimal(35,6); tot likewise.
    def lit_by_flag(idx):
        # when-chain with one branch per distinct flag (order
        # irrelevant — the predicates are disjoint); every branch is
        # the same decimal(35,6) type, so the CASE result type matches
        # the distributed path's join-produced column exactly.
        e = F.lit(info[0][idx]).cast("decimal(35,6)")
        for rec in info[1:]:
            e = F.when(F.col("l_returnflag") == rec[0],
                       F.lit(rec[idx]).cast("decimal(35,6)")) \
                .otherwise(e)
        return e

    in_band = (li.filter(picked)
               .groupBy("l_returnflag", "l_extendedprice")
               .agg(F.sum("qd").alias("w"))
               .withColumn("bp", lit_by_flag(2))
               .withColumn("tot", lit_by_flag(3)))
    w_in = (W.partitionBy("l_returnflag")
            .orderBy("l_extendedprice")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    cum = in_band.withColumn("cum", F.col("bp") + F.sum("w").over(w_in))
    return (cum.filter(2 * F.col("cum") >= F.col("tot"))
            .groupBy("l_returnflag")
            .agg(F.min("l_extendedprice").alias("weighted_median_price"),
                 F.max("tot").cast("double").alias("total_qty")))


@register(
    "weighted_median_price",
    survey="ext-rank,A11,A6,W1",
    oracle="""
    WITH g AS (
        SELECT l_returnflag, l_extendedprice,
               SUM(CAST(l_quantity AS DECIMAL(25,6))) AS w
        FROM lineitem GROUP BY 1, 2
    ), c AS (
        SELECT l_returnflag, l_extendedprice, w,
               SUM(w) OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               SUM(w) OVER (PARTITION BY l_returnflag) AS tot
        FROM g
    )
    SELECT l_returnflag,
           MIN(l_extendedprice) AS weighted_median_price,
           CAST(MAX(tot) AS DOUBLE) AS total_qty
    FROM c WHERE 2 * cum >= tot
    GROUP BY 1
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median (lower / type-1): per return flag, the
    smallest price at which the quantity-weighted cumulative mass
    reaches half the total — the holistic statistic behind
    "median price paid per unit", which an unweighted median of line
    items silently gets wrong whenever quantities vary.

    BUCKET-THEN-REFINE, never a global sort (the same family as
    distributed_exact_median's rank refinement — and unlike the
    blocked-prefix ops, no price-grain frame is ever materialized,
    because extended prices are nearly unique and that frame would be
    fact-sized): pass 1 aggregates quantity mass per (flag, price
    BAND) — a bands-sized frame; a triangular join over it finds each
    flag's CROSSING band (where cumulative mass first reaches half)
    plus the mass below it; pass 2 re-scans ONLY the crossing bands
    (a 3-row broadcast filter that prunes with the scan), builds the
    in-band price-grain cumulative on a few hundred rows, and takes
    the min qualifying price. Weights accumulate in DECIMAL, so
    `2·cum >= tot` is an exact grid comparison on both engines — no
    float threshold wobble at the median boundary. The oracle is the
    plain single-window SQL the refinement must equal. At 100 TB:
    two fact scans with map-combinable aggregates, one tiny
    broadcast — band width tunes pass-2 size exactly like the rank
    refinement's bracket."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = t["lineitem"].select(
        "l_returnflag", "l_extendedprice",
        F.col("l_quantity").cast("decimal(25,6)").alias("qd"),
        F.floor(F.col("l_extendedprice") / 100.0).alias("blk"))
    band = (li.groupBy("l_returnflag", "blk")
            .agg(F.sum("qd").alias("bw"))
            .localCheckpoint(eager=False))    # bands-sized; reused 3x
    # r12: resolve the crossing band on the DRIVER when the band frame
    # is small (it is domain-bounded: price-range/100 × |flags| rows at
    # ANY data scale — the woe_iv cursor-scalar convention, exact
    # DECIMAL arithmetic end to end), replacing the triangular
    # broadcast join + crossing + cross_info joins (~6 one-task jobs,
    # SCALE.md §13 tax) with literal predicates on the pass-2 scan.
    # Past the cap, the distributed refinement is the scale path.
    rows = driver.bounded_collect(band, WM_COLLECT_MAX)
    if rows is not None:
        return _wm_from_bands(li, rows)
    tot = band.groupBy("l_returnflag").agg(F.sum("bw").alias("tot"))
    ba, bb = band.alias("ba"), band.alias("bb")
    below = (ba.join(F.broadcast(bb),
                     (F.col("bb.l_returnflag") == F.col("ba.l_returnflag"))
                     & (F.col("bb.blk") < F.col("ba.blk")), "left")
             .groupBy(F.col("ba.l_returnflag").alias("l_returnflag"),
                      F.col("ba.blk").alias("blk"),
                      F.col("ba.bw").alias("bw"))
             .agg(F.coalesce(F.sum(F.col("bb.bw")),
                             F.lit(0).cast("decimal(25,6)")).alias("bp")))
    # the crossing band: first (lowest) band whose through-mass
    # reaches half the total
    crossing = (below.join(F.broadcast(tot), "l_returnflag")
                .filter(2 * (F.col("bp") + F.col("bw")) >= F.col("tot"))
                .groupBy("l_returnflag")
                .agg(F.min("blk").alias("cblk")))
    cross_info = (crossing.join(below.withColumnRenamed("blk", "cblk"),
                                ["l_returnflag", "cblk"])
                  .join(tot, "l_returnflag")
                  .select("l_returnflag", "cblk", "bp", "tot"))
    in_band = (li.join(F.broadcast(cross_info),
                       (li["l_returnflag"] == cross_info["l_returnflag"])
                       & (li["blk"] == cross_info["cblk"]))
               .drop(cross_info["l_returnflag"])
               .groupBy("l_returnflag", "l_extendedprice", "bp", "tot")
               .agg(F.sum("qd").alias("w")))
    w_in = (W.partitionBy("l_returnflag")
            .orderBy("l_extendedprice")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    cum = in_band.withColumn("cum", F.col("bp") + F.sum("w").over(w_in))
    return (cum.filter(2 * F.col("cum") >= F.col("tot"))
            .groupBy("l_returnflag")
            .agg(F.min("l_extendedprice").alias("weighted_median_price"),
                 F.max("tot").cast("double").alias("total_qty")))


@register(
    "exact_average_precision",
    survey="ext-rank,U5,A6,W1",
    oracle=f"""
    WITH scored AS (
        {_DOC_SCORED_SQL}
    ), d AS (
        SELECT score,
               CAST(SUM(y) AS BIGINT) AS pos,
               CAST(SUM(1 - y) AS BIGINT) AS neg
        FROM scored GROUP BY score
    ), c AS (
        SELECT score, pos, neg,
               SUM(pos) OVER (ORDER BY score DESC) AS tp,
               SUM(pos + neg) OVER (ORDER BY score DESC) AS pp
        FROM d
    ), tot AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(SUM(neg) AS BIGINT) AS n_neg
        FROM d
    )
    SELECT n_pos, n_neg,
           ROUND(CAST(SUM(CAST(ROUND(pos * tp * 1.0 / (n_pos * pp), 9)
                              AS DECIMAL(20,9))) AS DOUBLE), 6) AS ap
    FROM c CROSS JOIN tot
    WHERE n_pos > 0 AND pos > 0
    GROUP BY n_pos, n_neg
    """,
)
def exact_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AVERAGE PRECISION (area under the precision-recall curve,
    sklearn's step-wise estimator): AP = Σ_k ΔR_k·P_k over descending
    distinct score thresholds — the retrieval/imbalanced-data
    companion to `exact_auc_mann_whitney`, and the metric that a
    similarity-search or dedup ranking should be judged by when
    positives are rare (AUC saturates; AP does not). Same scored pair
    (n_chars predicting the long-document outcome), so the two
    metrics are directly comparable in the registry.

    Machinery: tie-collapse to the per-distinct-score count table,
    cumulative TP and predicted-positive counts FROM THE TOP via the
    blocked prefix pattern (in-block window partitioned on the value
    block + triangular block-offset join — zero global windows), then
    per-threshold terms pos·TP/(n_pos·PP) rounded to 9dp and summed
    in DECIMAL: order-independent, hash-identical on both engines
    (the oracle states the same sum with a plain descending window).
    Thresholds with no positives contribute exactly 0 and are cut on
    both sides. Scale: one scan + a distinct-scores-bounded frame."""
    t = load_tables(spark, sf_dir, ("documents",))
    scored = (spread(t["documents"], "doc_id")
              .select(F.col("n_chars").alias("score"),
                      (F.size(F.split("text", " ")) > AUC_TOK_CUT)
                      .cast("int").alias("y")))
    d = (scored.groupBy("score")
         .agg(F.sum("y").alias("pos"),
              F.sum(1 - F.col("y")).alias("neg"))
         .localCheckpoint(eager=False))
    lo, hi = d.agg(F.min("score"), F.max("score")).first()
    if lo is None:
        return driver.local_frame(
            spark, [], "n_pos bigint, n_neg bigint, ap double")
    n_blocks = 32
    width = max((hi - lo) / n_blocks, 1e-9)
    blk = F.least(F.floor((F.col("score") - F.lit(lo)) / F.lit(width)),
                  F.lit(n_blocks - 1)).cast("int")
    w_desc = (W.partitionBy("blk").orderBy(F.col("score").desc())
              .rowsBetween(W.unboundedPreceding, W.currentRow))
    in_blk = (d.withColumn("blk", blk)
              .withColumn("tp_in", F.sum("pos").over(w_desc))
              .withColumn("pp_in", F.sum(F.col("pos") + F.col("neg"))
                          .over(w_desc)))
    blk_tot = (d.withColumn("blk", blk).groupBy("blk")
               .agg(F.sum("pos").alias("bpos"),
                    F.sum(F.col("pos") + F.col("neg")).alias("ball")))
    above = (blk_tot.alias("x")
             .join(F.broadcast(blk_tot.alias("y")),
                   F.col("y.blk") > F.col("x.blk"), "left")
             .groupBy(F.col("x.blk").alias("blk"))
             .agg(F.coalesce(F.sum("y.bpos"), F.lit(0)).alias("apos"),
                  F.coalesce(F.sum("y.ball"), F.lit(0)).alias("aall")))
    tot = d.agg(F.sum("pos").alias("n_pos"), F.sum("neg").alias("n_neg"))
    tp = F.col("tp_in") + F.col("apos")
    pp = F.col("pp_in") + F.col("aall")
    term = (F.round(F.col("pos") * tp * 1.0 / (F.col("n_pos") * pp), 9)
            .cast("decimal(20,9)"))
    return (in_blk.join(F.broadcast(above), "blk")
            .crossJoin(F.broadcast(tot))
            .filter((F.col("n_pos") > 0) & (F.col("pos") > 0))
            .groupBy("n_pos", "n_neg")
            .agg(F.round(F.sum(term).cast("double"), 6).alias("ap"))
            .select("n_pos", "n_neg", "ap"))


#: NDCG report depth.
NDCG_K = 10


@register(
    "ndcg_popularity_baseline",
    survey="ext-rank,U5,W6,A6",
    oracle=f"""
    WITH rel AS (
        SELECT o.o_custkey AS c, l.l_partkey AS p,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2)))
                    AS DOUBLE) AS rel
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ), pop AS (
        SELECT p, CAST(SUM(CAST(rel AS DECIMAL(18,2))) AS DOUBLE) AS pop
        FROM rel GROUP BY 1
    ), pred AS (
        SELECT rel.c, rel.rel,
               row_number() OVER (PARTITION BY rel.c
                                  ORDER BY pop.pop DESC, rel.p) AS pos
        FROM rel JOIN pop ON rel.p = pop.p
    ), ideal AS (
        SELECT c, rel,
               row_number() OVER (PARTITION BY c
                                  ORDER BY rel DESC, rel.p) AS pos
        FROM rel
    ), dcg AS (
        SELECT c, SUM(CAST(ROUND(rel / LOG2(pos + 1), 9)
                           AS DECIMAL(25,9))) AS dcg
        FROM pred WHERE pos <= {NDCG_K} GROUP BY 1
    ), idcg AS (
        SELECT c, SUM(CAST(ROUND(rel / LOG2(pos + 1), 9)
                           AS DECIMAL(25,9))) AS idcg
        FROM ideal WHERE pos <= {NDCG_K} GROUP BY 1
    ), per_cust AS (
        SELECT dcg.c,
               CAST(ROUND(CAST(dcg.dcg AS DOUBLE)
                          / CAST(idcg.idcg AS DOUBLE), 9)
                    AS DECIMAL(20,9)) AS ndcg
        FROM dcg JOIN idcg ON dcg.c = idcg.c
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           FLOOR(CAST(SUM(ndcg) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6
             AS mean_ndcg
    FROM per_cust
    """,
)
def ndcg_popularity_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the global-popularity recommender against each
    customer's true purchase quantities — the graded-relevance
    retrieval metric (Järvelin & Kekäläinen 2002) that completes the
    registry's ranking-eval family (exact_auc: binary pairwise;
    exact_average_precision: binary PR; NDCG: graded, position-
    discounted), and the baseline number any ALS/kNN recommender in
    the registry must beat. Linear gain, log2 position discount;
    prediction ranks every customer's parts by corpus-wide
    popularity (ties to the part key), the ideal ranking by the
    customer's own relevance.

    Exactness: relevances are exact 2-decimal DECIMAL sums cast to
    double (clean values); each DCG term rel/log2(pos+1) is one
    double division rounded 9dp into DECIMAL, so per-customer DCG and
    the final mean are order-free; per-customer NDCG is again a
    single rounded division. Windows partition on the customer
    (registry pin); the popularity side is a part-grain broadcast.
    One lineitem⋈orders shuffle, two customer-keyed aggregates —
    fact-proportional work ends at the (customer, part) grain."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    rel = (t["lineitem"]
           .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
           .groupBy(F.col("o_custkey").alias("c"),
                    F.col("l_partkey").alias("p"))
           .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                .cast("double").alias("rel"))
           .localCheckpoint(eager=False))   # reused: pop + pred + ideal
    pop = (rel.groupBy("p")
           .agg(F.sum(F.col("rel").cast("decimal(18,2)"))
                .cast("double").alias("pop")))
    w_pred = W.partitionBy("c").orderBy(F.col("pop").desc(), "p")
    w_ideal = W.partitionBy("c").orderBy(F.col("rel").desc(), "p")
    term = lambda: (F.round(F.col("rel") / F.log2(F.col("pos") + 1), 9)
                    .cast("decimal(25,9)"))
    dcg = (rel.join(F.broadcast(pop), "p")
           .select("c", "rel", F.row_number().over(w_pred).alias("pos"))
           .filter(F.col("pos") <= NDCG_K)
           .groupBy("c").agg(F.sum(term()).alias("dcg")))
    idcg = (rel.select("c", "rel",
                       F.row_number().over(w_ideal).alias("pos"))
            .filter(F.col("pos") <= NDCG_K)
            .groupBy("c").agg(F.sum(term()).alias("idcg")))
    per_cust = (dcg.join(idcg, "c")
                .select(F.round(F.col("dcg").cast("double")
                                / F.col("idcg").cast("double"), 9)
                        .cast("decimal(20,9)").alias("ndcg")))
    return (per_cust.agg(
        F.count("*").alias("n_customers"),
        (F.floor(F.sum("ndcg").cast("double") / F.count("*")
                 * 1e6 + 0.5) / 1e6).alias("mean_ndcg")))


# ---------------------------------------------------------------------------
# rank-biased overlap — top-weighted agreement between two rankings
# ---------------------------------------------------------------------------

#: RBO persistence parameter and evaluation depth.
RBO_P = 0.9
RBO_DEPTH = 50


# single-task collapse (r12): everything after the two
# TakeOrdered heads is RBO_DEPTH-bounded BY CONSTRUCTION (limit D),
# so the rank/overlap/term algebra — two triangular self-joins, the
# depth fan-out join and the truncated-sum join, ~9 one-task jobs of
# ≤50-row work (SCALE.md §13 tax) — runs in ONE mapInPandas task.
# Exactness: the DECIMAL totals cross Arrow as exact decimal.Decimal
# (rank comparisons unchanged); the only float replays are
# pow/round-9dp/g6, pinned bit-identical to the JVM in
# tests/test_ranking.py (data-INDEPENDENT inputs: p^(d-1), d ≤ 50).
def _rbo_single_task(heads: DataFrame) -> DataFrame:
    """Whole-RBO-in-one-task kernel over the tagged union of the two
    top-D heads (side 'a' = revenue ranking, 'b' = quantity ranking;
    columns side, pk, v). Replays the triangular rank count (v desc,
    pk asc ties), m = max(rank_a, rank_b), prefix overlaps o_d, the
    9dp-snapped RBO terms (Double.toString/HALF_UP semantics via
    Decimal(repr(x))) and the 1e-6 grid finals — see
    the comment above it for the bit-exactness argument."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    q9 = Decimal("1e-9")
    # p^(d-1) via the JVM's StrictMath.pow (py4j round-trips doubles
    # through Double.toString — bit-exact). Measured on this build:
    # Spark's F.pow == StrictMath.pow, which differs by 1 ulp from BOTH
    # the HotSpot Math.pow intrinsic AND C/Python libm pow at e.g.
    # exponent 4 — so the kernel must replay StrictMath, not the
    # platform libm. Data-independent (RBO_DEPTH constants); pinned
    # against F.pow AND exhaustively over every reachable (o, d) term
    # in tests/test_ranking.py.
    sm = heads.sparkSession._jvm.java.lang.StrictMath
    powv = [sm.pow(RBO_P, float(e)) for e in range(RBO_DEPTH)]

    def k(pdfs):
        cols = {"depth": "int64", "n_overlap": "int64",
                "agreement": "float64", "rbo_truncated": "float64"}
        parts = list(pdfs)
        rows = ([(s, int(pk), v)
                 for p in parts
                 for s, pk, v in zip(p["side"], p["pk"], p["v"])]
                if parts else [])
        if not rows:
            yield pd.DataFrame({c: pd.Series([], dtype=t)
                                for c, t in cols.items()})
            return
        rank = {}
        for side in ("a", "b"):
            lst = [(pk, v) for s, pk, v in rows if s == side]
            for pk, v in lst:
                rank[(side, pk)] = 1 + sum(
                    1 for qk, qv in lst
                    if qk != pk and (qv > v or (qv == v and qk < pk)))
        m = [max(rank[("a", pk)], rank[("b", pk)])
             for (s, pk) in rank if s == "a" and ("b", pk) in rank]
        terms = []
        recs = []
        for d in range(1, RBO_DEPTH + 1):
            o = sum(1 for x in m if x <= d)
            raw = (1.0 - RBO_P) * powv[d - 1] * float(o) / float(d)
            terms.append(Decimal(repr(raw)).quantize(q9, ROUND_HALF_UP))
            if d in RBO_REPORT_DEPTHS:
                g6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa
                recs.append((d, o, g6(float(o) * 1.0 / float(d)),
                             g6(float(sum(terms)))))
        yield pd.DataFrame({c: pd.Series([r[i] for r in recs], dtype=t)
                            for i, (c, t) in enumerate(cols.items())})

    return heads.coalesce(1).mapInPandas(
        k, "depth long, n_overlap long, agreement double, "
           "rbo_truncated double")
#: depths reported (prefix agreements + truncated RBO at each).
RBO_REPORT_DEPTHS = (10, 25, 50)


@register(
    "rank_biased_overlap",
    survey="ext-rank,A6,W6,F10",
    oracle=f"""
    WITH rev AS (
        SELECT l_partkey AS pk,
               SUM(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(25,6))) AS v
        FROM lineitem GROUP BY 1
    ), qty AS (
        SELECT l_partkey AS pk,
               SUM(CAST(l_quantity AS DECIMAL(25,6))) AS v
        FROM lineitem GROUP BY 1
    ), la AS (
        SELECT pk, CAST(ROW_NUMBER() OVER (ORDER BY v DESC, pk) AS BIGINT)
                   AS ra
        FROM rev QUALIFY ra <= {RBO_DEPTH}
    ), lb AS (
        SELECT pk, CAST(ROW_NUMBER() OVER (ORDER BY v DESC, pk) AS BIGINT)
                   AS rb
        FROM qty QUALIFY rb <= {RBO_DEPTH}
    ), joint AS (
        SELECT la.pk, GREATEST(la.ra, lb.rb) AS m
        FROM la JOIN lb ON la.pk = lb.pk
    ), depths AS (
        SELECT CAST(unnest(generate_series(1, {RBO_DEPTH})) AS BIGINT)
               AS d
    ), od AS (
        SELECT d.d, CAST(COUNT(j.pk) AS BIGINT) AS o
        FROM depths d LEFT JOIN joint j ON j.m <= d.d
        GROUP BY d.d
    ), terms AS (
        SELECT d, o,
               CAST(ROUND((1e0 - {RBO_P!r}) * POW({RBO_P!r}, d - 1)
                          * o / d, 9) AS DECIMAL(25,9)) AS term
        FROM od
    )
    SELECT a.d AS depth,
           a.o AS n_overlap,
           FLOOR(a.o * 1e0 / a.d * 1e6 + 0.5) / 1e6 AS agreement,
           FLOOR(CAST(SUM(b.term) AS DOUBLE) * 1e6 + 0.5) / 1e6
               AS rbo_truncated
    FROM terms a JOIN terms b ON b.d <= a.d
    WHERE a.d IN ({", ".join(str(d) for d in RBO_REPORT_DEPTHS)})
    GROUP BY a.d, a.o
    """,
)
def rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK-BIASED OVERLAP (Webber et al. 2010) between two part
    rankings — by revenue vs by shipped quantity: RBO_d =
    (1−p)·Σ_{{k≤d}} p^{{k−1}}·|A_k ∩ B_k|/k with persistence
    p={RBO_P}, reported at depths {RBO_REPORT_DEPTHS}. The
    top-weighted agreement measure for comparing rankers when only
    prefixes matter (two rankers that agree on the head and scramble
    the tail score high — Spearman over full lists can't say that);
    completes the ranking-eval family (NDCG judges one ranking
    against labels; RBO compares two rankings to each other, the A/B
    question for retrieval/ranker rollouts).

    Exactness: both rankings order by exact DECIMAL totals with pk
    tie-break (total order); prefix-overlap counts come from the
    integer identity item ∈ A_d∩B_d ⟺ max(rank_A, rank_B) ≤ d; each
    RBO term is one shared-text pow/divide snapped to 1e-9 and
    DECIMAL-summed over the triangular depth join. Plan: two
    map-combinable part aggregates, two TakeOrdered({RBO_DEPTH})
    heads whose in-list positions are recovered by a broadcast
    {RBO_DEPTH}²-row self-count (no global window — positions within
    the top-D list ARE global positions, since the list is the global
    head under the same total order); everything after is
    {RBO_DEPTH}-bounded."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = t["lineitem"]

    def topd(df: DataFrame, rank_name: str) -> DataFrame:
        head = (df.orderBy(F.col("v").desc(), F.col("pk"))
                .limit(RBO_DEPTH).localCheckpoint(eager=False))
        x, y = head.alias("x"), head.alias("y")
        beats = (F.col("y.v") > F.col("x.v")) | \
            ((F.col("y.v") == F.col("x.v"))
             & (F.col("y.pk") < F.col("x.pk")))
        return (x.join(F.broadcast(y), beats, "left")
                .groupBy(F.col("x.pk").alias("pk"))
                .agg((F.count(F.col("y.pk")) + 1).cast("long")
                     .alias(rank_name)))

    rev = (li.groupBy(F.col("l_partkey").alias("pk"))
           .agg(F.sum((F.col("l_extendedprice")
                       * (1 - F.col("l_discount")))
                      .cast("decimal(25,6)")).alias("v")))
    qty = (li.groupBy(F.col("l_partkey").alias("pk"))
           .agg(F.sum(F.col("l_quantity").cast("decimal(25,6)"))
                .alias("v")))
    # single-task collapse (r12): the two heads are ≤RBO_DEPTH rows by
    # construction — run all post-head algebra in one kernel task
    # (kernel-vs-loop pinned in tests).
    if not driver.FORCE_DISTRIBUTED:
        heads = (rev.orderBy(F.col("v").desc(), F.col("pk"))
                 .limit(RBO_DEPTH)
                 .select(F.lit("a").alias("side"), "pk", "v")
                 .unionByName(
                     qty.orderBy(F.col("v").desc(), F.col("pk"))
                     .limit(RBO_DEPTH)
                     .select(F.lit("b").alias("side"), "pk", "v")))
        return _rbo_single_task(heads)
    joint = (topd(rev, "ra").join(topd(qty, "rb"), "pk")
             .select("pk", F.greatest("ra", "rb").alias("m")))
    depths = spark.range(1, RBO_DEPTH + 1) \
        .select(F.col("id").alias("d"))
    od = (depths.join(F.broadcast(joint), F.col("m") <= F.col("d"),
                      "left")
          .groupBy("d").agg(F.count("pk").alias("o"))
          .localCheckpoint(eager=False))  # depth-bounded, reused 2x
    term = F.round((1.0 - RBO_P) * F.pow(F.lit(RBO_P), F.col("d") - 1)
                   * F.col("o") / F.col("d"), 9).cast("decimal(25,9)")
    terms = od.select("d", "o", term.alias("term"))
    a, b = terms.alias("a"), terms.alias("b")
    g6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (a.join(F.broadcast(b), F.col("b.d") <= F.col("a.d"))
            .filter(F.col("a.d").isin(*RBO_REPORT_DEPTHS))
            .groupBy(F.col("a.d").alias("depth"),
                     F.col("a.o").alias("n_overlap"))
            .agg(g6(F.col("n_overlap") * F.lit(1.0) / F.col("depth"))
                 .alias("agreement"),
                 g6(F.sum("b.term").cast("double"))
                 .alias("rbo_truncated"))
            .select("depth", F.col("n_overlap").cast("long")
                    .alias("n_overlap"), "agreement", "rbo_truncated"))
