"""Semantic pins for the exact rank-statistics pack (AUC, Spearman,
lift): values must match brute-force recomputations, not just the
engine/oracle pair."""

from __future__ import annotations

import numpy as np
import pandas as pd

from covid_weather_etl_spark.operators.ranking import AUC_TOK_CUT
from covid_weather_etl_spark.queries.registry import all_queries
from tests.conftest import SF_DIR, bitrows

QUERIES = all_queries()


def _scored() -> pd.DataFrame:
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    return pd.DataFrame({
        "score": docs.n_chars,
        "y": (docs.text.str.split(" ").str.len() > AUC_TOK_CUT).astype(int),
    })


def test_auc_matches_brute_force_pairs(spark):
    """AUC == concordant/total over ALL pos×neg pairs with ½ for
    ties — the literal Mann-Whitney definition."""
    row = QUERIES["exact_auc_mann_whitney"].fn(spark, SF_DIR).collect()[0]
    s = _scored()
    pos = s[s.y == 1].score.to_numpy()
    neg = s[s.y == 0].score.to_numpy()
    gt = (pos[:, None] > neg[None, :]).sum()
    eq = (pos[:, None] == neg[None, :]).sum()
    want = (gt + 0.5 * eq) / (len(pos) * len(neg))
    assert row.n_pos == len(pos) and row.n_neg == len(neg)
    assert abs(row.auc - round(want, 6)) < 1e-9, (row.auc, want)
    assert 0.5 < row.auc <= 1.0  # n_chars genuinely predicts length


def test_spearman_matches_pandas_rank_corr(spark):
    """rho == Pearson correlation of tie-averaged ranks (pandas
    method='average'), and it must beat 0.9 on chars-vs-tokens."""
    row = QUERIES["spearman_correlation"].fn(spark, SF_DIR).collect()[0]
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    a = docs.n_chars.rank(method="average")
    b = docs.text.str.split(" ").str.len().rank(method="average")
    want = np.corrcoef(a, b)[0, 1]
    assert row.n == len(docs)
    assert abs(row.spearman_rho - round(want, 6)) < 1e-6
    assert row.spearman_rho > 0.9


def test_lift_table_invariants_and_recount(spark):
    """Deciles partition the corpus; capture is monotone to 1.0;
    decile-1 lift >= 1; per-decile positives match a pandas recount
    binned with the same rounded edges."""
    got = (QUERIES["decile_lift_table"].fn(spark, SF_DIR)
           .toPandas().sort_values("decile").reset_index(drop=True))
    s = _scored()
    assert list(got.decile) == list(range(1, 11))
    assert got.n_rows.sum() == len(s)
    assert got.n_pos.sum() == s.y.sum()
    assert abs(got.cum_capture.iloc[-1] - 1.0) < 1e-9
    assert (got.cum_capture.diff().dropna() >= -1e-12).all()
    assert got.cum_lift.iloc[0] >= 1.0
    edges = np.round(np.quantile(s.score, np.arange(0.1, 0.95, 0.1),
                                 method="linear"), 6)
    # decile 1 = highest scores: invert the searchsorted index
    bins = 10 - np.searchsorted(edges, s.score.to_numpy(), side="right")
    want = s.assign(d=bins).groupby("d").y.sum()
    for r in got.itertuples():
        assert r.n_pos == want.get(r.decile, 0), r.decile


def test_quantile_normalize_matches_pandas(spark):
    """qnorm == tie-averaged rank / (n+1) from pandas; output is in
    (0,1), monotone in the feature, and distribution-free."""
    got = (QUERIES["quantile_normalize_feature"].fn(spark, SF_DIR)
           .toPandas().set_index("doc_id").sort_index())
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet") \
        .set_index("doc_id").sort_index()
    want = docs.n_chars.rank(method="average") / (len(docs) + 1)
    assert np.allclose(got.qnorm, np.round(want, 6), atol=1e-9)
    assert (got.qnorm > 0).all() and (got.qnorm < 1).all()
    srt = got.sort_values("n_chars")
    assert (srt.qnorm.diff().dropna() >= -1e-12).all()


def test_auc_single_class_outcome_yields_empty(spark):
    """With a one-class outcome AUC is undefined: the operator must
    return 0 rows (no divide-by-zero), matching what the oracle SQL
    produces for the same degenerate cut."""
    import covid_weather_etl_spark.operators.ranking as rk
    orig = rk.AUC_TOK_CUT
    try:
        rk.AUC_TOK_CUT = 10 ** 9          # nothing is "long"
        out = QUERIES["exact_auc_mann_whitney"].fn(spark, SF_DIR)
        assert out.count() == 0
    finally:
        rk.AUC_TOK_CUT = orig


def test_average_precision_matches_stepwise_definition(spark):
    """AP == sum over descending distinct thresholds of
    (recall step) x (precision at threshold) — the literal step-wise
    estimator sklearn's average_precision_score implements."""
    row = QUERIES["exact_average_precision"].fn(spark, SF_DIR).collect()[0]
    s = _scored()
    n_pos = int(s.y.sum())
    want = 0.0
    for thr in sorted(s.score.unique())[::-1]:
        at = s[s.score >= thr]
        pos_here = int(s[s.score == thr].y.sum())
        if pos_here == 0:
            continue
        precision = at.y.sum() / len(at)
        want += round(pos_here * at.y.sum() / (n_pos * len(at)), 9)
        assert 0.0 <= precision <= 1.0
    assert row.n_pos == n_pos
    assert abs(row.ap - round(want, 6)) < 1e-9, (row.ap, want)
    assert 0.0 < row.ap <= 1.0


def test_rbo_kernel_equals_loop_and_term_algebra_exhaustive(spark,
                                                           monkeypatch):
    """r12 RBO single-task collapse: (1) the kernel's StrictMath pow
    table matches F.pow bitwise (Spark 4 uses StrictMath; the HotSpot
    Math.pow intrinsic and C libm differ by 1 ulp at exponent 4);
    (2) the kernel's 9dp term snap (Decimal(repr(x)) = Double.toString
    semantics, HALF_UP) equals Spark's ROUND over EVERY reachable
    (o, d) pair — a data-independent exhaustive proof; (3) kernel ==
    distributed loop bitwise on the fixture corpus."""
    import math
    import struct
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    import covid_weather_etl_spark.operators.ranking as R
    from covid_weather_etl_spark.functions import driver

    sm = spark._jvm.java.lang.StrictMath
    powv = [sm.pow(R.RBO_P, float(e)) for e in range(R.RBO_DEPTH)]
    jv = (spark.range(0, R.RBO_DEPTH)
          .select(F.pow(F.lit(R.RBO_P), F.col("id")).alias("p"))
          .collect())
    assert all(struct.pack("d", r["p"]) == struct.pack("d", powv[i])
               for i, r in enumerate(jv))

    combos = [(d, o) for d in range(1, R.RBO_DEPTH + 1)
              for o in range(0, d + 1)]
    sterm = (spark.createDataFrame(combos, "d long, o long")
             .select("d", "o",
                     F.round((1.0 - R.RBO_P)
                             * F.pow(F.lit(R.RBO_P), F.col("d") - 1)
                             * F.col("o") / F.col("d"), 9)
                     .cast("decimal(25,9)").alias("t")).collect())
    q9 = Decimal("1e-9")
    for r in sterm:
        raw = (1.0 - R.RBO_P) * powv[r["d"] - 1] * float(r["o"]) \
            / float(r["d"])
        assert Decimal(repr(raw)).quantize(q9, ROUND_HALF_UP) == r["t"]

    single = bitrows(R.rank_biased_overlap(spark, SF_DIR))
    monkeypatch.setattr(driver, "FORCE_DISTRIBUTED", True)
    loop = bitrows(R.rank_biased_overlap(spark, SF_DIR))
    assert single == loop and len(single) == len(R.RBO_REPORT_DEPTHS)
