"""Semantic pins for the drift/dependence pack: the statistics must be
the right numbers, not just engine/oracle-consistent (that part is
covered by test_oracle_parity)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from covid_weather_etl_spark.operators.drift import (
    KS_A, KS_B, MI_PRICE_CUT, PSI_CUTOFF,
)
from covid_weather_etl_spark.queries.registry import all_queries
from tests.conftest import SF_DIR

QUERIES = all_queries()


def test_psi_terms_sum_matches_numpy(spark):
    """Independent numpy recomputation of total PSI from raw orders."""
    rows = QUERIES["psi_drift_report"].fn(spark, SF_DIR).toPandas()
    od = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    ref = od[od.o_orderdate < pd.Timestamp(PSI_CUTOFF)].o_totalprice.to_numpy()
    cur = od[od.o_orderdate >= pd.Timestamp(PSI_CUTOFF)].o_totalprice.to_numpy()
    edges = np.round(np.quantile(ref, np.arange(0.1, 0.95, 0.1),
                                 method="linear"), 6)
    rb = np.searchsorted(edges, ref, side="right")
    cb = np.searchsorted(edges, cur, side="right")
    want = 0.0
    for b in range(10):
        p = (rb == b).sum() / len(ref)
        q = (cb == b).sum() / len(cur)
        if p > 0 and q > 0:
            want += (q - p) * math.log(q / p)
    got = rows.psi_term.sum()
    assert abs(got - want) < 1e-4, (got, want)
    # deciles of the reference population: every bin ~10% on ref side
    assert (rows.ref_pct > 0.05).all() and (rows.ref_pct < 0.15).all()
    assert len(rows) == 10


def test_ks_matches_numpy_ecdf(spark):
    """KS distance against a brute-force numpy ECDF sweep."""
    row = QUERIES["ks_two_sample"].fn(spark, SF_DIR).collect()[0]
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    a = np.sort(ev[ev.event_type == KS_A].value.dropna().to_numpy())
    b = np.sort(ev[ev.event_type == KS_B].value.dropna().to_numpy())
    pooled = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(a, pooled, side="right") / len(a)
    fb = np.searchsorted(b, pooled, side="right") / len(b)
    want = np.abs(fa - fb).max()
    assert row.n_a == len(a) and row.n_b == len(b)
    assert abs(row.ks_stat - round(want, 6)) < 1e-9, (row.ks_stat, want)
    assert 0.0 <= row.ks_stat <= 1.0


def test_ks_identical_samples_is_zero(spark):
    """KS of a distribution against itself must be exactly 0 — pin the
    tie-handling (cumulative THROUGH each distinct value) by running
    the same blocked-ECDF plan with both sides = the '{a}' sample."""
    import covid_weather_etl_spark.operators.drift as drift_mod
    orig_b = drift_mod.KS_B
    try:
        drift_mod.KS_B = drift_mod.KS_A
        row = QUERIES["ks_two_sample"].fn(spark, SF_DIR).collect()[0]
        assert row.ks_stat == 0.0, row
    finally:
        drift_mod.KS_B = orig_b


def test_mutual_information_matches_sklearn_free_numpy(spark):
    """MI total from the contingency table, recomputed independently;
    also MI >= 0 and cells partition the joined row count."""
    rows = QUERIES["mutual_information_features"].fn(spark, SF_DIR).toPandas()
    od = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    cu = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    j = od.merge(cu, left_on="o_custkey", right_on="c_custkey")
    x = j.c_mktsegment.to_numpy()
    y = (j.o_totalprice > MI_PRICE_CUT).astype(int).to_numpy()
    n = len(j)
    want = 0.0
    for seg in np.unique(x):
        for lab in (0, 1):
            nxy = ((x == seg) & (y == lab)).sum()
            if nxy:
                want += (nxy / n) * math.log(
                    nxy * n / (((x == seg).sum()) * ((y == lab).sum())))
    got = rows.mi_term.sum()
    assert abs(got - want) < 1e-6, (got, want)
    assert rows.n_xy.sum() == n
    assert got >= -1e-12


def test_mutual_information_independent_label_is_zero(spark, duck):
    """Sanity anchor: MI against a CONSTANT label is exactly 0 — the
    formula's log term collapses to ln(1). Verified via the oracle SQL
    with the threshold moved below the price floor."""
    q = QUERIES["mutual_information_features"]
    sql = q.oracle.replace(str(MI_PRICE_CUT), "0.0")
    out = duck.execute(sql).fetchdf()
    assert (out.label == 1).all()
    assert np.allclose(out.mi_term, 0.0)


def test_welch_ttest_matches_numpy(spark):
    """t statistic and Welch–Satterthwaite df against raw numpy."""
    row = QUERIES["welch_ttest_ab"].fn(spark, SF_DIR).collect()[0]
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    a = ev[ev.event_type == KS_A].value.dropna().to_numpy()
    b = ev[ev.event_type == KS_B].value.dropna().to_numpy()
    va, vb = a.var(ddof=1), b.var(ddof=1)
    se2 = va / len(a) + vb / len(b)
    t = (a.mean() - b.mean()) / math.sqrt(se2)
    df = se2 ** 2 / ((va / len(a)) ** 2 / (len(a) - 1)
                     + (vb / len(b)) ** 2 / (len(b) - 1))
    assert row.n_a == len(a) and row.n_b == len(b)
    assert abs(row.mean_a - a.mean()) < 1e-6
    assert abs(row.t_stat - t) < 1e-4, (row.t_stat, t)
    assert abs(row.welch_df - df) < 1e-2, (row.welch_df, df)
    assert min(len(a), len(b)) - 1 <= row.welch_df <= len(a) + len(b) - 2


def test_ks_empty_sample_returns_empty_frame(spark):
    """Degenerate input guard: with both samples filtered to nothing
    the operator returns a 0-row frame with the contract schema
    instead of crashing on the collected range scalars."""
    import covid_weather_etl_spark.operators.drift as dm
    orig = (dm.KS_A, dm.KS_B)
    try:
        dm.KS_A = dm.KS_B = "no_such_type"
        out = QUERIES["ks_two_sample"].fn(spark, SF_DIR)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == \
            ["n_a", "n_b", "ks_stat"]
    finally:
        dm.KS_A, dm.KS_B = orig


def test_feature_ranking_mi_values_and_rank_contract(spark):
    """Each feature's MI must equal an independent numpy recount, and
    mi_rank must be the dense ordering by (mi desc, feature)."""
    rows = (QUERIES["feature_relevance_ranking"].fn(spark, SF_DIR)
            .toPandas().set_index("feature"))
    od = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    cu = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    j = od.merge(cu, left_on="o_custkey", right_on="c_custkey")
    y = (j.o_totalprice > MI_PRICE_CUT).astype(int)
    feats = {
        "segment": j.c_mktsegment,
        "priority": j.o_orderpriority,
        "nation_key": j.c_nationkey.astype(str),
        "order_month": j.o_orderdate.dt.month.astype(str),
    }
    n = len(j)
    for name, x in feats.items():
        want = 0.0
        for xv in x.unique():
            for lab in (0, 1):
                nxy = int(((x == xv) & (y == lab)).sum())
                if nxy:
                    want += (nxy / n) * math.log(
                        nxy * n / (int((x == xv).sum())
                                   * int((y == lab).sum())))
        got = rows.loc[name]
        assert abs(got.mi_nats - want) < 1e-5, (name, got.mi_nats, want)
        assert got.n_levels == x.nunique()
    order = rows.sort_values(["mi_nats", "feature"],
                             ascending=[False, True])
    assert list(order.mi_rank) == [1, 2, 3, 4]
