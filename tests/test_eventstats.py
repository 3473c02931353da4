"""Semantic pins for cohort_retention and funnel_conversion
(operators/eventstats.py): retention triangle invariants, and the
strict ordering of the funnel verified against both an independent
per-user recomputation and a crafted out-of-order stream.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from covid_weather_etl_spark.queries.registry import all_queries

SF_DIR = "/root/testdata/sf0.001"
QUERIES = all_queries()


def test_retention_triangle_invariants(spark):
    df = QUERIES["cohort_retention"].fn(spark, SF_DIR).cache()
    try:
        rows = df.collect()
        assert rows
        # day-0 retention is exactly 1.0 for every cohort (first-seen
        # day is by definition an active day)
        day0 = {r["cohort_day"]: r["retention"] for r in rows
                if r["day_offset"] == 0}
        sizes = {r["cohort_day"]: r["cohort_size"] for r in rows}
        assert day0 and all(v == 1.0 for v in day0.values())
        assert set(day0) == set(sizes)       # every cohort has a day-0 row
        for r in rows:
            assert r["day_offset"] >= 0
            assert 0 < r["n_active"] <= r["cohort_size"]
            assert 0 < r["retention"] <= 1.0
        # cohort sizes sum to the distinct-user count
        n_users = (spark.read.parquet(f"{SF_DIR}/events.parquet")
                   .select("user_id").distinct().count())
        assert sum({r["cohort_day"]: r["cohort_size"]
                    for r in rows}.values()) == n_users
    finally:
        df.unpersist()


def test_funnel_matches_per_user_recomputation(spark):
    got = {r["stage"]: r for r in
           QUERIES["funnel_conversion"].fn(spark, SF_DIR).collect()}
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    n_view = n_click = n_purchase = 0
    for _, g in ev.groupby("user_id"):
        views = g[g.event_type == "view"]
        if views.empty:
            continue
        n_view += 1
        tv = views.ts.min()
        clicks = g[(g.event_type == "click") & (g.ts > tv)]
        if clicks.empty:
            continue
        n_click += 1
        tc = clicks.ts.min()
        if ((g.event_type == "purchase") & (g.ts > tc)).any():
            n_purchase += 1
    assert got["view"]["n_users"] == n_view
    assert got["view>click"]["n_users"] == n_click
    assert got["view>click>purchase"]["n_users"] == n_purchase
    assert got["view"]["conversion"] == 1.0


def test_funnel_is_strictly_ordered(spark, tmp_path):
    """A user whose purchase precedes their click must NOT convert:
    unordered co-occurrence would count them, min-chaining must not."""
    rows = [
        # u1: proper order  view < click < purchase  -> converts
        (1, "2024-01-01 10:00:00", 1, "view", 0.0, "{}"),
        (2, "2024-01-01 11:00:00", 1, "click", 0.0, "{}"),
        (3, "2024-01-01 12:00:00", 1, "purchase", 0.0, "{}"),
        # u2: purchase BEFORE click                  -> stops at click
        (4, "2024-01-02 10:00:00", 2, "view", 0.0, "{}"),
        (5, "2024-01-02 12:00:00", 2, "click", 0.0, "{}"),
        (6, "2024-01-02 11:00:00", 2, "purchase", 0.0, "{}"),
        # u3: click BEFORE view                      -> stops at view
        (7, "2024-01-03 09:00:00", 3, "click", 0.0, "{}"),
        (8, "2024-01-03 10:00:00", 3, "view", 0.0, "{}"),
    ]
    d = tmp_path / "sfe"
    d.mkdir()
    (spark.createDataFrame(
        rows, schema="event_id long, ts string, user_id long, "
                     "event_type string, value double, props string")
     .withColumn("ts", F.col("ts").cast("timestamp"))
     .coalesce(1).write.parquet(str(d / "events.parquet")))
    got = {r["stage"]: r["n_users"] for r in
           QUERIES["funnel_conversion"].fn(spark, str(d)).collect()}
    assert got == {"view": 3, "view>click": 2, "view>click>purchase": 1}


def test_kaplan_meier_matches_pure_python(spark):
    """KM curve against a from-scratch product-limit estimator over
    the same cohort, durations recomputed in raw microseconds."""
    got = (QUERIES["kaplan_meier_conversion"].fn(spark, SF_DIR)
           .toPandas().sort_values("day").reset_index(drop=True))
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    # normalize to integer MICROseconds regardless of the unit pandas
    # picked for the TIMESTAMP(NANOS) column
    ns = ev.assign(us=ev.ts.astype("datetime64[us]").astype("int64"))
    su = (ns[ns.event_type == "signup"].groupby("user_id").us.min()
          .rename("s"))
    pu = ns[ns.event_type == "purchase"].merge(su, on="user_id")
    pu = pu[pu.us >= pu.s].groupby("user_id").us.min().rename("p")
    end = ns.us.max()
    obs = pd.concat([su, pu], axis=1)
    day = ((obs.p.fillna(end) - obs.s) // 86_400_000_000).astype(int)
    is_event = obs.p.notna()
    # product-limit over the day grid
    days = sorted(day.unique())
    n_at_risk, surv, out = len(obs), 1.0, {}
    for t in days:
        d = int(((day == t) & is_event).sum())
        c = int(((day == t) & ~is_event).sum())
        s_prev = surv
        if d:
            surv = 0.0 if d >= n_at_risk else s_prev * (1 - d / n_at_risk)
        out[t] = (n_at_risk, d, c, surv)
        n_at_risk -= d + c
    assert list(got.day) == days
    for r in got.itertuples():
        n, d, c, s = out[r.day]
        assert (r.n_at_risk, r.n_events, r.n_censored) == (n, d, c)
        assert abs(r.survival - s) < 1e-5, (r.day, r.survival, s)
    # survival is monotone non-increasing and starts ≤ 1
    assert (got.survival.diff().dropna() <= 1e-12).all()
    assert got.survival.iloc[0] <= 1.0


def test_markov_attribution_matches_numpy_chain(spark, tmp_path):
    """Planted journeys with known structure: the engine's removal
    effects must equal a pandas+numpy recomputation of the absorbing
    chain, and a channel that never leads anywhere near purchase must
    attract ~zero attribution."""
    import numpy as np
    import pandas as pd

    from covid_weather_etl_spark.operators.eventstats import (
        MARKOV_CHANNELS)
    from covid_weather_etl_spark.queries.registry import all_queries

    # 30 converting users via view->click->purchase, 10 via
    # signup->purchase, 20 lost after view->error, 10 lost after error
    journeys = ([["view", "click", "purchase"]] * 30
                + [["signup", "purchase"]] * 10
                + [["view", "error"]] * 20
                + [["error"]] * 10)
    rows = []
    eid = 0
    for u, j in enumerate(journeys):
        for k, et in enumerate(j):
            rows.append((eid, pd.Timestamp("2024-01-01")
                         + pd.Timedelta(minutes=10 * k), u, et, 1.0, "{}"))
            eid += 1
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                      "event_type", "value", "props"])
    spark.createDataFrame(pdf).write.parquet(f"{tmp_path}/events.parquet")
    got = {r["channel"]: r for r in
           all_queries()["markov_attribution"]
           .fn(spark, str(tmp_path)).collect()}

    states = ["START", *MARKOV_CHANNELS]
    idx = {s: i for i, s in enumerate(states)}
    counts = np.zeros((len(states), len(states) + 2))
    for j in journeys:
        seq = ["START"] + j
        for a, b in zip(seq, seq[1:]):
            col = (idx[b] if b in idx
                   else len(states) + (0 if b == "purchase" else 1))
            counts[idx[a], col] += 1
        if j[-1] != "purchase":
            counts[idx[j[-1]], len(states) + 1] += 1

    def conv(removed=None):
        c = counts.copy()
        if removed is not None:
            k = idx[removed]
            c[:, len(states) + 1] += c[:, k]
            c[:, k] = 0
            c[k, :] = 0
        tot = c.sum(axis=1, keepdims=True)
        live = tot[:, 0] > 0
        P = np.divide(c, tot, out=np.zeros_like(c), where=tot > 0)
        Q, b = P[:, :len(states)], P[:, len(states)]
        sol = np.zeros(len(states))
        sol[live] = np.linalg.solve(
            np.eye(int(live.sum())) - Q[np.ix_(live, live)], b[live])
        return float(sol[idx["START"]])

    p_all = conv()
    eff = {ch: max(0.0, 1.0 - conv(ch) / p_all) for ch in MARKOV_CHANNELS}
    tot = sum(eff.values())
    # the engine solves via Cramer on a 9dp floor-round grid; this
    # INDEPENDENT recomputation solves via LAPACK LU — agree to one
    # grid step (the two direct solves differ only in last-ulp noise)
    for ch in MARKOV_CHANNELS:
        assert abs(got[ch]["p_conversion"] - p_all) <= 1e-9
        assert abs(got[ch]["removal_effect"] - eff[ch]) <= 1e-9
        assert abs(got[ch]["attribution"] - eff[ch] / tot) <= 1e-9
    # error never precedes purchase in any journey -> no removal effect
    assert got["error"]["removal_effect"] == 0.0
    # click carries all 30 of the main converting path's conversions
    assert got["click"]["attribution"] > got["signup"]["attribution"]


def test_session_stats_agrees_with_native_session_window(spark, tmp_path):
    """Two independent sessionizers — session_stats (lag/cumsum window
    algebra, new session at gap > 30min) and session_windows (Spark's
    native session_window expression, new session at gap >= 30min) —
    must agree on real data AND at the exact-30-minute boundary:
    Spark's session_window merge condition is inclusive (an event at
    prev + gap still merges), pinned here with a planted boundary gap
    — the detail the session_windows oracle must mirror with a STRICT
    `> gap` new-session test."""
    import pandas as pd

    from covid_weather_etl_spark.queries.registry import all_queries

    QUERIES = all_queries()
    from tests.conftest import SF_DIR
    stats = (QUERIES["session_stats"].fn(spark, SF_DIR)
             .select("user_id", "session_start", "n_events"))
    native = (QUERIES["session_windows"].fn(spark, SF_DIR)
              .select("user_id", F.col("s_start").alias("session_start"),
                      "n_events"))
    a = {tuple(r) for r in stats.collect()}
    b = {tuple(r) for r in native.collect()}
    assert a == b, (len(a), len(b), list(a ^ b)[:4])

    # planted exact-30min gap: BOTH sessionizers merge (inclusive)
    pdf = pd.DataFrame({
        "event_id": [0, 1], "user_id": [1, 1],
        "ts": [pd.Timestamp("2024-01-01 00:00:00"),
               pd.Timestamp("2024-01-01 00:30:00")],
        "event_type": ["view", "click"], "value": [1.0, 1.0],
        "props": ["{}", "{}"],
    })
    spark.createDataFrame(pdf).write.parquet(f"{tmp_path}/events.parquet")
    n_stats = QUERIES["session_stats"].fn(spark, str(tmp_path)).count()
    n_native = QUERIES["session_windows"].fn(spark, str(tmp_path)).count()
    assert n_stats == 1 and n_native == 1
