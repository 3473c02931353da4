"""Sketch-based operators: HLL++ estimates must track exact counts."""

from __future__ import annotations

import math

from covid_weather_etl_spark.queries.registry import all_queries
from tests.conftest import SF_DIR


def test_approx_distinct_gate_and_exact_side(spark, duck):
    """Bound-gate graduation (r7 verdict #4): every metric row must
    carry gate=1, and the exact side must equal DuckDB's exact counts.
    Additionally re-derive the raw HLL estimates here and pin the
    TIGHTER 1-rsd 5% tolerance the gate's 15% bound subsumes."""
    rows = {r.metric: r for r in
            all_queries()["approx_distinct_profile"].fn(spark, SF_DIR).collect()}
    exact = duck.execute("""
        SELECT count(*), count(DISTINCT user_id), count(DISTINCT event_type),
               count(DISTINCT event_id),
               count(DISTINCT user_id || '|' || event_type)
        FROM events""").fetchone()
    assert set(rows) == {"user_id", "event_type", "event_id",
                         "user_type_pair"}
    for metric, want in [("user_id", exact[1]), ("event_type", exact[2]),
                         ("event_id", exact[3]), ("user_type_pair", exact[4])]:
        r = rows[metric]
        assert r.n_rows == exact[0]
        assert r.exact_distinct == want, (metric, r.exact_distinct, want)
        assert r.within_bound == 1, metric
        assert r.rel_err_bound_pct == 15
    from covid_weather_etl_spark.sources.catalog import load_tables
    from pyspark.sql import functions as F
    e = load_tables(spark, SF_DIR, ("events",))["events"]
    est = e.agg(
        F.expr("approx_count_distinct(user_id)").alias("user_id"),
        F.expr("approx_count_distinct(event_type)").alias("event_type"),
        F.expr("approx_count_distinct(event_id)").alias("event_id"),
        F.expr("approx_count_distinct(concat(user_id, '|', event_type))")
         .alias("user_type_pair")).collect()[0]
    for metric, want in [("user_id", exact[1]), ("event_type", exact[2]),
                         ("event_id", exact[3]), ("user_type_pair", exact[4])]:
        got = getattr(est, metric)
        assert abs(got - want) <= max(1, 0.05 * want), (metric, got, want)


def test_approx_quantiles_within_rank_envelope(spark, duck):
    """Bound-gate graduation: gate=1 everywhere (the GK theorem), the
    envelope must bracket DuckDB's own discrete quantile, and envelope
    ranks must be exact order statistics."""
    rows = all_queries()["approx_quantile_profile"].fn(spark, SF_DIR).collect()
    assert rows and len(rows) == 3 * 4  # 3 returnflags x 4 quantiles
    for r in rows:
        assert r.within_envelope == 1, r
        assert r.env_lo <= r.env_hi, r
        q = duck.execute(
            """
            SELECT FLOOR(quantile_disc(l_extendedprice, ?) * 1e2 + 0.5) / 1e2
            FROM lineitem WHERE l_returnflag = ?
            """, [r.q_bp / 10000.0, r.flag]).fetchone()[0]
        assert r.env_lo <= float(q) <= r.env_hi, (r, q)


def test_count_min_never_undercounts_and_bounds_error(spark):
    """CMS guarantees est ≥ exact for every key (each cell sums a
    superset of the key's rows); with W=128 cells per row the expected
    overcount is ≤ N/W per row, and the min over D=4 rows should stay
    well inside a 4·N/W envelope on this keyspace."""
    rows = all_queries()["count_min_frequency"].fn(spark, SF_DIR).collect()
    assert rows
    n = sum(r.exact_cnt for r in rows)
    from covid_weather_etl_spark.operators.frequent import CMS_W
    for r in rows:
        assert r.overcount >= 0, r
        assert r.est_cnt == r.exact_cnt + r.overcount
        assert r.overcount <= max(4, 4 * n // CMS_W), r


def test_count_min_estimate_ranks_heavy_keys_first(spark):
    """The point of a frequency sketch: estimated ordering must put the
    genuinely heavy keys (top decile by exact count) in the top half by
    estimate — overcounts are additive noise ≤ N/W, far smaller than
    the exponential mass gaps between length-class buckets."""
    rows = all_queries()["count_min_frequency"].fn(spark, SF_DIR).collect()
    by_exact = sorted(rows, key=lambda r: -r.exact_cnt)
    by_est = sorted(rows, key=lambda r: -r.est_cnt)
    top_exact = {r.bucket for r in by_exact[:max(1, len(rows) // 10)]}
    top_est_half = {r.bucket for r in by_est[:len(rows) // 2]}
    assert top_exact <= top_est_half


def test_minhash_jaccard_estimate_within_envelope(spark, duck):
    """The MinHash estimate must equal a hashlib recomputation with
    the same md5 minima AND sit within 3 sigma of the exact Jaccard
    (sigma = sqrt(J(1-J)/K))."""
    import hashlib
    import math

    import pandas as pd

    from covid_weather_etl_spark.operators.frequent import MH_K
    row = all_queries()["minhash_jaccard_audit"].fn(spark, SF_DIR) \
        .collect()[0]
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    A = set(ev[ev.event_type == "click"].user_id)
    B = set(ev[ev.event_type == "purchase"].user_id)
    j_exact = len(A & B) / len(A | B)
    assert row.n_a == len(A) and row.n_b == len(B)
    assert abs(row.exact_jaccard - round(j_exact, 6)) < 1e-9

    def mh(i, s):
        return min(int(hashlib.md5(f"{i}:{u}".encode()).hexdigest()[:13],
                       16) for u in s)

    agree = sum(mh(i, A) == mh(i, B) for i in range(MH_K))
    assert abs(row.minhash_estimate - round(agree / MH_K, 6)) < 1e-9
    sigma = math.sqrt(max(j_exact * (1 - j_exact), 1e-9) / MH_K)
    assert row.abs_err <= 3 * sigma + 1e-6, (row.abs_err, sigma)


def test_hll_audience_overlap_planted(spark, tmp_path):
    """Planted partial overlap: signup users 0..999, purchase users
    500..1499 -> exact overlap 500, union 1500. The HLL inclusion-
    exclusion estimate must sit within the lg_k=12 envelope of truth
    (union error amplifies ~3x into the overlap; 5% of the union is a
    conservative bound for this geometry), and the exact columns are
    exact by construction."""
    import pandas as pd

    from covid_weather_etl_spark.queries.registry import all_queries

    rows = ([("signup", u) for u in range(1000)]
            + [("purchase", u) for u in range(500, 1500)])
    pdf = pd.DataFrame(rows, columns=["event_type", "user_id"])
    pdf["event_id"] = range(len(pdf))
    pdf["ts"] = pd.Timestamp("2024-01-01")
    pdf["value"] = 1.0
    pdf["props"] = "{}"
    (spark.createDataFrame(pdf)
     .write.parquet(f"{tmp_path}/events.parquet"))
    row = (all_queries()["hll_audience_overlap"]
           .fn(spark, str(tmp_path)).collect()[0])
    assert row["exact_signup"] == 1000
    assert row["exact_purchase"] == 1000
    assert row["exact_overlap"] == 500
    assert abs(row["approx_overlap"] - 500) <= 0.05 * 1500
    assert abs(row["approx_signup"] - 1000) <= 0.03 * 1000
    assert abs(row["approx_union"] - 1500) <= 0.03 * 1500
    # overlap_err is fround(overlap - exact); inputs sit on the 1e-6
    # grid so the identity holds to representation error
    assert math.isclose(row["overlap_err"],
                        row["approx_overlap"] - 500, abs_tol=1e-6)
    # the bitmap index computes the same intersection EXACTLY
    brow = (all_queries()["bitmap_audience_intersection"]
            .fn(spark, str(tmp_path)).collect()[0])
    assert (brow["n_signup"], brow["n_purchase"], brow["n_both"]) == \
        (1000, 1000, 500)
    assert brow["jaccard"] == round(500 / 1500, 6)


def _py_portable_hll(values) -> float:
    """Pure-python third implementation of the portable HLL
    (sketch_rollup.hll_register_cols + hll_estimate): md5-derived
    60-bit hash, p=12 registers, exact integer Z-sum, linear-counting
    fallback — independent of both Spark and DuckDB."""
    import hashlib

    from covid_weather_etl_spark.operators.sketch_rollup import (
        HLL_ALPHA, HLL_M, HLL_RBITS, _HLL_EMPTY, _HLL_MASK, _HLL_NUM,
    )
    regs: dict[int, int] = {}
    for v in values:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        b, r = h >> HLL_RBITS, h & _HLL_MASK
        rho = (HLL_RBITS + 1) - r.bit_length() if r else HLL_RBITS + 1
        regs[b] = max(regs.get(b, 0), rho)
    s_total = (sum(1 << (HLL_RBITS + 1 - mx) for mx in regs.values())
               + (HLL_M - len(regs)) * _HLL_EMPTY)
    e_raw = HLL_ALPHA * _HLL_NUM / float(s_total)
    v0 = HLL_M - len(regs)
    if e_raw <= 2.5 * HLL_M and v0 > 0:
        import math
        return float(HLL_M) * math.log(float(HLL_M) / v0)
    return e_raw


def test_portable_hll_matches_python_reference(spark):
    """Three-way pin: the Spark column-algebra estimate must equal the
    pure-python twin bit-for-bit on the integer register state (only
    the final ln may differ by libm ulps — compared at 1e-9 rel), on
    adversarial shapes: tiny sets (linear counting), dense sets, heavy
    duplicates, and values crossing the rho=49 edge structure."""
    import math

    from pyspark.sql import functions as F

    from covid_weather_etl_spark.operators.sketch_rollup import (
        hll_estimate, hll_register_cols,
    )

    cases = [
        list(range(5)),                                    # tiny
        list(range(2000)),                                 # dense
        [1, 1, 1, 2, 2, 3] * 50,                           # duplicates
        [10 ** 12 + i for i in range(300)],                # big ints
        list(range(50000, 50000 + 7000)),                  # > m values
    ]
    for vals in cases:
        df = spark.createDataFrame([(int(v),) for v in vals], "v long")
        bucket, rho = hll_register_cols(F.col("v"))
        regs = (df.select(bucket.alias("bucket"), rho.alias("rho"))
                .groupBy("bucket").agg(F.max("rho").alias("mx"))
                .withColumn("g", F.lit(1)))
        got = hll_estimate(regs, ["g"]).collect()[0]["hll_est"]
        want = _py_portable_hll(vals)
        assert math.isclose(got, want, rel_tol=1e-9), (len(vals), got, want)
        # estimate within the p=12 envelope of the true cardinality
        exact = len(set(vals))
        assert abs(got - exact) <= max(3.0, 0.05 * exact), (exact, got)


def test_quantile_sketch_error_within_bound(spark):
    """Every histogram-quantile estimate must sit within one bin width
    of the exact percentile (the analytic bound the query reports),
    the estimate must never UNDER-cover the rank (bin upper edge >=
    exact is not guaranteed after interpolation, but rank coverage
    is: cc*1000 >= q*n at the chosen bin), and a python recount of
    the histogram path must agree exactly."""
    import math

    import pandas as pd

    from covid_weather_etl_spark.operators.sketch_rollup import (
        QSK_BIN_CENTS, QSK_BINS, QSK_QS)
    from covid_weather_etl_spark.queries.registry import all_queries
    from tests.conftest import SF_DIR

    rows = (all_queries()["quantile_sketch_error_eval"]
            .fn(spark, SF_DIR).collect())
    assert len(rows) == 5 * len(QSK_QS)       # 5 priorities x 3 quantiles
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    # advice r7: the one-bin theorem requires the data to fit UNDER the
    # top-bin clamp — pin it (grid sized to the column's spec-max)
    assert (math.floor(orders.o_totalprice.max() * 1e2 + 0.5)
            < QSK_BIN_CENTS * QSK_BINS), "o_totalprice exceeds QSK clamp"
    for r in rows:
        assert 0 <= r["abs_err"] < r["err_bound"], r
        # python histogram replay
        g = orders[orders.o_orderpriority == r["pri"]].o_totalprice
        cents = [math.floor(x * 1e2 + 0.5) for x in g]
        bins = sorted(min(c // QSK_BIN_CENTS, QSK_BINS - 1) for c in cents)
        n = len(bins)
        k = r["q_permille"]
        cc = 0
        from collections import Counter
        hist = Counter(bins)
        for b in sorted(hist):
            cc += hist[b]
            if cc * 1000 >= k * n:
                qbin = b
                break
        assert r["n"] == n
        assert r["est_price"] == ((qbin + 1) * QSK_BIN_CENTS - 1) / 1e2
        # exact order statistic at the ceiling rank
        xc = sorted(cents)[(k * n + 999) // 1000 - 1]
        assert r["exact_price"] == xc / 1e2
