"""The correctness spine: every registered query with an oracle must
match its DuckDB twin exactly (driver-style compare) at sf0.001.
"""

from __future__ import annotations

import pytest

from covid_weather_etl_spark.queries.registry import all_queries
from tests.conftest import SF_DIR, SF_DIR_MED, assert_parity

QUERIES = all_queries()
WITH_ORACLE = sorted(n for n, q in QUERIES.items() if q.oracle)


#: queries whose oracle reads the PERSISTED sf0.01 model artifact
#: (codebook parquet) — their static oracle SQL is only meaningful at
#: the driver's correctness SF, so parity runs there.
SF001 = SF_DIR_MED


@pytest.fixture(scope="session")
def duck01():
    import duckdb

    from covid_weather_etl_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF001}/{t}.parquet')")
    yield con
    con.close()


#: parity params whose single-query runtime dominates the module
#: (>= ~4 s at sf0.001) — excluded from the default run (see
#: pytest.ini addopts); `-m slow` / the close full run covers them.
SLOW_PARITY = {
    "rp_lsh_near_dup", "pca_top_component", "mmr_diverse_topk",
    "sarima_hr_forecast_eval", "zipf_law_fit",
    "bradley_terry_strengths", "ar_forecast_per_group",
    "ivf_rebalance_apply", "ridge_normal_equations",
    "holt_winters_forecast_eval", "irls_logreg_fit",
}


@pytest.mark.parametrize(
    "name",
    [pytest.param(n, marks=pytest.mark.slow) if n in SLOW_PARITY else n
     for n in WITH_ORACLE])
def test_query_matches_oracle(spark, duck, duck01, name):
    q = QUERIES[name]
    if "oracle-at-sf0.01" in q.tags:
        assert_parity(spark, duck01, q, sf_dir=SF001)
    else:
        assert_parity(spark, duck, q)


@pytest.mark.slow
def test_all_queries_return_rows(spark):
    # full registry sweep (337 s) — slow; the default run covers every
    # oracle-equipped query via test_query_matches_oracle (parity
    # executes the query), so the fast twin below only needs the
    # rows-only remainder.
    for name, q in QUERIES.items():
        df = q.fn(spark, SF_DIR)
        assert df.count() >= 0, name


def test_rows_only_queries_return_rows(spark):
    """Fast default-run coverage for the queries parity cannot touch
    (no oracle) — the oracle-equipped rest is executed by
    test_query_matches_oracle anyway."""
    for name, q in QUERIES.items():
        if q.oracle is None:
            df = q.fn(spark, SF_DIR)
            assert df.count() >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"n_name", "n_customers", "n_orders"} <= set(df.columns)


def test_parity_harness_detects_mismatches(spark, duck):
    """Canary for the gate itself: assert_parity must FAIL loudly on a
    deliberately corrupted oracle (off-by-one values, dropped rows,
    renamed columns) — otherwise a green sweep proves nothing."""
    import dataclasses

    import pytest as _pytest

    base = QUERIES["pricing_summary_q1"]

    wrong_vals = dataclasses.replace(
        base, oracle=f"SELECT * REPLACE (sum_qty + 1 AS sum_qty) "
                     f"FROM ({base.oracle})")
    with _pytest.raises(AssertionError):
        assert_parity(spark, duck, wrong_vals)

    fewer_rows = dataclasses.replace(
        base, oracle=f"SELECT * FROM ({base.oracle}) LIMIT 1")
    with _pytest.raises(AssertionError):
        assert_parity(spark, duck, fewer_rows)

    renamed = dataclasses.replace(
        base, oracle=f"SELECT * EXCLUDE (sum_qty), sum_qty AS qty_sum "
                     f"FROM ({base.oracle})")
    with _pytest.raises(AssertionError):
        assert_parity(spark, duck, renamed)


def test_decimal_cast_tie_hazard_canary(spark, duck):
    """Canary for PARITY.md §3b: proves the hazard is REAL on this
    engine pair — on exact .5 ties of the cast grid, Spark's
    double→DECIMAL rounds HALF_UP (repr-based BigDecimal) while
    DuckDB rounds half-EVEN, so `(2k+1)/2e6` values diverge for even
    k — and that the integer-accumulation / FLOOR(x·p + 0.5) form
    used by ar_forecast / holt_winters / time_weighted_average does
    not. If the naive assertion starts passing, the engines changed
    their cast paths and §3b can be revisited."""
    from pyspark.sql import functions as F

    # doubles sitting exactly ON the 1e-6 cast-rounding boundary
    vals = [(2 * k + 1) / 2e6
            for k in range(1_000_000_000_000, 1_000_000_000_040)]
    sdf = spark.createDataFrame([(v,) for v in vals], "y double")
    naive_s = [str(r[0]) for r in
               sdf.select(F.col("y").cast("decimal(38,6)")).collect()]
    exact_s = [r[0] for r in sdf.select(
        F.floor(F.col("y") * F.lit(1e6) + F.lit(0.5)).cast("decimal(38,0)")
    ).collect()]

    duck.execute("CREATE OR REPLACE TEMP TABLE canary_y(y DOUBLE)")
    duck.executemany("INSERT INTO canary_y VALUES (?)",
                     [(v,) for v in vals])
    rows = duck.execute(
        "SELECT CAST(y AS DECIMAL(38,6)), "
        "       CAST(CAST(FLOOR(y * 1e6 + 5e-1) AS BIGINT) "
        "            AS DECIMAL(38,0)) "
        "FROM canary_y ORDER BY y").fetchall()
    duck.execute("DROP TABLE canary_y")
    naive_d = [str(r[0]) for r in rows]
    exact_d = [r[1] for r in rows]

    assert [int(x) for x in exact_s] == [int(x) for x in exact_d]
    n_div = sum(1 for a, b in zip(sorted(naive_s), sorted(naive_d))
                if a.rstrip("0") != b.rstrip("0"))
    assert n_div > 0, (
        "the engines' double->DECIMAL cast paths now agree on .5 "
        "ties — revisit PARITY.md §3b")
