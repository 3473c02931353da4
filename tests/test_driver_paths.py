"""Every driver-side or single-task shortcut, run both ways.

Each shortcut is gated through `functions/driver.py`. For every gate
site, `test_gate` runs its query with the switch off (the shortcut's
kernel must run) and with `driver.FORCE_DISTRIBUTED` on (the kernel
must not run), and asserts both sides return the same non-empty rows
bit for bit.

`driver.local_frame`, the one way driver-side rows go back to Spark, must
store every schema shape the engine uses exactly as
`spark.createDataFrame(rows, schema)` does, as a `LocalRelation`; a lint
test keeps `createDataFrame` out of every other engine module.
"""

from __future__ import annotations

import importlib
import pathlib
import re

import pytest
from pyspark.sql import types as T

from covid_weather_etl_spark.functions import driver
from covid_weather_etl_spark.queries.registry import all_queries
from covid_weather_etl_spark.sources.catalog import load_tables
from tests.conftest import SF_DIR, bitrows

QUERIES = all_queries()

#: one row per gate site: (query, module holding the kernel, kernel,
#: fewest rows, most rows or None). `dedup_fold_batch` is the streaming
#: fold itself, run once over the corpus into a fresh state.
GATES = [
    ("isotonic_calibration", "operators.stats", "_iso_from_pts", 3, None),
    ("kaplan_meier_conversion", "operators.eventstats",
     "_km_from_day_tab", 2, None),
    ("nelson_aalen_hazard", "operators.eventstats",
     "_na_from_day_tab", 2, None),
    ("bradley_terry_strengths", "operators.eventstats",
     "_bt_single_task", 2, None),
    ("shapley_attribution", "operators.eventstats",
     "_shapley_from_cnt", 4, 4),
    ("holm_multiple_tests", "operators.drift", "_holm_from_rows", 2, None),
    ("bh_fdr_control", "operators.drift", "_bh_from_rows", 2, None),
    ("spearman_correlation", "operators.ranking",
     "_spearman_from_cells", 1, 1),
    ("weighted_median_price", "operators.ranking", "_wm_from_bands", 2, None),
    ("rank_biased_overlap", "operators.ranking", "_rbo_single_task", 3, 3),
    ("cluster_purity_nmi_eval", "operators.similarity",
     "_cpn_from_cells", 2, None),
    ("hll_audience_overlap", "operators.sketch_rollup",
     "_hll_est_driver", 1, 1),
    ("haar_wavelet_energy", "operators.timeseries",
     "_haar_single_task", 6, 6),
    ("dedup_clusters", "operators.corpus", "cc_single_task", 1, None),
    ("dedup_clusters_star", "operators.corpus", "cc_single_task", 1, None),
    ("incremental_dedup_clusters", "operators.corpus",
     "cc_single_task", 1, None),
    ("dedup_fold_batch", "operators.corpus", "cc_single_task", 1, None),
    ("shortest_path_hops", "operators.graph", "_bfs_single_task", 2, None),
    ("bellman_ford_costs", "operators.graph", "_bf_single_task", 2, None),
    ("kcore_purchase_network", "operators.graph",
     "_kcore_single_task", 1, None),
]


def _run(spark, query: str, state: str) -> list:
    if query == "dedup_fold_batch":
        from covid_weather_etl_spark.streaming import streams
        docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
        streams.dedup_fold_batch(docs.select("doc_id", "text"), 0, state)
        return bitrows(streams.read_dedup_fold_state(spark, state))
    return bitrows(QUERIES[query].fn(spark, SF_DIR))


@pytest.mark.parametrize("query, module, kernel, lo, hi", GATES,
                         ids=[g[0] for g in GATES])
def test_gate(spark, monkeypatch, tmp_path, query, module, kernel, lo, hi):
    mod = importlib.import_module(f"covid_weather_etl_spark.{module}")
    real, calls = getattr(mod, kernel), []

    def spy(*args, **kwargs):
        calls.append(kernel)
        return real(*args, **kwargs)

    monkeypatch.setattr(mod, kernel, spy)
    fast = _run(spark, query, str(tmp_path / "fast"))
    assert calls, f"{kernel} did not run with the switch off"
    calls.clear()
    monkeypatch.setattr(driver, "FORCE_DISTRIBUTED", True)
    dist = _run(spark, query, str(tmp_path / "dist"))
    assert not calls, f"{kernel} ran with FORCE_DISTRIBUTED on"
    assert fast == dist
    assert lo <= len(fast) and (hi is None or len(fast) <= hi)


@pytest.mark.parametrize("n", [4, 5, 6])
def test_bounded_collect_at_the_cap(spark, n):
    rows = driver.bounded_collect(spark.range(n), 5)
    if n <= 5:
        assert [r.id for r in rows] == list(range(n))
    else:
        assert rows is None
    assert driver.fits(n, 5) == (n <= 5)


def test_switch_forces_every_gate_off(spark, monkeypatch):
    monkeypatch.setattr(driver, "FORCE_DISTRIBUTED", True)
    assert driver.bounded_collect(spark.range(1), 5) is None
    assert not driver.fits(0, 5)


ENGINE = pathlib.Path(driver.__file__).resolve().parents[1]
#: a hand-rolled gate: `.limit(CAP + 1).collect()`, a `-1` sentinel
#: check on a module constant, or a module-level `_*_DRIVER` flag.
HAND_GATE = re.compile(
    r"\.limit\(\s*\w+\s*\+\s*1\s*\)\s*\.collect\(\)"
    r"|\bif\s+[A-Z][A-Z0-9_]*\s*>=\s*0\s*:"
    r"|^_\w*_DRIVER\s*=", re.M)


def test_no_gate_outside_driver_module():
    """Every driver/distributed choice goes through functions/driver.py."""
    own = pathlib.Path(driver.__file__).resolve()
    hand = [str(p.relative_to(ENGINE)) for p in ENGINE.rglob("*.py")
            if p.resolve() != own and HAND_GATE.search(p.read_text())]
    assert hand == []


#: every shape the engine hands `local_frame`: (schema, rows). A
#: `StructType`, NULLs, NaN, signed zeros and infinities, float32
#: rounding, arrays, longs past 2**31, non-ASCII text and no rows. The
#: first field is a distinct key, so `bitrows` sorts without comparing
#: a NULL.
NAN, INF = float("nan"), float("inf")
FRAMES = {
    "scalars": ("k int, i int, l bigint, d double, s string",
                [(0, 1, 2 ** 40, 0.5, "Zürich, 東京"),
                 (1, None, -2 ** 63, NAN, None),
                 (2, -2 ** 31, 2 ** 63 - 1, -0.0, ""),
                 (3, 0, 2 ** 31, INF, "x"),
                 (4, 2 ** 31 - 1, None, -INF, "ß")]),
    "float32": ("k int, f float, d double",
                [(0, 0.1, 0.1), (1, 1e39, 1e-46), (2, -0.0, NAN),
                 (3, NAN, -0.0), (4, 3.4028235e38, None), (5, 1e-46, 2.5),
                 (6, None, -INF), (7, -1e39, 0.0)]),
    "array": ("c_id int, cv array<double>",
              [(0, [1.0, -0.0, None, INF, 1e-300]), (1, []), (2, None)]),
    "empty": ("n_a bigint, n_b bigint, ks_stat double", []),
    "struct_type": (T.StructType([
        T.StructField("batch_ts", T.LongType(), False),
        T.StructField("source_file", T.StringType(), False),
        T.StructField("n_inserted", T.LongType(), False),
        T.StructField("rate", T.DoubleType(), True)]),
        [(1700000000, "weather_batch", 3, None),
         (1700000001, "covid_batch", 0, 1.5)]),
}


def _frame_case(spark, name: str):
    if name == "rows":
        # collected `Row`s handed back under their own schema, as
        # ml/queries.gbt_regressor_eval does
        df = spark.range(4).selectExpr(
            "count(*) AS n_test", "round(sum(id) / 3.0, 4) AS mae",
            "CAST(NULL AS double) AS r2")
        return df.collect(), df.schema
    schema, rows = FRAMES[name]
    return rows, schema


def _reprs(df) -> list:
    """Row reprs, sorted: catch -0.0 and NaN inside arrays too."""
    return sorted(repr(r) for r in df.collect())


@pytest.mark.parametrize("name", [*FRAMES, "rows"])
def test_local_frame_equals_create_dataframe(spark, name):
    rows, schema = _frame_case(spark, name)
    got = driver.local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert bitrows(got) == bitrows(want)
    assert _reprs(got) == _reprs(want)
    plan = got._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"


def test_no_create_dataframe_outside_driver_module():
    """Driver-side rows reach Spark only through `driver.local_frame`."""
    own = pathlib.Path(driver.__file__).resolve()
    raw = [str(p.relative_to(ENGINE)) for p in ENGINE.rglob("*.py")
           if p.resolve() != own and "createDataFrame(" in p.read_text()]
    assert raw == []
