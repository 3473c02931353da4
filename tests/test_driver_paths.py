"""Every driver-side or single-task shortcut, run both ways.

Each shortcut is gated through `functions/driver.py`. For every gate
site, `test_gate` runs its query with the switch off (the shortcut's
kernel must run) and with `driver.FORCE_DISTRIBUTED` on (the kernel
must not run), and asserts both sides return the same non-empty rows
bit for bit.
"""

from __future__ import annotations

import importlib
import pathlib
import re

import pytest

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
