"""Physical-plan assertions — the properties that make plans survive a
100 TB scale-up, pinned as tests: no global (unpartitioned) windows
anywhere in the registry, dimension joins broadcast, filters reach the
parquet scan, projections prune the read schema, and no query leaves a
cached plan behind.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from covid_weather_etl_spark.plans import inspect as I
from covid_weather_etl_spark.queries.registry import all_queries
from tests.conftest import SF_DIR

QUERIES = all_queries()


#: fast-run canary subset for the zero-global-windows bar — the full
#: registry sweep below is `slow` (350 plan builds ≈ minutes) and runs
#: at close; this sample keeps a default-run tripwire on the operator
#: families most likely to regress (windows, ranking, iterative).
_GW_CANARY = [
    "pricing_summary_q1", "session_windows", "rolling_median_revenue",
    "topk_orders_per_customer", "pagerank_suppliers", "dedup_keep_longest",
    "mad_anomaly_report", "compaction_plan", "epoch_shuffle_plan",
    "decile_rank_customers", "range_frame_revenue", "scd2_dim_history",
    "corpus_curation_funnel", "curation_pipeline_run", "sq8_recall_eval",
    "kaplan_meier_conversion", "spearman_correlation", "session_stats",
    "sarima_hr_forecast_eval", "weighted_median_price",
]


@pytest.mark.parametrize("name", _GW_CANARY)
def test_no_global_windows_canary(spark, name):
    df = QUERIES[name].fn(spark, SF_DIR)
    assert I.global_window_count(df) == 0, I.physical_plan(df)


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_global_windows(spark, name):
    """A window without partition columns funnels every row through one
    task — fatal at scale. Zero tolerance across the whole registry."""
    df = QUERIES[name].fn(spark, SF_DIR)
    assert I.global_window_count(df) == 0, I.physical_plan(df)


@pytest.mark.parametrize("name", [
    "pipeline_status", "join_chain_4way_revenue", "ols_trend_per_group",
    "seasonal_decompose", "cosine_topk",
])
def test_dim_joins_broadcast(spark, name):
    """Dimension-table joins must be broadcast-hash, never shuffled."""
    df = QUERIES[name].fn(spark, SF_DIR)
    assert I.broadcast_join_count(df) >= 1, I.physical_plan(df)


def test_filter_pushdown_reaches_scan(spark):
    df = (spark.read.parquet(f"{SF_DIR}/orders.parquet")
          .filter(F.col("o_totalprice") > 1000.0)
          .select("o_orderkey"))
    assert I.has_pushed_filters(df)


def test_column_pruning_reaches_scan(spark):
    df = (spark.read.parquet(f"{SF_DIR}/orders.parquet")
          .select("o_orderkey", "o_totalprice"))
    cols = I.scan_read_columns(df)
    assert cols and all(set(c) <= {"o_orderkey", "o_totalprice"}
                        for c in cols), cols


def test_flagship_query_stays_pruned(spark):
    """pipeline_status must not read full rows of orders/lineitem."""
    df = QUERIES["pipeline_status"].fn(spark, SF_DIR)
    for cols in I.scan_read_columns(df):
        assert len(cols) <= 6, cols


def test_whole_stage_codegen_present(spark):
    df = QUERIES["join_chain_4way_revenue"].fn(spark, SF_DIR)
    assert I.codegen_stage_count(df) >= 1


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """The at-scale gold layout partitions by the dominant filter
    column (SCALE.md §1); a filter on it must become a PartitionFilter
    (directories skipped at planning time), not a row filter."""
    from covid_weather_etl_spark.sources.catalog import load_tables
    path = str(tmp_path / "part_events")
    (load_tables(spark, SF_DIR, ("events",))["events"]
     .write.partitionBy("event_type").parquet(path))
    df = (spark.read.parquet(path)
          .filter(F.col("event_type") == "purchase")
          .select("event_id"))
    plan = I.physical_plan(df)
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan
    n_purchase = df.count()
    total = spark.read.parquet(path).count()
    assert 0 < n_purchase < total


@pytest.mark.parametrize("name,max_shuffles", [
    ("minhash_near_dup", 5),       # spread repartitions + final sort only
    ("embedding_near_dup", 2),     # block-pair shuffle (+AQE coalesce slack)
    ("hash_stratified_sample", 0), # pure narrow map
    ("salted_join_revenue", 3),    # both salted sides + final agg
])
def test_shuffle_budgets_hold(spark, name, max_shuffles):
    """Regression pins for the audited shuffle counts of the scale-path
    operators — a refactor that silently doubles exchanges fails here,
    not at 100 TB."""
    df = QUERIES[name].fn(spark, SF_DIR)
    assert I.count_shuffles(df) <= max_shuffles, I.physical_plan(df)


def test_q6_predicates_and_pruning_reach_scan(spark):
    """forecast_revenue_change is the pushdown litmus: all three
    predicates AND the 4-column projection must reach the parquet
    scan, and the plan must contain no join and exactly one shuffle
    (the single-row final aggregate exchange)."""
    df = QUERIES["forecast_revenue_change"].fn(spark, SF_DIR)
    assert I.has_pushed_filters(df), I.physical_plan(df)
    cols = I.scan_read_columns(df)
    assert cols and all(len(c) <= 4 for c in cols), cols
    plan = I.physical_plan(df)
    assert "Join" not in plan, plan
    assert I.count_shuffles(df) <= 1, plan


def test_q19_dim_prune_feeds_broadcast(spark):
    """disjunctive_brand_revenue must broadcast the PRUNED part dim
    (never shuffle the fact for the join) and push the fact-only
    quantity bound into the lineitem scan."""
    df = QUERIES["disjunctive_brand_revenue"].fn(spark, SF_DIR)
    assert I.broadcast_join_count(df) >= 1, I.physical_plan(df)
    assert I.has_pushed_filters(df), I.physical_plan(df)


def test_incremental_ingest_has_no_cartesian(spark):
    """The band self-join must be an equi-join on (band, key) — any
    CartesianProduct/BroadcastNestedLoop here means the LSH bucketing
    failed to become the join key."""
    df = QUERIES["incremental_minhash_ingest"].fn(spark, SF_DIR)
    plan = I.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bigram_score_leaves_no_cache(spark):
    """A query's returned plan must not pin a cache entry: the caller
    has nothing to unpersist. bigram_logprob_score reads its bigram
    vocabulary twice through a local checkpoint instead."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    QUERIES["bigram_logprob_score"].fn(spark, SF_DIR).collect()
    assert cache.isEmpty()


#: a .cache() whose frame another function unpersists says who, on its
#: line or the line above
_HANDED_OFF = "unpersisted by"


def _owned(fn):
    """The nodes of a function body, without those of nested defs."""
    stack = list(fn.body)
    while stack:
        node = stack.pop()
        yield node
        stack += [c for c in ast.iter_child_nodes(node)
                  if not isinstance(c, (ast.FunctionDef, ast.Lambda,
                                        ast.AsyncFunctionDef))]


def _unpaired_caches(root: pathlib.Path) -> list[str]:
    """Every ``.cache()`` in a function with no ``unpersist``."""
    hits = []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        lines = src.split("\n")
        for fn in ast.walk(ast.parse(src)):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            nodes = list(_owned(fn))
            if any(isinstance(n, ast.Attribute) and n.attr == "unpersist"
                   for n in nodes):
                continue
            for n in nodes:
                if (isinstance(n, ast.Call)
                        and isinstance(n.func, ast.Attribute)
                        and n.func.attr == "cache"):
                    ln = n.func.end_lineno
                    if _HANDED_OFF not in "\n".join(lines[ln - 2:ln]):
                        hits.append(f"{path.relative_to(root)}:{ln}")
    return hits


def test_every_engine_cache_is_unpersisted():
    import covid_weather_etl_spark
    root = pathlib.Path(covid_weather_etl_spark.__file__).parent
    assert _unpaired_caches(root) == []


@pytest.mark.parametrize("src, flagged", [
    ("def f(df):\n    return df.cache()", True),
    ("def f(df):\n    c = df.cache()\n    n = c.count()\n    return n", True),
    ("def f(df):\n    c = df.cache()\n    n = c.count()\n"
     "    c.unpersist()\n    return n", False),
    ("def f(df):\n    # unpersisted by g\n    return df.cache()", False),
    ("def f(df):\n    def g():\n        return df.cache()\n"
     "    df.unpersist()\n    return g", True),
    ("def f(df):\n    return df.localCheckpoint(eager=False)", False),
])
def test_unpaired_cache_lint_shapes(tmp_path, src, flagged):
    (tmp_path / "mod.py").write_text(src + "\n")
    assert bool(_unpaired_caches(tmp_path)) is flagged
