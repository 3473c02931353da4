"""Central query registry — the engine's public query surface.

Every operator implemented from SURVEY.md §2 is exposed as a named query:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus, where the
semantics are ANSI-SQL-expressible, a DuckDB oracle SQL string over the
same parquet tables. The driver compares the two at sf0.01
(row-count + schema + order-insensitive value hash), so:

- every computed column is aliased identically on both sides;
- aggregate output types are pinned (BIGINT for counts / integer sums,
  DOUBLE for real math) because DuckDB widens integer SUM to HUGEINT;
- floating aggregates whose bit-pattern depends on accumulation order
  (stddev, interpolated percentiles, windowed means) are rounded to a
  fixed scale on BOTH sides; sums over 2-decimal money columns instead
  go through exact DECIMAL accumulation (see ``functions.numeric``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    # str, or a zero-arg callable returning str for oracles whose text
    # depends on mutable external state (persisted-artifact paths keyed
    # by corpus content fingerprint) — resolved at every all_queries()
    # call, i.e. at CHECK time, never frozen at import (advice r6)
    oracle: Optional["str | Callable[[], str]"]
    survey: str = ""          # SURVEY.md §2 operator ids this query covers
    doc: str = ""
    bench: bool = False       # include in bench.py headline set
    tags: tuple[str, ...] = field(default=())


_REGISTRY: dict[str, Query] = {}
_LOADED = False


def register(name: str, oracle: "Optional[str | Callable[[], str]]" = None,
             survey: str = "", bench: bool = False,
             tags: tuple[str, ...] = ()):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` as a named
    query. ``oracle`` may be SQL text or a zero-arg callable returning
    it (resolved at every all_queries() call — see Query.oracle)."""
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, survey=survey,
                                doc=(fn.__doc__ or "").strip(), bench=bench, tags=tags)
        return fn
    return deco


def _load_modules() -> None:
    """Import every operator module for its registration side effects."""
    global _LOADED
    if _LOADED:
        return
    from covid_weather_etl_spark.operators import (  # noqa: F401
        bucketing, corpus, dashboard, decision_support, dedup, dq, drift,
        eventstats, frequent, graph, minhash, multimodal, pq, quality,
        ranking, relational, relational_ext, scd, semdedup, similarity,
        sketch_rollup, stats, temporal, text, timeseries, tpch_shapes,
        warehouse, windows,
    )
    from covid_weather_etl_spark.etl import queries as etl_queries  # noqa: F401
    from covid_weather_etl_spark.ml import queries as ml_queries    # noqa: F401
    from covid_weather_etl_spark.streaming import streams           # noqa: F401
    _LOADED = True


# The correctness check evaluates the first 50 queries of
# all_queries()'s dict order, so the dict leads with the queries that
# most need a fresh correctness row; every other registered query
# follows in registration order. Every window slot is oracle-equipped
# (pinned by tests/test_registry_contract.py).
_CHECK_WINDOW = (
    "weighted_median_price", "weighted_sample_topk", "welch_ttest_ab",
    "woe_iv_binning", "zipf_law_fit",
    "basket_affinity", "bitmap_audience_intersection",
    "cheapest_supplier_per_part", "compaction_plan",
    "conformal_forecast_intervals", "containment_near_dup",
    "cuped_adjusted_metric", "did_revenue_uplift",
    "disjunctive_brand_revenue", "distributed_exact_median",
    "dp_noisy_counts", "exact_substring_spans",
    "forecast_revenue_change", "holt_winters_forecast_eval",
    "incremental_minhash_ingest", "ips_offpolicy_eval",
    "k_anonymity_report", "kcore_purchase_network",
    "large_volume_customers", "late_shipment_priority",
    "late_sole_supplier", "longest_increase_streak",
    "markov_attribution", "mmr_diverse_topk", "name_similarity_pairs",
    "national_market_share", "order_count_distribution",
    "order_priority_journey", "pagerank_suppliers",
    "pricing_summary_q1", "priority_mix_except_all",
    "product_type_profit", "promo_revenue_share",
    "prospect_balance_report", "regex_token_profile",
    "rfm_segmentation", "ridge_normal_equations",
    "rolling_median_revenue", "rrf_hybrid_retrieval",
    "shingle_df_spectrum", "small_quantity_revenue",
    "table_checksum_orders", "target_encoding_segment",
    "temperature_mix_weights", "theilsen_mannkendall_trend",
    "time_to_convert_stats", "top_supplier_quarter", "triangle_count",
    "unattributed_purchases", "volume_shipping_pair",
)


def _resolved(q: Query) -> Query:
    """Materialize a callable oracle into SQL text NOW — at the call
    site's moment, not at module import — so artifact-path oracles
    (IVF/PQ codebooks keyed by corpus content fingerprint) always
    point at the artifact for the corpus AS IT CURRENTLY EXISTS."""
    if callable(q.oracle):
        from dataclasses import replace
        return replace(q, oracle=q.oracle())
    return q


def all_queries() -> dict[str, Query]:
    _load_modules()
    missing = [n for n in _CHECK_WINDOW if n not in _REGISTRY]
    if missing:
        raise KeyError(f"check-window names not registered: {missing}")
    ordered = {n: _resolved(_REGISTRY[n]) for n in _CHECK_WINDOW}
    ordered.update((n, _resolved(q)) for n, q in _REGISTRY.items()
                   if n not in ordered)
    return ordered
