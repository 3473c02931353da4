"""Pins for the Misra-Gries two-pass heavy hitters
(operators/frequent.py): the summary invariants (counter bound,
no-false-negative superset guarantee) hold on adversarial synthetic
streams and under any partitioning, and the Spark query output equals
the exact GROUP BY answer recomputed independently.
"""

from __future__ import annotations

import random
from collections import Counter

from pyspark.sql import functions as F

from covid_weather_etl_spark.operators.frequent import K, mg_summarize
from covid_weather_etl_spark.queries.registry import all_queries
from tests.conftest import SF_DIR

QUERIES = all_queries()


def _mg_run(stream, k, batch_size=97):
    counts = {}
    for i in range(0, len(stream), batch_size):
        counts = mg_summarize(counts, Counter(stream[i:i + batch_size]), k)
    return counts


def test_mg_counter_bound_and_superset():
    rng = random.Random(7)
    # Zipf-ish stream: a few heavy keys + a long uniform tail
    stream = (["hot%d" % (i % 5) for i in range(5000)]
              + ["cold%d" % rng.randrange(5000) for _ in range(5000)])
    rng.shuffle(stream)
    for k in (10, 50):
        summary = _mg_run(stream, k)
        assert len(summary) <= k
        true = Counter(stream)
        heavy = {t for t, c in true.items() if c > len(stream) / k}
        assert heavy <= set(summary)           # no false negatives
        # estimates never overcount and undercount < N/k
        for t, est in summary.items():
            assert est <= true[t]
            assert true[t] - est < len(stream) / k + 1


def test_mg_superset_holds_per_partition():
    """Split the stream arbitrarily; the union of per-partition
    summaries must still contain every global heavy hitter."""
    rng = random.Random(13)
    stream = (["hh%d" % (i % 3) for i in range(3000)]
              + ["t%d" % rng.randrange(2000) for _ in range(3000)])
    rng.shuffle(stream)
    k = 20
    cut1, cut2 = 1500, 4200
    parts = [stream[:cut1], stream[cut1:cut2], stream[cut2:]]
    union = set()
    for p in parts:
        union |= set(_mg_run(p, k))
    true = Counter(stream)
    heavy = {t for t, c in true.items() if c > len(stream) / k}
    assert heavy <= union


def test_heavy_hitters_query_is_exact(spark):
    got = {r["bucket"]: r["cnt"] for r in
           QUERIES["heavy_hitters_twopass"].fn(spark, SF_DIR).collect()}
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    exact = (events.select(
        F.concat(F.length(F.bin(F.col("event_id") + 1)).cast("string"),
                 F.lit("_"),
                 (F.col("event_id") % 50).cast("string")).alias("bucket"))
        .groupBy("bucket").count())
    n = events.count()
    want = {r["bucket"]: r["count"] for r in
            exact.filter(F.col("count") > n // K).collect()}
    assert got == want
    assert len(got) > 0  # the planted skew produces a nonempty heavy set
