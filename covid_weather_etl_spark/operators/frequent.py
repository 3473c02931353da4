"""Frequent-items (heavy hitters) at scale: sketch pass + exact verify.

The 100 TB version of "GROUP BY key HAVING COUNT(*) > N/k" when the
key's distinct count is itself too large to shuffle comfortably: a
bounded-memory Misra-Gries / SpaceSaving summary per partition (Misra &
Gries 1982; Metwally et al. 2005) produces a small candidate set with a
NO-FALSE-NEGATIVE guarantee — any key with global frequency > N/K is
heavy in at least one partition, so it survives that partition's
K-counter summary — and a second pass recounts ONLY the candidates
exactly. The final answer is exact, so the whole operator stays
DuckDB-oracle-checkable while the sketch machinery is real.

The event stream has no naturally Zipf key (driver data is uniform),
so the key is derived deterministically with scale-invariant skew:
bucket = length(bin(event_id+1)) ⊕ event_id % 50 — exponential mass
per length-class split over 50 sub-buckets; both engines compute it
with the same pure-integer expression (no float log that could round
differently at class boundaries).

Scale notes: pass 1 is mapInPandas with K counters of state per task
and NO shuffle; pass 2 shuffles only rows matching ≤ P·K candidate
keys (broadcast semi-join), then one bounded aggregation. Increasing
skew makes it cheaper, not hotter — the opposite of a naive groupBy.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_weather_etl_spark.functions.numeric import md5_int
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables

K = 150  # counters per partition == support denominator (freq > N/K)

_BUCKET_SQL = ("CONCAT(LENGTH(BIN(event_id + 1)), '_', "
               "CAST(event_id % 50 AS VARCHAR))")


def mg_summarize(counts: dict[str, int], batch: dict[str, int],
                 k: int = K) -> dict[str, int]:
    """Merge one batch of (key -> weight) into a Misra-Gries summary,
    pruning to ≤ k counters by the weighted decrement: subtract the
    smallest surviving threshold from every counter and drop the
    non-positive. Each prune of δ removes ≥ δ·(k+1) total mass, so the
    cumulative undercount per key is < N_partition/k — which is what
    makes the global candidate set a superset of the true heavy set."""
    for key, w in batch.items():
        counts[key] = counts.get(key, 0) + int(w)
    if len(counts) > k:
        vals = sorted(counts.values())
        delta = vals[len(counts) - k - 1]
        counts = {key: c - delta for key, c in counts.items() if c > delta}
    return counts


@register(
    "heavy_hitters_twopass",
    survey="ext-frequent,A1,A6,J7",
    oracle=f"""
    WITH stream AS (
        SELECT {_BUCKET_SQL} AS bucket FROM events
    ),
    tot AS (SELECT COUNT(*) AS n FROM stream)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT)          AS cnt,
           ROUND(COUNT(*) * 1.0 / ANY_VALUE(n), 6) AS share
    FROM stream CROSS JOIN tot
    GROUP BY bucket
    HAVING COUNT(*) > ANY_VALUE(n) // {K}
    """,
)
def heavy_hitters_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (support N/K, K=150) via Misra-Gries candidate
    generation + exact recount. Pass 1: per-partition K-counter
    summaries in mapInPandas (vectorized value_counts per Arrow batch,
    weighted-decrement prune — bounded memory, zero shuffle). Pass 2:
    broadcast semi-join on the candidate keys, one exact aggregation,
    threshold filter. The MG superset guarantee means the output equals
    the plain GROUP BY/HAVING oracle for ANY partitioning of pass 1."""
    import pandas as pd

    t = load_tables(spark, sf_dir, ("events",))
    bucket = F.concat(
        F.length(F.bin(F.col("event_id") + 1)).cast("string"),
        F.lit("_"),
        (F.col("event_id") % 50).cast("string"),
    )
    stream = t["events"].select(bucket.alias("bucket"))

    def mg_pass(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict[str, int] = {}
        for pdf in batches:
            counts = mg_summarize(counts, pdf["bucket"].value_counts().to_dict())
        yield pd.DataFrame({"bucket": list(counts.keys())})

    candidates = (stream.mapInPandas(mg_pass, schema="bucket string")
                  .distinct())
    total = stream.agg(F.count("*").alias("n"))
    return (stream
            .join(F.broadcast(candidates), "bucket", "leftsemi")
            .groupBy("bucket").agg(F.count("*").alias("cnt"))
            .crossJoin(F.broadcast(total))
            .filter(F.col("cnt") > F.expr(f"n div {K}"))
            .select("bucket", "cnt",
                    F.round(F.col("cnt") * 1.0 / F.col("n"), 6).alias("share")))


#: Count-Min geometry: D independent hash rows × W columns. Expected
#: overcount per key ≈ N/W per row; taking the min over D rows makes a
#: large error require ALL D rows to collide hot.
CMS_D = 4
CMS_W = 128

_CMS_POS_SQL = (
    "CAST(CAST('0x' || substr(md5(CAST({j} AS VARCHAR) || ':' || {key}), "
    f"1, 8) AS BIGINT) % {{w}} AS BIGINT)")


@register(
    "count_min_frequency",
    survey="ext-sketch,A1,A6,J1",
    oracle=f"""
    WITH stream AS (
        SELECT {_BUCKET_SQL} AS bucket FROM events
    ), cells AS (
        SELECT jj.j,
               {_CMS_POS_SQL.format(j='jj.j', key='bucket', w=CMS_W)} AS p,
               CAST(COUNT(*) AS BIGINT) AS cell
        FROM stream CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) jj
        GROUP BY 1, 2
    ), exact AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        FROM stream GROUP BY bucket
    )
    SELECT e.bucket, e.exact_cnt,
           CAST(MIN(c.cell) AS BIGINT) AS est_cnt,
           CAST(MIN(c.cell) - e.exact_cnt AS BIGINT) AS overcount
    FROM exact e
    CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) jj
    JOIN cells c
      ON c.j = jj.j
     AND c.p = {_CMS_POS_SQL.format(j='jj.j', key='e.bucket', w=CMS_W)}
    GROUP BY e.bucket, e.exact_cnt
    """,
)
def count_min_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) built over the
    same skewed event-key stream as `heavy_hitters_twopass`, with the
    estimate audited against the exact count per key. The sketch build
    is ONE map-side-combinable aggregate whose state is bounded at
    D×W = 4×128 cells regardless of stream size — the update per row
    is D pure md5 hashes, so partial aggregation collapses each task's
    contribution to ≤ D·W rows before the (tiny) shuffle. Point queries
    then read min over D broadcast cells. md5-derived positions (not
    xxhash64) keep the whole sketch — cells AND estimates — exactly
    reproducible in the DuckDB oracle, so a probabilistic structure
    gets a deterministic bit-exact correctness check; the CMS guarantee
    (est ≥ exact, overcount small) is pinned in tests/test_sketches.py.

    Scale: at 100 TB the plan is unchanged — the sketch stays D×W
    cells (widen W for tighter error), the estimate join broadcasts
    ~D·W rows, and the key-distinct side is whatever keyspace you
    audit. Reference parity: the reference has no sketches; this is the
    mergeable-summary scale path for its COUNT(*)-per-key dashboards
    (`streamlit/covid_analysis.py` group-by-cards).
    """
    t = load_tables(spark, sf_dir, ("events",))
    bucket = F.concat(
        F.length(F.bin(F.col("event_id") + 1)).cast("string"),
        F.lit("_"),
        (F.col("event_id") % 50).cast("string"),
    )
    stream = t["events"].select(bucket.alias("bucket"))

    def pos(j, key):
        raw = md5_int(F.concat(j.cast("string"), F.lit(":"), key), 8)
        return (raw % CMS_W).cast("long")

    js = F.explode(F.array(*[F.lit(i) for i in range(CMS_D)])).alias("j")
    # sketch build: the ONLY pass over the stream; partial agg bounds
    # per-task state at D*W cells before the shuffle.
    cells = (stream.select("bucket", js)
             .select("j", pos(F.col("j"), F.col("bucket")).alias("p"))
             .groupBy("j", "p").agg(F.count("*").alias("cell")))
    exact = stream.groupBy("bucket").agg(F.count("*").alias("exact_cnt"))
    probes = (exact.select("bucket", "exact_cnt", js)
              .withColumn("p", pos(F.col("j"), F.col("bucket"))))
    return (probes.join(F.broadcast(cells), ["j", "p"])
            .groupBy("bucket", "exact_cnt")
            .agg(F.min("cell").alias("est_cnt"))
            .select("bucket", "exact_cnt", "est_cnt",
                    (F.col("est_cnt") - F.col("exact_cnt")).alias("overcount")))


#: MinHash signature length for the Jaccard audit.
MH_K = 64

_MH_SETS_SQL = """
        SELECT DISTINCT user_id,
               CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END AS s
        FROM events WHERE event_type IN ('click', 'purchase')
"""
_MH_HASH_SQL = ("CAST(CAST('0x' || substr(md5(CAST({i} AS VARCHAR) || ':' || "
                "CAST({key} AS VARCHAR)), 1, 13) AS BIGINT) AS BIGINT)")


@register(
    "minhash_jaccard_audit",
    survey="ext-sketch,A2,A6,J1",
    oracle=f"""
    WITH sets AS (
        {_MH_SETS_SQL}
    ), sizes AS (
        SELECT CAST(COUNT(DISTINCT CASE WHEN s = 'a' THEN user_id END)
                    AS BIGINT) AS n_a,
               CAST(COUNT(DISTINCT CASE WHEN s = 'b' THEN user_id END)
                    AS BIGINT) AS n_b,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_union
        FROM sets
    ), inter AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_inter FROM (
            SELECT user_id FROM sets GROUP BY user_id
            HAVING COUNT(DISTINCT s) = 2
        )
    ), sigs AS (
        SELECT ii.i, sets.s,
               MIN({_MH_HASH_SQL.format(i='ii.i', key='sets.user_id')})
                   AS mh
        FROM sets CROSS JOIN (SELECT unnest(range({MH_K})) AS i) ii
        GROUP BY ii.i, sets.s
    ), agree AS (
        SELECT CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_agree
        FROM sigs a JOIN sigs b ON a.i = b.i AND a.s = 'a' AND b.s = 'b'
    )
    SELECT n_a, n_b,
           ROUND(n_inter * 1.0 / n_union, 6) AS exact_jaccard,
           ROUND(n_agree * 1.0 / {MH_K}, 6) AS minhash_estimate,
           ROUND(ABS(n_agree * 1.0 / {MH_K}
                     - n_inter * 1.0 / n_union), 6) AS abs_err
    FROM sizes CROSS JOIN inter CROSS JOIN agree
    """,
)
def minhash_jaccard_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash set-similarity audit: the Jaccard similarity between
    the click-user set and the purchase-user set, computed BOTH ways —
    exactly (distinct-count algebra) and by a 64-permutation MinHash
    signature (P[min-hash agrees] = J, Broder 1997) — with the
    estimation error in the open. The per-permutation minimum is a
    map-side-combinable MIN aggregate over md5(i:key) values, so the
    signature build is ONE pass with 2·64 output rows no matter how
    large the sets get, and the md5 derivation makes the estimate —
    not just its expectation — bit-reproducible in the DuckDB oracle.
    This is the mergeable-signature scale path for set-overlap
    questions (audience intersection, cross-snapshot churn) where the
    exact distinct-intersection shuffle becomes the bottleneck; the
    exact twin here is the per-round audit that sizes K.
    tests/test_sketches.py pins the estimator's ±2σ envelope
    (σ = √(J(1−J)/K))."""
    t = load_tables(spark, sf_dir, ("events",))
    sets = (t["events"]
            .filter(F.col("event_type").isin("click", "purchase"))
            .select("user_id",
                    F.when(F.col("event_type") == "click", "a")
                    .otherwise("b").alias("s"))
            .distinct()
            .localCheckpoint(eager=False))  # feeds sizes, inter and sigs
    sizes = sets.agg(
        F.countDistinct(F.when(F.col("s") == "a", F.col("user_id")))
        .alias("n_a"),
        F.countDistinct(F.when(F.col("s") == "b", F.col("user_id")))
        .alias("n_b"),
        F.countDistinct("user_id").alias("n_union"))
    inter = (sets.groupBy("user_id")
             .agg(F.countDistinct("s").alias("ns"))
             .filter(F.col("ns") == 2)
             .agg(F.count("*").alias("n_inter")))
    ii = F.explode(F.array(*[F.lit(i) for i in range(MH_K)])).alias("i")
    mh = md5_int(F.concat(F.col("i").cast("string"), F.lit(":"),
                          F.col("user_id").cast("string")), 13)
    sigs = (sets.select("user_id", "s", ii)
            .groupBy("i", "s").agg(F.min(mh).alias("mh")))
    a = sigs.filter(F.col("s") == "a").select("i", F.col("mh").alias("ma"))
    b = sigs.filter(F.col("s") == "b").select("i", F.col("mh").alias("mb"))
    agree = (a.join(b, "i")
             .agg(F.sum(F.when(F.col("ma") == F.col("mb"), 1).otherwise(0))
                  .alias("n_agree")))
    ex = F.col("n_inter") * 1.0 / F.col("n_union")
    est = F.col("n_agree") * 1.0 / MH_K
    return (sizes.crossJoin(F.broadcast(inter))
            .crossJoin(F.broadcast(agree))
            .select("n_a", "n_b",
                    F.round(ex, 6).alias("exact_jaccard"),
                    F.round(est, 6).alias("minhash_estimate"),
                    F.round(F.abs(est - ex), 6).alias("abs_err")))
