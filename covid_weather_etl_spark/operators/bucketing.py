"""Bucketed co-located fact-fact join — the 100 TB shuffle eliminator.

The engine's fact-fact joins (`lineitem ⋈ orders` on orderkey — the
Spark restatement of the reference's metadata join chains,
`database/operations.py:131-143,211-228`) shuffle both sides on the
join key every run. At 100 TB that shuffle IS the query cost. The
standard lakehouse remedy is to pay the shuffle once at write time:
store both tables bucketed (hash-partitioned into the same number of
buckets) and sorted on the join key, after which every future join on
that key is a zero-exchange sort-merge join — bucket i of lineitem
joins bucket i of orders, co-located, no network.

This module materializes bucketed copies of `orders` and `lineitem`
(one-time, idempotent per scale factor) and exposes the co-located
join, with the plan property (zero Exchange nodes) pinned in
tests/test_bucketing.py. The registered query aggregates the join so
its values are oracle-checkable against the unbucketed tables —
bucketing is a physical layout choice and must not change results.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_weather_etl_spark.functions import driver
from covid_weather_etl_spark.functions.artifacts import WAREHOUSE_DIR
from covid_weather_etl_spark.functions.numeric import (
    dsum, dsum_sql, fround, fround_sql, md5_int,
)
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables, spread

N_BUCKETS = 8


def _db_for(sf_dir: str) -> str:
    tag = re.sub(r"[^0-9a-zA-Z]+", "_",
                 os.path.basename(os.path.normpath(sf_dir))).lower()
    return f"bucketed_{tag}"


def ensure_bucketed(spark: SparkSession, sf_dir: str) -> str:
    """Materialize bucketed+sorted copies of orders and lineitem for
    this scale factor (skipped when the tables already exist in the
    session catalog). The `repartition(N_BUCKETS, key)` before the
    write aligns write tasks with buckets so each bucket is exactly one
    file — which is what lets the read side skip both the exchange AND
    the sort. Returns the database name."""
    db = _db_for(sf_dir)
    loc = f"{WAREHOUSE_DIR}/{db}.db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    for name, df, key in (("orders_b", t["orders"], "o_orderkey"),
                          ("lineitem_b", t["lineitem"], "l_orderkey")):
        if spark.catalog.tableExists(f"{db}.{name}"):
            continue
        path = f"{loc}/{name}"
        spec = {"n_buckets": N_BUCKETS, "clustered_by": key, "sorted_by": key,
                "format": "parquet"}
        if os.path.exists(f"{path}/_SUCCESS") and _spec_matches(path, spec):
            # files survive across sessions; the in-memory catalog does
            # not. Re-register the existing bucketed files as an
            # external table with the same bucket spec instead of
            # rewriting — this is what makes the write-side shuffle a
            # genuinely one-time cost. Reattach ONLY when the spec
            # marker written alongside _SUCCESS matches the current
            # N_BUCKETS/key/sort: declaring a wrong bucketing would
            # make Spark plan an exchange-free join that silently
            # drops matches.
            cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                             for f in df.schema.fields)
            spark.sql(
                f"CREATE TABLE {db}.{name} ({cols}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                f"INTO {N_BUCKETS} BUCKETS LOCATION '{path}'")
        else:
            if os.path.exists(path):
                shutil.rmtree(path)  # stale/foreign layout: rewrite
            (df.repartition(N_BUCKETS, key)
               .write.format("parquet")
               .option("path", path)
               .bucketBy(N_BUCKETS, key).sortBy(key)
               .mode("overwrite")
               .saveAsTable(f"{db}.{name}"))
            with open(f"{path}/_BUCKET_SPEC.json", "w") as fh:
                json.dump(spec, fh)
    return db


def _spec_matches(path: str, spec: dict) -> bool:
    """True iff the on-disk spec marker equals the expected bucketing."""
    try:
        with open(f"{path}/_BUCKET_SPEC.json") as fh:
            return json.load(fh) == spec
    except (OSError, ValueError):
        return False


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders on orderkey over the bucketed copies: both
    sides report the same HashPartitioning(orderkey, 8) from the
    bucketing metadata, so the sort-merge join plans with ZERO Exchange
    nodes (pinned in tests/test_bucketing.py). At 100 TB this turns the
    dominant per-query shuffle into a one-time write-side cost."""
    db = ensure_bucketed(spark, sf_dir)
    return spark.table(f"{db}.lineitem_b").join(
        spark.table(f"{db}.orders_b"),
        F.col("l_orderkey") == F.col("o_orderkey"))


@register(
    "bucketed_colocated_join",
    survey="J1,J6",
    bench=True,
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {rev} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """.format(rev=dsum_sql("l_extendedprice")),
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order status through the co-located join. The only
    shuffle in the whole plan is the final 3-group aggregate; the
    fact-fact join itself is exchange-free. Results are oracle-checked
    against the plain (unbucketed) tables — identical by construction."""
    return (
        bucketed_join(spark, sf_dir)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_items"),
             dsum("l_extendedprice", "revenue"))
    )


# ---------------------------------------------------------------------------
# salted join — the hot-key remedy when neither bucketing nor AQE applies
# ---------------------------------------------------------------------------

N_SALT = 4


@register(
    "salted_join_revenue",
    survey="J1,A6,skew",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {rev} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """.format(rev=dsum_sql("l_extendedprice")),
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicitly SALTED fact-fact join: the fact side's join key is
    widened to (key, salt) with a deterministic per-row salt, and the
    other side is exploded into all N_SALT salt replicas — a hot key's
    rows now spread over N_SALT tasks instead of one. The oracle is the
    PLAIN join aggregate: salting is a physical rewrite and must not
    change results (decimal-exact revenue makes the check bit-level).

    When to reach for it at 100 TB, in order: (1) bucketing
    (`ensure_bucketed`) removes the shuffle entirely for repeated
    joins; (2) AQE skew-join splitting (on in session.py) handles
    moderate skew at runtime; (3) explicit salting is the remaining
    tool when one key dominates AND the join is too hot or too custom
    for AQE — cost: the replicated side grows N_SALT×, so salt only
    the skewed key range in production (two-path union: salted hot
    keys + plain tail). Salt is `xxhash64(linenumber) % N_SALT` —
    deterministic, layout-independent, no RNG."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    fact = t["lineitem"].withColumn(
        "salt", F.pmod(F.xxhash64("l_linenumber"), F.lit(N_SALT)).cast("int"))
    other = (t["orders"]
             .withColumn("salt", F.explode(
                 F.array(*[F.lit(i) for i in range(N_SALT)]))))
    # the shuffle_hash hint forces the shuffled-join shape salting
    # exists for — at the audit SF Catalyst would otherwise broadcast
    # the small side and hide the salted exchange being demonstrated
    return (fact.hint("shuffle_hash")
            .join(other, (F.col("l_orderkey") == F.col("o_orderkey"))
                  & (fact["salt"] == other["salt"]))
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_items"),
                 dsum("l_extendedprice", "revenue")))


#: hash-bucket count for the shard-skew audit (a stand-in for the
#: shuffle partition count the key would be hashed into).
SKEW_NBUCKETS = 32


@register(
    "shard_skew_report",
    survey="ext-infra,A6,A8,F9",
    oracle=f"""
    WITH pk AS (
        SELECT CAST(CAST('0x' || substr(md5(CAST(l_suppkey AS VARCHAR)),
                                        1, 8) AS BIGINT)
                    % {SKEW_NBUCKETS} AS BIGINT) AS bucket,
               l_suppkey AS k, COUNT(*) AS kn
        FROM lineitem GROUP BY 1, 2
    ), pb AS (
        SELECT bucket,
               CAST(SUM(kn) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(MAX(kn) AS BIGINT) AS top_key_rows
        FROM pk GROUP BY 1
    ), tot AS (SELECT SUM(n_rows) AS t FROM pb)
    SELECT bucket, n_rows, n_keys, top_key_rows,
           {fround_sql(f"n_rows * {SKEW_NBUCKETS}e0 / t")} AS skew_factor
    FROM pb CROSS JOIN tot
    """,
)
def shard_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE-KEY SKEW audit — run BEFORE choosing a partition/bucket
    key at scale: hash the candidate key (l_suppkey, the fact table's
    co-location key) into {SKEW_NBUCKETS} buckets and report per-bucket
    row count, distinct keys, the heaviest single key, and the skew
    factor (bucket rows / ideal). A skew_factor ≫ 1 bucket is the
    straggler task salting/AQE-skew-join exists for, and top_key_rows
    tells you whether it is ONE hot key (salt that key) or many
    colliding keys (raise the partition count). md5-based bucketing so
    both engines agree bit-for-bit (the hashed_bow discipline — NOT
    the engine's real partitioner, which is fine: the audit measures
    the KEY distribution, not a specific hash).

    Plan: two map-combinable integer aggregates (key-level, then
    bucket-level) + one broadcast scalar total — at 100 TB this is
    the cheapest possible pre-shuffle fact scan, and the per-key
    frame it rolls up is exactly the heavy-hitter table a salting
    config is generated from."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    bucket = md5_int(F.col("l_suppkey").cast("string"), 8) % SKEW_NBUCKETS
    pk = (t["lineitem"]
          .groupBy(bucket.alias("bucket"), F.col("l_suppkey").alias("k"))
          .agg(F.count("*").alias("kn")))
    pb = (pk.groupBy("bucket")
          .agg(F.sum("kn").cast("long").alias("n_rows"),
               F.count("*").alias("n_keys"),
               F.max("kn").cast("long").alias("top_key_rows")))
    tot = pb.agg(F.sum("n_rows").alias("t"))
    return (pb.crossJoin(F.broadcast(tot))
            .select("bucket", "n_rows", "n_keys", "top_key_rows",
                    fround(F.col("n_rows") * float(SKEW_NBUCKETS)
                           / F.col("t")).alias("skew_factor")))


#: resharding plan: current/next shard counts and ring virtual nodes.
RSP_FROM, RSP_TO = 8, 9
RSP_VNODES = 64


@register(
    "reshard_movement_plan",
    survey="ext-infra,A5,A6,F9",
    oracle=f"""
    WITH keys AS (
        SELECT DISTINCT l_suppkey AS k FROM lineitem
    ), h AS (
        SELECT k,
               CAST(CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8)
                         AS BIGINT) AS BIGINT) AS hk
        FROM keys
    ), vn AS (
        SELECT s.s, v.v,
               CAST(CAST('0x' || substr(md5(s.s || ':' || v.v), 1, 8)
                         AS BIGINT) AS BIGINT) AS pos
        FROM (SELECT CAST(unnest(generate_series(0, {RSP_TO - 1}))
                          AS VARCHAR) AS s) s
        CROSS JOIN (SELECT CAST(unnest(generate_series(0,
                          {RSP_VNODES - 1})) AS VARCHAR) AS v) v
    ), ring_assign AS (
        SELECT h.k,
               (SELECT vn.s FROM vn
                WHERE vn.s < '{RSP_FROM}'
                ORDER BY (CASE WHEN vn.pos >= h.hk THEN vn.pos - h.hk
                               ELSE vn.pos - h.hk + 4294967296 END),
                         vn.s, vn.v
                LIMIT 1) AS s_from,
               (SELECT vn.s FROM vn
                ORDER BY (CASE WHEN vn.pos >= h.hk THEN vn.pos - h.hk
                               ELSE vn.pos - h.hk + 4294967296 END),
                         vn.s, vn.v
                LIMIT 1) AS s_to
        FROM h
    ), mod_assign AS (
        SELECT k, hk % {RSP_FROM} AS m_from, hk % {RSP_TO} AS m_to
        FROM h
    )
    SELECT scheme, n_keys, n_moved,
           {fround_sql("n_moved * 1e0 / n_keys")} AS moved_share
    FROM (
        SELECT 'mod' AS scheme, CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(CASE WHEN m_from <> m_to THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_moved
        FROM mod_assign
        UNION ALL
        SELECT 'ring', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN s_from <> s_to THEN 1 ELSE 0 END)
                    AS BIGINT)
        FROM ring_assign
    ) u
    """,
)
def reshard_movement_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESHARDING COST plan — how much data MOVES when the shard count
    grows {RSP_FROM} → {RSP_TO}, under the two assignment schemes:
    modulo hashing (moves ~(1 - 1/new) of ALL keys — the reshuffle
    that makes naive scale-out an outage) vs a consistent-hash ring
    with {RSP_VNODES} virtual nodes per shard (moves ~1/new — only
    keys claimed by the new shard's arcs). The moved_share pair is
    the number that justifies ring-sharding stateful services and
    bucketed tables alike; at 100 TB the difference is re-copying
    ~89% vs ~11% of the store.

    Replay discipline: both engines hash with md5-prefix integers;
    ring lookup = clockwise distance minimum with a total (distance,
    shard, vnode) tiebreak — integer-exact everywhere, the only float
    being the final share. Plan: the key census is one distinct scan;
    the ring is a {RSP_TO}×{RSP_VNODES}-row broadcast literal; the
    clockwise argmin is a per-key aggregate over the broadcast ring
    (map-side, no shuffle beyond the census)."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    keys = (t["lineitem"].select(F.col("l_suppkey").alias("k"))
            .distinct()
            .select("k", md5_int(F.col("k").cast("string"), 8).alias("hk")))
    ring = driver.local_frame(
        spark, [(str(s), str(v)) for s in range(RSP_TO)
                for v in range(RSP_VNODES)], "s string, v string")
    ring = ring.select("s", "v",
                       md5_int(F.concat("s", F.lit(":"), "v"), 8).alias("pos"))
    dist = F.when(F.col("pos") >= F.col("hk"),
                  F.col("pos") - F.col("hk"))         .otherwise(F.col("pos") - F.col("hk") + F.lit(4294967296))
    scored = (keys.crossJoin(F.broadcast(ring))
              .select("k", "s", dist.alias("dist"), "v"))
    # clockwise argmin as a struct-MIN aggregate (no window): the
    # (dist, shard, vnode) struct order IS the tiebreak rule
    pick = lambda df: df.groupBy("k").agg(  # noqa: E731
        F.min(F.struct("dist", "s", "v")).alias("w"))
    to_ring = pick(scored).select("k", F.col("w.s").alias("s_to"))
    from_ring = pick(scored.filter(F.col("s") < str(RSP_FROM)))         .select("k", F.col("w.s").alias("s_from"))
    ring_moves = (from_ring.join(to_ring, "k")
                  .agg(F.count("*").alias("n_keys"),
                       F.sum((F.col("s_from") != F.col("s_to"))
                             .cast("long")).alias("n_moved"))
                  .select(F.lit("ring").alias("scheme"),
                          "n_keys", "n_moved"))
    mod_moves = (keys
                 .agg(F.count("*").alias("n_keys"),
                      F.sum((F.col("hk") % RSP_FROM
                             != F.col("hk") % RSP_TO).cast("long"))
                      .alias("n_moved"))
                 .select(F.lit("mod").alias("scheme"),
                         "n_keys", "n_moved"))
    out = mod_moves.unionByName(ring_moves)
    return out.select("scheme", "n_keys", "n_moved",
                      fround(F.col("n_moved") * 1.0 / F.col("n_keys"))
                      .alias("moved_share"))


# ---------------------------------------------------------------------------
# training-epoch shuffle plan — seeded, resumable, measurably random
# ---------------------------------------------------------------------------

#: shards per epoch (the parallel read unit at training time).
EPOCH_SHARDS = 16
#: the two epochs whose orders are compared.
EPOCH_SEEDS = (1, 2)


@register(
    "epoch_shuffle_plan",
    survey="ext-infra,A6,A8,W1,J1",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tok
        FROM documents
    ), keyed AS (
        SELECT e.e AS epoch, d.doc_id, d.n_tok,
               CAST(CAST('0x' || substr(md5(e.e || ':' ||
                         CAST(d.doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) AS BIGINT) AS h
        FROM docs d
        CROSS JOIN (SELECT CAST(unnest([{", ".join(map(str, EPOCH_SEEDS))}])
                         AS VARCHAR) AS e) e
    ), sharded AS (
        SELECT epoch, doc_id, n_tok, h, h % {EPOCH_SHARDS} AS shard,
               lead(doc_id) OVER (PARTITION BY epoch, h % {EPOCH_SHARDS}
                                  ORDER BY h, doc_id) AS nxt
        FROM keyed
    ), shard_stats AS (
        SELECT epoch, shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM sharded GROUP BY 1, 2
    ), edges AS (
        SELECT epoch, doc_id, nxt FROM sharded WHERE nxt IS NOT NULL
    ), preserved AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS preserved_adjacencies
        FROM edges a JOIN edges b
          ON a.doc_id = b.doc_id AND a.nxt = b.nxt
         AND a.epoch = '{EPOCH_SEEDS[0]}' AND b.epoch = '{EPOCH_SEEDS[1]}'
    ), moved AS (
        SELECT CAST(SUM(CASE WHEN a.shard <> b.shard THEN 1 ELSE 0 END)
                    AS BIGINT) AS moved_docs
        FROM sharded a JOIN sharded b ON a.doc_id = b.doc_id
         AND a.epoch = '{EPOCH_SEEDS[0]}' AND b.epoch = '{EPOCH_SEEDS[1]}'
    )
    SELECT CAST(epoch AS VARCHAR) AS epoch,
           CAST(COUNT(*) AS BIGINT) AS n_shards,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MIN(n_docs) AS BIGINT) AS min_shard_docs,
           CAST(MAX(n_docs) AS BIGINT) AS max_shard_docs,
           MAX(preserved_adjacencies) AS preserved_adjacencies,
           MAX(moved_docs) AS moved_docs
    FROM shard_stats CROSS JOIN preserved CROSS JOIN moved
    GROUP BY epoch
    """,
)
def epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINING-EPOCH shuffle plan — the deterministic global shuffle a
    data loader needs at 100 TB, where 'random.shuffle(file_list)'
    stops being an option: each epoch e orders documents by
    md5(e:doc_id) and shards them h % {EPOCH_SHARDS}. Seeded hashing
    makes the order REPRODUCIBLE (resume mid-epoch from a byte
    offset, re-run training bit-identically) and STATELESS (any
    worker derives its shard without coordination). The report
    audits what a shuffle must deliver: shard balance per epoch
    (min/max docs — hash sharding keeps this tight), inter-epoch
    adjacency preservation (documents adjacent in BOTH epochs' reader
    order — near zero iff epochs are genuinely independent
    permutations; a loader bug that reuses the epoch-1 order shows up
    here as n_docs−n_shards), and cross-epoch shard movement
    (≈ (S−1)/S of docs must change shard).

    Exactness: everything is md5-prefix integer algebra plus integer
    counts — no floats anywhere. Plan: the hash/shard assignment is a
    narrow map; per-epoch order lives in windows PARTITIONED by
    (epoch, shard) — {EPOCH_SHARDS} partitions here, tens of
    thousands in production, never global; the adjacency intersection
    is an (a,b)-keyed hash join of edge sets, each at most one row
    per document."""
    t = load_tables(spark, sf_dir, ("documents",))
    from pyspark.sql import Window as W
    docs = (spread(t["documents"], "doc_id")
            .select("doc_id",
                    F.size(F.split("text", " ")).alias("n_tok")))
    epochs = driver.local_frame(
        docs.sparkSession, [(str(e),) for e in EPOCH_SEEDS], "epoch string")
    keyed = (docs.crossJoin(F.broadcast(epochs))
             .withColumn("h", md5_int(F.concat(
                 "epoch", F.lit(":"), F.col("doc_id").cast("string")), 8))
             .withColumn("shard", F.col("h") % EPOCH_SHARDS))
    w = (W.partitionBy("epoch", "shard")
         .orderBy(F.col("h"), F.col("doc_id")))
    sharded = (keyed.withColumn("nxt", F.lead("doc_id").over(w))
               .localCheckpoint(eager=False))  # reused 4x below
    shard_stats = (sharded.groupBy("epoch", "shard")
                   .agg(F.count("*").alias("n_docs"),
                        F.sum("n_tok").alias("n_tokens")))
    e1, e2 = (str(s) for s in EPOCH_SEEDS)
    # r13 (guide §2.4): each doc has EXACTLY one sharded row per epoch,
    # so the two doc_id self-joins (each side a filter over the
    # checkpoint, plus their broadcast/exchange builds) fold into ONE
    # doc-keyed pivot aggregate producing both cross-epoch reads —
    # preserved = #docs whose (non-null) successor matches in both
    # epochs (== the old inner join on (doc_id, nxt)), moved = #docs
    # whose shard differs (== the old a.shard <> b.shard sum). Counts
    # are identical integers; one shuffle replaces two.
    per_doc = (sharded.groupBy("doc_id")
               .agg(F.max(F.when(F.col("epoch") == e1, F.col("nxt")))
                    .alias("nxt1"),
                    F.max(F.when(F.col("epoch") == e2, F.col("nxt")))
                    .alias("nxt2"),
                    F.max(F.when(F.col("epoch") == e1, F.col("shard")))
                    .alias("sh1"),
                    F.max(F.when(F.col("epoch") == e2, F.col("shard")))
                    .alias("sh2")))
    cross = per_doc.agg(
        F.coalesce(F.sum((F.col("nxt1").isNotNull()
                          & (F.col("nxt1") == F.col("nxt2")))
                         .cast("long")), F.lit(0))
        .alias("preserved_adjacencies"),
        F.sum((F.col("sh1") != F.col("sh2")).cast("long"))
        .alias("moved_docs"))
    return (shard_stats
            .crossJoin(F.broadcast(cross))
            .groupBy("epoch")
            .agg(F.count("*").alias("n_shards"),
                 F.sum("n_docs").cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens"),
                 F.min("n_docs").cast("long").alias("min_shard_docs"),
                 F.max("n_docs").cast("long").alias("max_shard_docs"),
                 F.max("preserved_adjacencies")
                 .alias("preserved_adjacencies"),
                 F.max("moved_docs").alias("moved_docs"))
            .select("epoch", "n_shards", "n_docs", "n_tokens",
                    "min_shard_docs", "max_shard_docs",
                    "preserved_adjacencies", "moved_docs"))
