"""MinHash-LSH and SimHash near-duplicate detection (LLM-pipeline).

The scale path for near-dup at 100 TB: exact pairwise Jaccard
(operators/text.py) is O(candidate pairs); these operators bound the
candidate set first:

- **MinHash**: k independent permutation-hashes approximate each
  document's token set as a k-int signature; banding (b bands × r rows)
  turns "Jaccard ≥ t" into "equal band hash in ≥1 band" — a plain
  groupBy/self-join on (band, band_hash). Candidates then get the exact
  Jaccard re-check. Probability calibration: P(candidate) =
  1 − (1 − j^r)^b.
- **SimHash**: 64-bit fingerprint whose Hamming distance tracks token
  multiset similarity; near-dup = fingerprints within d bits, found by
  exact-matching 16-bit quarters (any pair within 3 bits must agree on
  ≥1 of 4 quarters).

Everything is JVM-side column algebra — no Python UDFs, no mllib
dependency — so signatures are deterministic across runs and cluster
layouts (independent plain-Python reimplementation in
tests/test_minhash.py). The base hash is the PORTABLE md5-derived
60-bit integer (`functions/numeric.md5_int` at 15 hex chars == DuckDB
`('0x'||substr(md5(x),1,15))::BIGINT`), so both minhash_near_dup and
simhash_near_dup carry full DuckDB replay oracles: the SAME banding
runs on both engines and the recall of the (identical) candidate stage
cancels out of the compare.
At 100 TB swap md5 for xxhash64 — identical algebra, engine-local
hash, ~3× cheaper per token; the oracle then becomes engine-specific,
which is why the checked-in variant stays portable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_weather_etl_spark.functions.numeric import (
    fround, fround_sql, fround_val, md5_int,
)
from covid_weather_etl_spark.functions.textops import shingled_rows
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables, spread

# Near-dup identity is the 3-gram shingle set (same unit as
# operators/text.py's exact Jaccard): word-level sets degenerate on
# small vocabularies — most long documents share most words — while
# shingles keep the set cardinality proportional to document length.
# 32 hashes = 16 bands × 2 rows, calibrated for a ~0.5 Jaccard
# threshold: P(candidate) = 1−(1−j²)¹⁶ → 0.99 at j=0.5, 0.9998 at
# j=0.7, but only ~0.6% for unrelated pairs at j=0.02 — so candidate
# volume stays near-linear and the exact re-check stays cheap.
N_HASHES = 32
N_BANDS = 16
ROWS_PER_BAND = N_HASHES // N_BANDS
# 2^31-1: (a·x + b) with 31-bit a and x stays under 2^62, inside a
# signed 64-bit long even with ANSI overflow checking on (Spark 4
# default). 61-bit params would overflow the JVM multiply.
MERSENNE = (1 << 31) - 1


def _perm_params(k: int = N_HASHES) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a·x + b) mod p.

    Derived from a fixed linear congruential sequence (seed 42) so
    signatures are reproducible across sessions with no RNG calls.
    """
    params, state = [], 42
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % MERSENNE
        a = (state % (MERSENNE - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % MERSENNE
        b = state % MERSENNE
        params.append((a, b))
    return params


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """doc_id → exploded distinct n-word shingles as ``token`` (the
    dedup unit). Spread across cores first — the explode is the
    CPU-heavy stage."""
    return (shingled_rows(spread(docs, "doc_id"), n=n)
            .withColumnRenamed("s", "token"))


def _token_hash() -> Column:
    """Non-negative 31-bit base hash of a shingle (portable md5 fold)."""
    return F.pmod(md5_int("token", 15), F.lit(MERSENNE))


def minhash_signatures(docs: DataFrame, k: int = N_HASHES,
                       shing: DataFrame | None = None) -> DataFrame:
    """doc_id → [sig_0 .. sig_{k-1}] minhash signature over shingles.

    One explode to distinct (doc, shingle) rows, one groupBy computing
    all k mins map-side — the shuffle carries k longs per doc, not the
    shingle set. Pass a precomputed (persisted) ``shing`` frame to
    share the explode+distinct with the exact re-check stage.
    """
    tokens = (shing if shing is not None else shingles(docs)) \
        .withColumn("h", _token_hash())
    mins = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(MERSENNE)))
        .alias(f"sig_{i}")
        for i, (a, b) in enumerate(_perm_params(k))
    ]
    return tokens.groupBy("doc_id").agg(*mins)


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Band the signatures and self-join on (band, band_key).

    The band key is the '|'-joined decimal signature pair rather than a
    hash of it — byte-identical to the oracle's STRING_AGG, and a
    16-byte-ish string key shuffles no worse than a long at this
    fan-out. (At 100 TB, hash the key with xxhash64 to shrink shuffle
    width; collisions only add candidates, which the exact re-check
    removes.)"""
    bands = []
    for band in range(N_BANDS):
        cols = [F.col(f"sig_{band * ROWS_PER_BAND + r}").cast("string")
                for r in range(ROWS_PER_BAND)]
        bands.append(F.struct(F.lit(band).alias("band"),
                              F.concat_ws("|", *cols).alias("bh")))
    banded = (sigs.select("doc_id", F.explode(F.array(*bands)).alias("b"))
              .select("doc_id", "b.band", "b.bh"))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_id_1"),
                F.col("b.doc_id").alias("doc_id_2"))
        .distinct()
    )


def exact_jaccard(docs: DataFrame, pairs: DataFrame,
                  shing: DataFrame | None = None) -> DataFrame:
    """Exact shingle-set Jaccard re-check of candidate pairs."""
    toksets = ((shing if shing is not None else shingles(docs))
               .groupBy("doc_id")
               .agg(F.collect_set("token").alias("toks")))
    t1 = toksets.select(F.col("doc_id").alias("doc_id_1"),
                        F.col("toks").alias("toks_1"))
    t2 = toksets.select(F.col("doc_id").alias("doc_id_2"),
                        F.col("toks").alias("toks_2"))
    inter = F.size(F.array_intersect("toks_1", "toks_2"))
    union = F.size(F.array_union("toks_1", "toks_2"))
    return (pairs.join(t1, "doc_id_1").join(t2, "doc_id_2")
            .select("doc_id_1", "doc_id_2",
                    (inter * 1.0 / union).alias("jaccard")))


#: the 32 affine permutation params, embedded in the oracle SQL so
#: DuckDB replays the exact signature algebra.
_MH_PARAM_VALUES = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(_perm_params()))


@register(
    "minhash_near_dup", survey="LLM-dedup", bench=True,
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d,
             UNNEST(generate_series(1, len(t) - 2)) AS u(i)
    ), h AS (
        SELECT doc_id, s,
               ('0x' || substr(md5(s), 1, 15))::BIGINT % {MERSENNE} AS h0
        FROM sh
    ), params(i, a, b) AS (VALUES {_MH_PARAM_VALUES}),
    sig AS (
        SELECT doc_id, p.i, MIN((p.a * h.h0 + p.b) % {MERSENNE}) AS sig
        FROM h CROSS JOIN params p
        GROUP BY 1, 2
    ), bands AS (
        SELECT doc_id, i // {ROWS_PER_BAND} AS band,
               STRING_AGG(CAST(sig AS VARCHAR), '|' ORDER BY i) AS key
        FROM sig GROUP BY 1, 2
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
    )
    SELECT c.doc_id_1, c.doc_id_2,
           COUNT(*) * 1e0 / (s1.n + s2.n - COUNT(*)) AS jaccard
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_id_1
    JOIN sh b ON b.doc_id = c.doc_id_2 AND a.s = b.s
    JOIN sizes s1 ON s1.doc_id = c.doc_id_1
    JOIN sizes s2 ON s2.doc_id = c.doc_id_2
    GROUP BY 1, 2, s1.n, s2.n
    HAVING COUNT(*) * 1e0 / (s1.n + s2.n - COUNT(*)) >= 5e-1
    """,
)
def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash→band→bucket-join→exact-recheck near-dup pairs with
    3-gram-shingle Jaccard ≥ 0.5. Full DuckDB replay oracle (md5
    permutations — see module docstring); independent plain-Python
    reimplementation in tests/test_minhash.py."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    # ONE aggregation pass computes the signature mins AND the exact
    # shingle set per doc; every consumer (banding, both re-check
    # sides) references the identical subtree, so Catalyst plans
    # ReusedExchange over the top shuffle — explode+distinct+agg run
    # once, no cache needed.
    tokens = shingles(docs).withColumn("h", _token_hash())
    mins = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(MERSENNE)))
        .alias(f"sig_{i}")
        for i, (a, b) in enumerate(_perm_params(N_HASHES))
    ]
    per_doc = tokens.groupBy("doc_id").agg(
        *mins, F.collect_set("token").alias("toks"))
    cands = lsh_candidate_pairs(per_doc)
    t1 = per_doc.select(F.col("doc_id").alias("doc_id_1"),
                        F.col("toks").alias("toks_1"))
    t2 = per_doc.select(F.col("doc_id").alias("doc_id_2"),
                        F.col("toks").alias("toks_2"))
    inter = F.size(F.array_intersect("toks_1", "toks_2"))
    union = F.size(F.array_union("toks_1", "toks_2"))
    return (cands.join(t1, "doc_id_1").join(t2, "doc_id_2")
            .select("doc_id_1", "doc_id_2",
                    (inter * 1.0 / union).alias("jaccard"))
            .filter(F.col("jaccard") >= 0.5)
            .orderBy("doc_id_1", "doc_id_2"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

#: fingerprint width — 60 bits, the full width of the portable md5
#: integer (15 hex chars), so the oracle replays every vote.
SIMHASH_BITS = 60


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """doc_id → 60-bit simhash: per-bit majority vote over token hashes.

    sum(±1) per bit position across tokens, assembled with shift/or —
    pure column algebra, one groupBy. The token hash is the portable
    md5 60-bit integer, so fingerprints are engine-reproducible.
    """
    tokens = (spread(docs, "doc_id")
              .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
              .distinct()
              .withColumn("h", md5_int("token", 15)))
    votes = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                     1).otherwise(-1)).alias(f"v_{i}")
        for i in range(bits)
    ]
    voted = tokens.groupBy("doc_id").agg(*votes)
    fp = F.lit(0).cast("long")
    for i in range(bits):
        fp = fp.bitwiseOR(
            F.when(F.col(f"v_{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i))
             .otherwise(F.lit(0).cast("long")))
    return voted.select("doc_id", fp.alias("simhash"))


def hamming(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


# 6 bands × 10 bits: by pigeonhole, any pair at Hamming distance ≤ 5
# must agree exactly on ≥1 band, so the ≤5 output set is COMPLETE (not
# recall-bounded). An earlier 4×16-bit banding only guaranteed d ≤ 3
# while the query filtered at d ≤ 12 — silently missing pairs whose
# differing bits spread across all four quarters.
_SIMHASH_BANDS = 6
_BAND_BITS = SIMHASH_BITS // _SIMHASH_BANDS
_SIMHASH_MAX_DIST = _SIMHASH_BANDS - 1


@register(
    "simhash_near_dup", survey="LLM-dedup",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
            FROM documents)
    ), h AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        FROM toks
    ), votes AS (
        SELECT doc_id, g.b,
               SUM(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN UNNEST(generate_series(0, {SIMHASH_BITS - 1}))
                 AS g(b)
        GROUP BY 1, 2
    ), fp AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << b)
                        ELSE 0::BIGINT END) AS BIGINT) AS simhash
        FROM votes GROUP BY 1
    ), bands AS (
        SELECT doc_id, simhash, u.q,
               (simhash >> (u.q * {_BAND_BITS})) & {(1 << _BAND_BITS) - 1}
                   AS qh
        FROM fp CROSS JOIN UNNEST(generate_series(0, {_SIMHASH_BANDS - 1}))
                 AS u(q)
    )
    SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM bands a JOIN bands b
      ON a.q = b.q AND a.qh = b.qh AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_DIST}
    """,
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: ALL pairs within Hamming distance ≤ 5 of the
    60-bit fingerprint. Candidates = exact match on any of six 10-bit
    bands (pigeonhole: d ≤ bands−1 guarantees a shared band, so the
    result is the complete ≤5 set, verified in tests/test_minhash.py
    and by the full DuckDB vote-replay oracle).
    Scale note (100 TB): band width trades completeness for bucket
    size — 10-bit bands give ~N/1024 docs per bucket; at extreme
    corpus sizes widen the bands and accept a smaller d guarantee, or
    band a 128-bit fingerprint."""
    t = load_tables(spark, sf_dir, ("documents",))
    fps = simhash(t["documents"])
    bands_arr = F.array(*[
        F.struct(F.lit(q).alias("q"),
                 F.shiftright(F.col("simhash"), q * _BAND_BITS)
                  .bitwiseAND(F.lit((1 << _BAND_BITS) - 1)).alias("qh"))
        for q in range(_SIMHASH_BANDS)
    ])
    banded = (fps.select("doc_id", "simhash", F.explode(bands_arr).alias("b"))
              .select("doc_id", "simhash", "b.q", "b.qh")
              # materialize before the self-join: self-referenced
              # frames are not auto-reused, so without this the 60-vote
              # fingerprint aggregate runs TWICE (same pitfall as
              # graph.purchase_edges). Remaining cost is output-bound:
              # the driver corpus' shared vocabulary puts a large
              # fraction of all pairs within small Hamming distance
              .localCheckpoint(eager=False))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.q") == F.col("b.q")) & (F.col("a.qh") == F.col("b.qh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_id_1"),
                F.col("b.doc_id").alias("doc_id_2"),
                hamming(F.col("a.simhash"), F.col("b.simhash"))
                .cast("int").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= _SIMHASH_MAX_DIST)
        .orderBy("doc_id_1", "doc_id_2")
    )


# ---------------------------------------------------------------------------
# incremental near-dup ingest: new batch vs existing corpus, band-indexed
# ---------------------------------------------------------------------------

#: md5-permutation MinHash for the INCREMENTAL path: unlike the
#: xxhash64 signatures above (faster, but rows-only — DuckDB lacks the
#: hash), md5 exists on both engines, so this variant's whole
#: band-index construction is driver-hash-checked end to end.
INC_PERMS = 16
INC_BANDS = 8
INC_ROWS = INC_PERMS // INC_BANDS
#: first-2-hex-chars cutoff splitting the corpus into the already-
#: ingested "old" set (~80%) and the arriving "new" batch (~20%).
INC_OLD_CUT = "cc"
#: exact-Jaccard acceptance threshold for verified pairs.
INC_TAU = 0.5


@register(
    "incremental_minhash_ingest",
    survey="ext-dedup,D2,J1,A6",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d,
             UNNEST(generate_series(1, len(t) - 2)) AS u(i)
    ), flags AS (
        SELECT DISTINCT doc_id,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= '{INC_OLD_CUT}'
                   AS is_new
        FROM sh
    ), mh AS (
        SELECT doc_id, p,
               MIN(md5(CAST(p AS VARCHAR) || '|' || s)) AS h
        FROM sh CROSS JOIN UNNEST(generate_series(0, {INC_PERMS - 1}))
                 AS g(p)
        GROUP BY 1, 2
    ), bands AS (
        SELECT doc_id, CAST(p / {INC_ROWS} AS INT) AS band,
               STRING_AGG(h, '|' ORDER BY p) AS key
        FROM mh GROUP BY 1, 2
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key
         AND a.doc_id < b.doc_id
        JOIN flags f1 ON f1.doc_id = a.doc_id
        JOIN flags f2 ON f2.doc_id = b.doc_id
        WHERE f1.is_new OR f2.is_new
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
    )
    SELECT c.doc_id_1, c.doc_id_2,
           COUNT(*) * 1e0 / (s1.n + s2.n - COUNT(*)) AS jaccard,
           CASE WHEN f1.is_new AND f2.is_new THEN 'intra-batch'
                ELSE 'backfill' END AS pair_kind
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_id_1
    JOIN sh b ON b.doc_id = c.doc_id_2 AND a.s = b.s
    JOIN sizes s1 ON s1.doc_id = c.doc_id_1
    JOIN sizes s2 ON s2.doc_id = c.doc_id_2
    JOIN flags f1 ON f1.doc_id = c.doc_id_1
    JOIN flags f2 ON f2.doc_id = c.doc_id_2
    GROUP BY 1, 2, s1.n, s2.n, f1.is_new, f2.is_new
    HAVING COUNT(*) * 1e0 / (s1.n + s2.n - COUNT(*)) >= {INC_TAU}
    """,
)
def incremental_minhash_ingest(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup ingest — the production shape of MinHash
    dedup at 100 TB: when a new batch arrives, nobody re-pairs the
    whole corpus; the existing documents' band index is a persisted
    artifact and the new batch only joins new×(old ∪ new) band
    collisions, skipping the old×old pairs that were resolved in
    every previous ingest. Here the corpus splits deterministically
    (md5 bucket of doc_id, ~80% "old"/20% "new") so the driver can
    hash-check the whole construction; the candidate filter
    `is_new(a) OR is_new(b)` is exactly the index-reuse contract —
    old×old never re-verifies.

    Unlike `minhash_near_dup` (affine permutations over one base
    hash), the permutations here are md5-keyed per permutation index
    (`md5(p || '|' || shingle)`, minimum as a fixed-width hex string,
    where lexicographic MIN == numeric MIN) — k independent hashes
    rather than k affine images of one hash, the higher-quality/
    higher-cost end of the same family, and equally driver-hash-
    verified. Candidates get the exact-Jaccard re-check at
    τ={INC_TAU} on the shared shingle sets, so the (identical)
    banding recall on both sides cancels out of the comparison.

    Scale: shingle explode (corpus-sized, shared by the band and the
    docset chains through one ReusedExchange — single action, no
    checkpoint), a (doc, perm)-keyed MIN aggregate ({INC_PERMS}×
    shingle rows, map-combinable), a (doc, band) string fold, the
    band-bucket self-join (bounded by bucket occupancy, the LSH
    point), then one array_intersect verify per candidate over the
    per-doc sorted shingle arrays (collision-bounded frame, both
    docset joins AQE-broadcast). In steady state the old side's
    `sh`→`bands` chain is read from the persisted index instead of
    recomputed — the plan after that line is unchanged."""
    t = load_tables(spark, sf_dir, ("documents",))
    # ONE action, no checkpoint (r11): `sh` feeds exactly two chains
    # (minhash bands, per-doc shingle arrays) whose identical distinct
    # exchange is deduplicated by ReusedExchange; the old/new flag is
    # a PURE FUNCTION of doc_id, so the former flags frame (a distinct
    # + two joins onto the band self-join) is now an expression on the
    # candidate pair itself; and the exact verify is array_intersect
    # over per-doc sorted shingle arrays (the prefix_filter /
    # curation_funnel shape) instead of two corpus-sized pair-keyed
    # shingle joins — the candidate frame is collision-bounded, so
    # both docset joins AQE-broadcast. 15 -> ~10 scheduled jobs and
    # the two largest shuffles deleted (SCALE.md §13).
    sh = shingled_rows(spread(t["documents"], "doc_id"))

    def is_new(col: str):
        return (F.substring(F.md5(F.col(col).cast("string")), 1, 2)
                >= INC_OLD_CUT)

    # r12: the INC_PERMS-way permutation explode + (doc, p)-keyed MIN
    # + second (doc, band) collect_list shuffle is folded into ONE
    # doc-keyed aggregate with INC_PERMS column minima (the p index is
    # a literal per column, so md5('p|s') and its minimum are
    # bit-identical to the exploded form) — 2 exchanges -> 1, and the
    # shuffle carries docs rows instead of docs x INC_PERMS rows. The
    # band keys then concat the per-band minima in p order directly,
    # replacing the array_sort(collect_list(struct)) fold.
    mh = sh.groupBy("doc_id").agg(*[
        F.min(F.md5(F.concat_ws("|", F.lit(str(p)), F.col("s"))))
        .alias(f"h{p}") for p in range(INC_PERMS)])
    band_structs = [
        F.struct(
            F.lit(band).cast("int").alias("band"),
            F.concat_ws("|", *[F.col(f"h{band * INC_ROWS + j}")
                               for j in range(INC_ROWS)]).alias("key"))
        for band in range(INC_BANDS)]
    bands = (mh.select("doc_id",
                       F.explode(F.array(*band_structs)).alias("bk"))
             .select("doc_id", "bk.band", "bk.key"))
    cand = (bands.alias("a")
            .join(bands.alias("b"),
                  (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.key") == F.col("b.key"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_id_1"),
                    F.col("b.doc_id").alias("doc_id_2"))
            .distinct()
            .withColumn("a_new", is_new("doc_id_1"))
            .withColumn("b_new", is_new("doc_id_2"))
            .filter(F.col("a_new") | F.col("b_new")))
    docsets = (sh.groupBy("doc_id")
               .agg(F.array_sort(F.collect_list("s")).alias("sset"),
                    F.count("*").alias("n")))
    j = (cand
         .join(docsets.select(F.col("doc_id").alias("doc_id_1"),
                              F.col("sset").alias("set1"),
                              F.col("n").alias("n1")), "doc_id_1")
         .join(docsets.select(F.col("doc_id").alias("doc_id_2"),
                              F.col("sset").alias("set2"),
                              F.col("n").alias("n2")), "doc_id_2")
         .withColumn("n_common",
                     F.size(F.array_intersect("set1", "set2"))
                     .cast("long")))
    jac = (F.col("n_common")
           / (F.col("n1") + F.col("n2") - F.col("n_common")))
    return (j.filter(jac >= INC_TAU)
            .select("doc_id_1", "doc_id_2", jac.alias("jaccard"),
                    F.when(F.col("a_new") & F.col("b_new"), "intra-batch")
                     .otherwise("backfill").alias("pair_kind")))


# ---------------------------------------------------------------------------
# banding calibration — the S-curve tuning table for (b, r)
# ---------------------------------------------------------------------------

#: deterministic doc sample for the calibration pair census: first md5
#: hex char < '4' = 25% of docs. Calibration needs pair STATISTICS,
#: not every pair — the sample bound is what keeps the exact
#: all-shared-shingle census runnable at any corpus size.
CALIB_CUT = "4"


def _calib_theory() -> dict[int, float]:
    """P(candidate | J = bucket midpoint) = 1 - (1 - s^r)^b for the
    configured banding — computed ONCE in Python and embedded as
    literals on both sides (no runtime transcendental)."""
    out = {}
    for bkt in range(10):
        s = (bkt + 0.5) / 10.0
        p = 1.0 - (1.0 - s ** ROWS_PER_BAND) ** N_BANDS
        out[bkt] = fround_val(p)
    return out


def _calib_oracle() -> str:
    theory = " ".join(f"WHEN {k} THEN CAST('{v!r}' AS DOUBLE)"
                      for k, v in _calib_theory().items())
    return f"""
    WITH docs_s AS (
        SELECT doc_id, text FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '{CALIB_CUT}'
    ), sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM docs_s) d,
             UNNEST(generate_series(1, len(t) - 2)) AS u(i)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
    ), pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), h AS (
        SELECT doc_id, s,
               ('0x' || substr(md5(s), 1, 15))::BIGINT % {MERSENNE} AS h0
        FROM sh
    ), params(i, a, b) AS (VALUES {_MH_PARAM_VALUES}),
    sig AS (
        SELECT doc_id, p.i, MIN((p.a * h.h0 + p.b) % {MERSENNE}) AS sig
        FROM h CROSS JOIN params p GROUP BY 1, 2
    ), bands AS (
        SELECT doc_id, i // {ROWS_PER_BAND} AS band,
               STRING_AGG(CAST(sig AS VARCHAR), '|' ORDER BY i) AS key
        FROM sig GROUP BY 1, 2
    ), cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ), bucketed AS (
        SELECT LEAST(CAST(FLOOR(p.c * 10e0 / (s1.n + s2.n - p.c))
                          AS BIGINT), 9) AS bucket,
               (c.d1 IS NOT NULL) AS is_cand
        FROM pairs p
        JOIN sizes s1 ON s1.doc_id = p.d1
        JOIN sizes s2 ON s2.doc_id = p.d2
        LEFT JOIN cand c ON c.d1 = p.d1 AND c.d2 = p.d2
    )
    SELECT CAST(bucket AS INT) AS bucket,
           bucket / 1e1 AS j_lo, (bucket + 1) / 1e1 AS j_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT)
               AS n_candidates,
           {fround_sql("SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) * 1e0"
                       " / COUNT(*)")} AS observed_rate,
           CASE bucket {theory} END AS theoretical_rate
    FROM bucketed
    GROUP BY bucket
    """


@register("minhash_banding_calibration", survey="ext-dedup,A6,J1,U5",
          oracle=_calib_oracle())
def minhash_banding_calibration(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The LSH S-CURVE, measured: per exact-Jaccard decile, the
    fraction of document pairs the configured banding
    ({N_BANDS} bands x {ROWS_PER_BAND} rows) actually emitted as
    candidates, against the analytic 1-(1-s^r)^b at the bucket
    midpoint. This is THE tuning table for (b, r): before running
    minhash dedup on 100 TB you check that the measured curve's knee
    sits at your dedup threshold (here: ~0.46 for b=16, r=2) and that
    low-J buckets stay near zero (wasted verify work) while high-J
    buckets saturate (recall). Completes the minhash family:
    signatures -> banding -> incremental ingest -> audit -> CALIBRATE.

    Scale: calibration needs pair statistics, not every pair, so the
    census runs on a deterministic 25% md5 doc sample — the exact
    shared-shingle join is BOUNDED BY CONSTRUCTION regardless of
    corpus size (sampling is the scale story; the banding side reuses
    the one-pass signature aggregate). Theoretical probabilities are
    Python-computed literals — no runtime transcendental (PARITY.md
    section 4). Pairs sharing zero shingles (J = 0 exactly) are out of
    census scope on both sides; the decile bucket is a single
    mirrored IEEE divide (FLOOR(c*10e0/(n1+n2-c)) — deterministic on
    both engines, though not pure-integer) over exact integer counts."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs_s = (t["documents"]
              .filter(F.substring(F.md5(F.col("doc_id").cast("string")),
                                  1, 1) < CALIB_CUT))
    sh = shingles(docs_s).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = (sh.select(F.col("doc_id").alias("d1"),
                      F.col("token").alias("s")),
            sh.select(F.col("doc_id").alias("d2"),
                      F.col("token").alias("s2")))
    pairs = (a.join(b, (a["s"] == b["s2"]) & (a["d1"] < b["d2"]))
             .groupBy("d1", "d2").agg(F.count("*").alias("c")))
    sigs = minhash_signatures(docs_s, shing=sh)
    cands = (lsh_candidate_pairs(sigs)
             .select(F.col("doc_id_1").alias("d1"),
                     F.col("doc_id_2").alias("d2"),
                     F.lit(True).alias("is_cand")))
    bucket = F.least(F.floor(F.col("c") * F.lit(10.0)
                             / (F.col("n1") + F.col("n2") - F.col("c")))
                     .cast("long"), F.lit(9).cast("long"))
    bucketed = (pairs
                .join(sizes.select(F.col("doc_id").alias("d1"),
                                   F.col("n").alias("n1")), "d1")
                .join(sizes.select(F.col("doc_id").alias("d2"),
                                   F.col("n").alias("n2")), "d2")
                .join(cands, ["d1", "d2"], "left")
                .select(bucket.alias("bucket"),
                        F.coalesce(F.col("is_cand"), F.lit(False))
                        .alias("is_cand")))
    theory = _calib_theory()
    tcol = F.col("bucket")
    texpr = F.lit(None).cast("double")
    for k, v in theory.items():
        texpr = F.when(tcol == k, F.lit(v)).otherwise(texpr)
    n_cand = F.sum(F.when(F.col("is_cand"), 1).otherwise(0))
    return (bucketed.groupBy("bucket")
            .agg(F.count("*").alias("n_pairs"),
                 n_cand.cast("long").alias("n_candidates"),
                 fround(n_cand * F.lit(1.0) / F.count("*"))
                 .alias("observed_rate"))
            .select(F.col("bucket").cast("int").alias("bucket"),
                    (F.col("bucket") / F.lit(1e1)).alias("j_lo"),
                    ((F.col("bucket") + 1) / F.lit(1e1)).alias("j_hi"),
                    "n_pairs", "n_candidates", "observed_rate",
                    texpr.alias("theoretical_rate")))
