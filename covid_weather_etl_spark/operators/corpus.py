"""Training-corpus preparation operators (LLM-pipeline extension).

The steps between "deduplicated documents" and "training batches" that
every large-scale pretraining pipeline runs, each expressed so it is
deterministic (no RNG — reproducible across cluster layouts and runs)
and oracle-checkable:

- **hash-stratified sampling**: sample ~10% per language via a
  content-independent md5 bucket of the doc id — the deterministic
  replacement for `TABLESAMPLE`/`rand()` that survives re-runs,
  backfills, and repartitioning unchanged.
- **train/test contamination check**: hash-split the corpus, then flag
  test documents sharing a winnowing fingerprint with ANY train
  document (the shared-substring guarantee from operators/text.py
  makes this a real leakage detector, not an exact-match check).
- **sequence packing**: assign documents to fixed-token-budget
  training batches by cumulative token count per language stream —
  the contiguous-packing shape; the per-stream window partitions on
  lang, and the two-phase prefix sum (see
  windows.skew_resilient_running_total) is the drop-in replacement
  when one stream outgrows a task.
- **near-dup cluster resolution**: connected components over the
  3-gram-Jaccard near-dup pair set via iterative min-label
  propagation, then keep the minimum doc id as each cluster's
  canonical representative — turning pairwise dedup output into an
  actual keep/drop decision.

Scale notes (100 TB): sampling/packing/contamination are single-window
or single-join plans partitioned by natural keys. Label propagation
converges in O(diameter) rounds of one join + one min-aggregate each
(near-dup cluster diameters are tiny in practice); each round shuffles
only (doc_id, label) pairs, and the loop carries a single scalar per
round to the driver for the convergence test. For adversarial graph
shapes the same loop upgrades to the large-star/small-star algorithm
(Kiveris et al., "Connected Components in MapReduce"), which bounds
rounds at O(log² n) — the structure here (symmetric edges, min-label
join, fixpoint test) is exactly that algorithm's inner step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from covid_weather_etl_spark.functions import driver
from covid_weather_etl_spark.functions.artifacts import artifact_path, ensure
from covid_weather_etl_spark.functions.numeric import (
    fround, fround_sql, md5_int,
)
from covid_weather_etl_spark.functions.textops import ngrams, shingled_rows
from covid_weather_etl_spark.operators import text as TX
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import (
    load_tables, read_parquet, spread,
)

#: md5-hex prefix cutoffs: first 2 hex chars < '1a' ≈ 26/256 ≈ 10.2%
#: sample; first char < '4' = 4/16 = 25% test split. String comparison
#: of hex digits is identical in Spark and DuckDB.
SAMPLE_CUT = "1a"
TEST_CUT = "4"

#: token budget per packed training batch (whitespace tokens).
PACK_BUDGET = 2048

#: label-propagation round cap — near-dup clusters are shallow; the
#: cap only guards against adversarial chain graphs.
MAX_CC_ROUNDS = 20


def _hash_bucket(col: str = "doc_id", n_chars: int = 2) -> F.Column:
    """Deterministic md5-hex bucket of an id column (content- and
    layout-independent)."""
    return F.substring(F.md5(F.col(col).cast("string")), 1, n_chars)


@register(
    "hash_stratified_sample",
    survey="corpus-sample,P4,A6",
    oracle=f"""
    SELECT doc_id, lang,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{SAMPLE_CUT}'
    """,
)
def hash_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample: md5-bucket the doc id and keep
    buckets below the cutoff. Unlike `rand()`/`TABLESAMPLE`, membership
    is a pure function of the id — stable under re-runs, retries, and
    repartitioning, and the per-language sample rate concentrates to
    the global rate (md5 is independent of lang). The filter is a
    narrow map — no shuffle at any scale."""
    t = load_tables(spark, sf_dir, ("documents",))
    return (t["documents"]
            .withColumn("bucket", _hash_bucket())
            .filter(F.col("bucket") < SAMPLE_CUT)
            .select("doc_id", "lang", "bucket"))


@register(
    "contamination_check",
    survey="corpus-contamination,J7,A5",
    oracle=f"""
    WITH {TX.WINNOW_FPS_CTES},
    split AS (
        SELECT doc_id,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '{TEST_CUT}'
                   AS is_test
        FROM documents
    ),
    test_fps AS (
        SELECT f.doc_id, f.fp FROM winnow_fps f
        JOIN split s ON f.doc_id = s.doc_id WHERE s.is_test
    ),
    train_fps AS (
        SELECT DISTINCT f.fp FROM winnow_fps f
        JOIN split s ON f.doc_id = s.doc_id WHERE NOT s.is_test
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_fps,
           CAST(SUM(CASE WHEN tr.fp IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared,
           ROUND(SUM(CASE WHEN tr.fp IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS contamination
    FROM test_fps t LEFT JOIN train_fps tr ON t.fp = tr.fp
    GROUP BY t.doc_id
    HAVING SUM(CASE WHEN tr.fp IS NOT NULL THEN 1 ELSE 0 END) > 0
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage detector: hash-split the corpus 75/25, then
    flag every test document sharing a winnowing fingerprint with any
    train document, with the shared-fingerprint fraction as the
    contamination score. Winnowing's guarantee (any shared substring of
    length ≥ k+w-1 shares a fingerprint) makes this catch near-copies,
    not just exact matches — the check run before any public eval. The
    join key is the fingerprint: pre-aggregated distinct train fps,
    one shuffle each side, no doc×doc pair space."""
    t = load_tables(spark, sf_dir, ("documents",))
    fps = TX.winnow_fps(t["documents"])
    is_test = _hash_bucket(n_chars=1) < TEST_CUT
    split = t["documents"].select("doc_id", is_test.alias("is_test"))
    # the flagged fingerprint frame feeds BOTH the test and train
    # branches — self-referenced frames are not auto-reused, so without
    # materialization the corpus-sized winnowing explode runs twice;
    # the frame itself is tiny (docs × ~a-dozen fps), so an eager
    # localCheckpoint (same pattern as dedup_clusters' fixpoint) pays
    # one small write to halve the heavy work
    fps = fps.join(split, "doc_id").localCheckpoint(eager=False)
    test_fps = fps.filter(F.col("is_test")).select("doc_id", "fp")
    train_fps = (fps.filter(~F.col("is_test"))
                 .select("fp").distinct()
                 .withColumn("in_train", F.lit(1)))
    shared = F.sum(F.when(F.col("in_train").isNotNull(), 1).otherwise(0))
    return (test_fps
            .join(train_fps, "fp", "left")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_fps"),
                 shared.cast("long").alias("n_shared"),
                 F.round(shared * 1.0 / F.count("*"), 6)
                 .alias("contamination"))
            .filter(F.col("n_shared") > 0))


@register(
    "sequence_packing",
    survey="corpus-pack,W1,A7",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                           ROWS UNBOUNDED PRECEDING)
                       - n_tokens) / {PACK_BUDGET}) AS BIGINT) AS batch_id
    FROM toks
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing: within each language stream
    (ordered by doc id for determinism) assign every document to the
    training batch whose token budget its cumulative offset falls in —
    the packing shape behind fixed-length pretraining batches. One
    keyed window per stream; when a single stream outgrows one task,
    swap the window for the two-phase blocked prefix sum
    (windows.skew_resilient_running_total) — identical output."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = t["documents"].select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"))
    w = (W.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    offset = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return toks.select(
        "doc_id", "lang", "n_tokens",
        F.floor(offset / PACK_BUDGET).cast("long").alias("batch_id"))


@register(
    "pack_efficiency_report",
    survey="corpus-pack,A6,A8,W7,F9",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ), packed AS (
        SELECT doc_id, lang, n_tokens,
               CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang
                                               ORDER BY doc_id
                                               ROWS UNBOUNDED PRECEDING)
                           - n_tokens) / {PACK_BUDGET}) AS BIGINT)
                   AS batch_id
        FROM toks
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_doc_tokens,
           CAST(MAX(batch_id) + 1 AS BIGINT) AS n_batches,
           CAST(CEIL(SUM(n_tokens) * 1.0 / {PACK_BUDGET}) AS BIGINT)
               AS n_batches_lb,
           {fround_sql(f"SUM(n_tokens) * 1e0 / ((MAX(batch_id) + 1)"
                       f" * {PACK_BUDGET})")} AS fill_share
    FROM packed GROUP BY lang
    """,
)
def pack_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency accounting per language stream — the
    utilization report behind every context-window packing decision:
    how many PACK_BUDGET-token batches the deterministic contiguous
    packing (sequence_packing's exact batch_id formula) actually
    uses, against the bin-packing LOWER BOUND ceil(stream tokens /
    budget) no packer can beat, plus the fill share (padding waste =
    1 − fill) and the largest single document (straddle risk — a doc
    longer than the budget forces splitting upstream). The gap
    between n_batches and n_batches_lb is the compute a smarter
    packer (FFD, best-fit) could reclaim — measured, not guessed.

    Plan: one scan into (doc, lang, tokens), the same per-stream
    cumulative window sequence_packing uses (partitioned by lang —
    never global; the two-phase blocked prefix sum is the drop-in at
    100 TB), one map-combinable aggregate per lang. fill_share is a
    single division of exact integers, snapped on both engines."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = t["documents"].select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"))
    w = (W.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    offset = F.sum("n_tokens").over(w) - F.col("n_tokens")
    packed = toks.withColumn(
        "batch_id", F.floor(offset / PACK_BUDGET).cast("long"))
    return (packed.groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens"),
                 F.max("n_tokens").cast("long").alias("max_doc_tokens"),
                 (F.max("batch_id") + 1).cast("long").alias("n_batches"),
                 F.ceil(F.sum("n_tokens") * F.lit(1.0)
                        / F.lit(PACK_BUDGET)).cast("long")
                 .alias("n_batches_lb"),
                 fround(F.sum("n_tokens") * F.lit(1.0)
                        / ((F.max("batch_id") + 1) * F.lit(PACK_BUDGET)))
                 .alias("fill_share")))


@register(
    "tokenizer_drift_eval",
    survey="LLM-text,corpus-funnel,A5,A6,J1",
    oracle=lambda: f"""
    WITH RECURSIVE {TX._bpe_st_ctes()},
    fin AS (
        SELECT word, CAST(len(syms) AS BIGINT) AS w_syms
        FROM st WHERE round = (SELECT MAX(round) FROM st)
    ),
    dw AS (
        SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                         >= '{ICC_INC_CUT}'
                    THEN 'new' ELSE 'old' END AS slice,
               lang, doc_id, word, CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT doc_id, lang,
                     unnest(string_split(text, ' ')) AS word
              FROM documents)
        GROUP BY 1, 2, 3, 4
    )
    SELECT slice, lang,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(k) AS BIGINT) AS n_tokens,
           CAST(SUM(k * w_syms) AS BIGINT) AS n_bpe_syms,
           {fround_sql("SUM(k * w_syms) * 1e0 / SUM(k)")} AS fertility
    FROM dw JOIN fin USING (word)
    GROUP BY 1, 2
    """,
)
def tokenizer_drift_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER DRIFT monitor — fertility (BPE symbols per
    whitespace token) of the PERSISTED tokenizer artifact
    (ensure_bpe_artifacts, trained once on the full corpus) measured
    separately on the already-ingested store vs the arriving batch
    (the incremental md5 split the dedup seam uses), per language.
    Rising fertility on new data is the standard signal that a
    shipped tokenizer no longer fits the distribution (new domains,
    languages, formats) and a retrain/extension is due — the
    production monitor that sits NEXT to the serving seam, reading
    the artifact instead of retraining (bpe_fertility_by_lang's
    per-slice upgrade, same vocabulary-join encoding as
    bpe_encode_documents).

    Plan: one corpus scan into (slice, lang, word) counts
    (map-combinable), one broadcast join against the Zipf-bounded
    persisted segmentation, one tiny aggregate; fertility is a single
    snapped division of exact integers. Oracle replays the training
    loop (the shared _bpe_st_ctes recursive CTE) and the same split."""
    _, vocab = TX.ensure_bpe_artifacts(spark, sf_dir)
    enc = vocab.select("word", F.size("syms").cast("long").alias("w_syms"))
    t = load_tables(spark, sf_dir, ("documents",))
    slice_c = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
        >= ICC_INC_CUT, F.lit("new")).otherwise(F.lit("old"))
    dw = (spread(t["documents"], "doc_id")
          .select(slice_c.alias("slice"), "lang", "doc_id",
                  F.explode(F.split("text", " ")).alias("word"))
          .groupBy("slice", "lang", "doc_id", "word")
          .agg(F.count("*").alias("k")))
    return (dw.join(F.broadcast(enc), "word")
            .groupBy("slice", "lang")
            .agg(F.countDistinct("doc_id").cast("long").alias("n_docs"),
                 F.sum("k").cast("long").alias("n_tokens"),
                 F.sum(F.col("k") * F.col("w_syms")).cast("long")
                 .alias("n_bpe_syms"),
                 fround(F.sum(F.col("k") * F.col("w_syms")) * F.lit(1.0)
                        / F.sum("k")).alias("fertility")))


@register(
    "dedup_clusters",
    survey="corpus-cc,LLM-dedup,J1",
    oracle=f"""
    WITH RECURSIVE {TX.NGRAM_PAIRS_CTES},
    edges AS (
        SELECT doc_id_1 AS a, doc_id_2 AS b FROM ngram_pairs
        UNION ALL
        SELECT doc_id_2, doc_id_1 FROM ngram_pairs
    ),
    walk(doc_id, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.doc_id
    )
    SELECT doc_id,
           MIN(label) AS cluster_id,
           doc_id = MIN(label) AS is_canonical
    FROM walk GROUP BY doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution: connected components over the
    3-gram-Jaccard pair set (ngram_jaccard_near_dup's edges) by
    iterative min-label propagation — each round every node adopts the
    minimum label among itself and its neighbors; at the fixpoint the
    label is the component's minimum doc id, which becomes the
    canonical document (is_canonical = keep, rest = drop). Singleton
    documents keep their own id. Convergence is detected by the global
    label sum (strictly decreasing until fixpoint), one scalar per
    round on the driver. The oracle is an independent formulation:
    DuckDB recursive-CTE label reachability + MIN.

    Gated like the BFS/Bellman-Ford pair (r10): when the canonical
    pair set fits CC_SINGLE_TASK_MAX, the contraction runs in the one
    union-find task (cc_single_task — proven hash-identical to the
    min-label fixpoint: both resolve every node to its component
    minimum), composed with the corpus by one left join; the
    propagation loop below is the above-cap scale path. The expensive
    part either way is building the pair set, which stays fully
    distributed."""
    t = load_tables(spark, sf_dir, ("documents",))
    pairs = (TX.ngram_jaccard_near_dup(spark, sf_dir)
             .select("doc_id_1", "doc_id_2")
             .localCheckpoint(eager=False))
    if driver.fits(pairs.count(), CC_SINGLE_TASK_MAX):
        lbl = cc_single_task(pairs.select(F.col("doc_id_1").alias("a"),
                                          F.col("doc_id_2").alias("b")))
        return (t["documents"].select("doc_id")
                .join(lbl.withColumnRenamed("node", "doc_id"),
                      "doc_id", "left")
                .select("doc_id",
                        F.coalesce("lbl", "doc_id").alias("cluster_id"),
                        (F.coalesce("lbl", "doc_id") == F.col("doc_id"))
                        .alias("is_canonical")))
    edges = (pairs.select(F.col("doc_id_1").alias("src"),
                          F.col("doc_id_2").alias("dst"))
             .unionByName(pairs.select(
                 F.col("doc_id_2").alias("src"),
                 F.col("doc_id_1").alias("dst")))
             .persist())
    labels = t["documents"].select(
        "doc_id", F.col("doc_id").alias("label"))
    prev_sum, prev_frame, converged = None, None, False
    for _ in range(MAX_CC_ROUNDS):
        neighbor = (labels
                    .join(edges, labels["doc_id"] == edges["src"])
                    .select(F.col("dst").alias("doc_id"), "label"))
        labels = (labels.unionByName(neighbor)
                  .groupBy("doc_id")
                  .agg(F.min("label").alias("label"))
                  .persist())
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if prev_frame is not None:
            prev_frame.unpersist()   # round N-1's cache is dead weight
        prev_frame = labels
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    edges.unpersist()
    if not converged:
        # A component with diameter > MAX_CC_ROUNDS would exit the loop
        # with WRONG (unconverged) labels — fail loudly instead of
        # returning them. Real near-dup graphs are shallow (clusters of
        # copies, not long chains); hitting this means the cap, or the
        # propagation scheme (large-star/small-star), needs revisiting.
        prev_frame.unpersist()
        raise RuntimeError(
            f"dedup_clusters: min-label propagation did not converge "
            f"within {MAX_CC_ROUNDS} rounds (component diameter exceeds "
            f"the cap)")
    # Materialize the fixpoint, then drop the loop's cache entry —
    # persist() entries live in the CacheManager until explicitly
    # unpersisted and would accumulate across a multi-query run.
    final = labels.localCheckpoint(eager=True)
    prev_frame.unpersist()
    return final.select(
        "doc_id", F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("is_canonical"))


# ---------------------------------------------------------------------------
# training-mix construction
# ---------------------------------------------------------------------------

#: target mix proportions over the three source families (the
#: web/books/code shape of a pretraining mix).
MIX_WEIGHTS = {"g0": 0.6, "g1": 0.3, "g2": 0.1}

_GRP_SQL = "'g' || CAST(CAST(regexp_extract(source, 'src(\\d+)', 1) AS BIGINT) % 3 AS VARCHAR)"
#: weights as DOUBLE on the oracle side: DuckDB would otherwise run the
#: cap / floor math in DECIMAL, which can floor one row differently from
#: Spark's IEEE doubles when C*w lands exactly on an integer.
_W_SQL = ("CASE grp WHEN 'g0' THEN CAST(0.6 AS DOUBLE) "
          "WHEN 'g1' THEN CAST(0.3 AS DOUBLE) "
          "ELSE CAST(0.1 AS DOUBLE) END")


@register(
    "corpus_mix",
    survey="corpus-mix,W6,A6",
    oracle=f"""
    WITH tagged AS (
        SELECT doc_id, {_GRP_SQL} AS grp,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ),
    counts AS (SELECT grp, COUNT(*) AS n FROM tagged GROUP BY grp),
    cap AS (SELECT MIN(CAST(n AS DOUBLE) / ({_W_SQL})) AS c FROM counts),
    targets AS (
        SELECT grp, CAST(FLOOR(cap.c * ({_W_SQL})) AS BIGINT) AS n_target
        FROM counts, cap
    ),
    ranked AS (
        SELECT doc_id, grp,
               row_number() OVER (PARTITION BY grp ORDER BY h, doc_id) AS rn
        FROM tagged
    )
    SELECT r.doc_id, r.grp
    FROM ranked r JOIN targets t ON r.grp = t.grp
    WHERE r.rn <= t.n_target
    """,
)
def corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction: pick the LARGEST corpus subset whose
    source-family proportions exactly match MIX_WEIGHTS. The cap is
    C = min over groups of n_g / w_g (the binding family), each family
    contributes floor(C·w_g) documents, and WHICH documents is decided
    by md5-rank within the family — deterministic, no RNG, stable
    under repartitioning. One aggregate for the counts (broadcast back
    as a 3-row frame), one per-family window for the rank — at 100 TB
    the rank window partitions by family; for families too large for
    one task, switch the rank to the md5-threshold form (no window)
    and accept ±ε on the exact counts."""
    t = load_tables(spark, sf_dir, ("documents",))
    grp = F.concat(
        F.lit("g"),
        (F.regexp_extract("source", r"src(\d+)", 1).cast("bigint") % 3)
        .cast("string"))
    w_expr = (F.when(F.col("grp") == "g0", MIX_WEIGHTS["g0"])
              .when(F.col("grp") == "g1", MIX_WEIGHTS["g1"])
              .otherwise(MIX_WEIGHTS["g2"]))
    tagged = t["documents"].select(
        "doc_id", grp.alias("grp"),
        F.md5(F.col("doc_id").cast("string")).alias("h"))
    counts = tagged.groupBy("grp").agg(F.count("*").alias("n"))
    cap = counts.agg(F.min(F.col("n") / w_expr).alias("c"))
    targets = (counts.crossJoin(F.broadcast(cap))
               .select("grp", F.floor(F.col("c") * w_expr)
                       .cast("long").alias("n_target")))
    w = W.partitionBy("grp").orderBy("h", "doc_id")
    return (tagged
            .withColumn("rn", F.row_number().over(w))
            .join(F.broadcast(targets), "grp")
            .filter(F.col("rn") <= F.col("n_target"))
            .select("doc_id", "grp"))


# ---------------------------------------------------------------------------
# cleaning-funnel report
# ---------------------------------------------------------------------------

#: funnel thresholds (C4-style cleaning cascade)
MIN_CHARS = 200
MIN_TOKENS = 20
MIN_DISTINCT_RATIO = 0.2


@register(
    "quality_filter_funnel",
    survey="corpus-funnel,A1,A3,F8",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               n_chars >= {MIN_CHARS} AS p1,
               len(string_split(text, ' ')) >= {MIN_TOKENS} AS p2,
               len(list_distinct(string_split(text, ' '))) * 1.0
                   / len(string_split(text, ' ')) >= {MIN_DISTINCT_RATIO} AS p3,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) = 1 AS p4
        FROM documents
    ),
    flags AS (
        SELECT doc_id,
               p1, p1 AND p2 AS s2, p1 AND p2 AND p3 AS s3,
               p1 AND p2 AND p3 AND p4 AS s4
        FROM scored
    )
    SELECT stage, n_in, n_out,
           ROUND((n_in - n_out) * 1.0 / n_in, 6) AS drop_rate
    FROM (
        SELECT 1 AS stage, 'min_chars' AS rule, COUNT(*) AS n_in,
               CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n_out
        FROM flags
        UNION ALL
        SELECT 2, 'min_tokens',
               CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) FROM flags
        UNION ALL
        SELECT 3, 'distinct_ratio',
               CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) FROM flags
        UNION ALL
        SELECT 4, 'exact_dedup',
               CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) FROM flags
    )
    """,
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning-funnel attrition report: how many documents survive
    each stage of the C4-style cascade (length floor → token floor →
    repetition gate → exact-dedup keep-first) — the per-stage
    accounting every corpus-cleaning run publishes. One pass computes
    all stage flags per doc (the dedup flag is a per-content-hash
    window, shuffling 16-byte digests); the funnel itself is four
    conditional sums over the flag frame — no per-stage rescans of the
    corpus, which is the property that matters when the corpus is
    100 TB and each rescan is a day."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = F.split("text", " ")
    wdup = W.partitionBy(F.md5("text")).orderBy("doc_id")
    flags = t["documents"].select(
        "doc_id",
        (F.col("n_chars") >= MIN_CHARS).alias("p1"),
        (F.size(toks) >= MIN_TOKENS).alias("p2"),
        ((F.size(F.array_distinct(toks)) * 1.0 / F.size(toks))
         >= MIN_DISTINCT_RATIO).alias("p3"),
        (F.row_number().over(wdup) == 1).alias("p4"),
    ).select(
        "doc_id", "p1",
        (F.col("p1") & F.col("p2")).alias("s2"),
        (F.col("p1") & F.col("p2") & F.col("p3")).alias("s3"),
        (F.col("p1") & F.col("p2") & F.col("p3") & F.col("p4")).alias("s4"),
    )
    cnt = F.count("*")
    c = {k: F.sum(F.col(k).cast("long")) for k in ("p1", "s2", "s3", "s4")}
    agg = flags.agg(cnt.alias("n_docs"), *[v.alias(k) for k, v in c.items()])
    stages = [
        (1, F.col("n_docs"), F.col("p1")),
        (2, F.col("p1"), F.col("s2")),
        (3, F.col("s2"), F.col("s3")),
        (4, F.col("s3"), F.col("s4")),
    ]
    rows = [agg.select(F.lit(i).alias("stage"),
                       n_in.cast("long").alias("n_in"),
                       n_out.cast("long").alias("n_out"),
                       F.round((n_in - n_out) * 1.0 / n_in, 6)
                       .alias("drop_rate"))
            for i, n_in, n_out in stages]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# duplicated-chunk (line-level) dedup
# ---------------------------------------------------------------------------

#: tokens per chunk (the "line" unit — the corpus has no newlines, so a
#: fixed token window stands in for CCNet's newline-delimited lines).
CHUNK_TOKENS = 3
#: a chunk appearing in more than this many distinct documents is
#: boilerplate and is removed from every document that carries it.
CHUNK_DUP_DF = 5


@register(
    "dup_chunk_removal",
    survey="LLM-dedup,A2,A6,J1",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS ord
        FROM documents
    ), chunk AS (
        SELECT doc_id, CAST(FLOOR((ord - 1) / {CHUNK_TOKENS}) AS BIGINT) AS cid,
               string_agg(tok, ' ' ORDER BY ord) AS ctext
        FROM tok GROUP BY 1, 2
    ), freq AS (
        SELECT ctext, COUNT(DISTINCT doc_id) AS df
        FROM chunk GROUP BY 1
    )
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN f.df <= {CHUNK_DUP_DF} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           ROUND(SUM(CASE WHEN f.df <= {CHUNK_DUP_DF} THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS frac_kept,
           COALESCE(string_agg(
               CASE WHEN f.df <= {CHUNK_DUP_DF} THEN c.ctext END,
               ' ' ORDER BY c.cid), '') AS kept_text
    FROM chunk c JOIN freq f USING (ctext)
    GROUP BY c.doc_id
    """,
)
def dup_chunk_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-chunk removal, the CCNet/RefinedWeb *line-level*
    dedup (dedup across documents at sub-document granularity —
    headers, nav bars, license blurbs that exact- and near-dup passes
    both miss because the *documents* differ). The corpus here has no
    newlines, so the unit is a fixed {CHUNK_TOKENS}-token window:
    split each document into consecutive chunks, count each distinct
    chunk's document frequency across the corpus, strike every chunk
    whose DF exceeds {CHUNK_DUP_DF}, and reassemble what remains in
    original order, reporting the per-document survival fraction.

    Plan shape (3 shuffles, all narrow): chunk assembly is pure array
    algebra on the tokens column (slice + array_join inside transform —
    no per-token explode for assembly); DF counting shuffles (chunk,
    doc) pairs once; the dup verdict joins back by chunk text; ordered
    reassembly is a groupBy(doc_id) with an array_sort over (cid, text)
    structs — partitioned by doc, never global. At 100 TB the join key
    becomes xxhash64(chunk) (8 bytes instead of the text; md5-free
    plumbing is identical) and the DF table self-prunes: only chunks
    with DF > threshold (a tiny minority) need to survive the
    aggregate, so the verdict join is a broadcast of the boilerplate
    set — the exact CCNet architecture."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = F.split("text", " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(CHUNK_TOKENS)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * CHUNK_TOKENS + 1, CHUNK_TOKENS), " "))
    exploded = (spread(t["documents"], "doc_id")
                .select("doc_id", F.posexplode(chunks).alias("cid", "ctext")))
    freq = (exploded.groupBy("ctext")
            .agg(F.countDistinct("doc_id").alias("df")))
    marked = (exploded
              .join(freq, "ctext")
              .select("doc_id", "cid",
                      F.when(F.col("df") <= CHUNK_DUP_DF, F.col("ctext"))
                       .alias("kept_ctext")))
    assembled = (marked
                 .groupBy("doc_id")
                 .agg(F.count("*").alias("n_chunks"),
                      F.sum(F.col("kept_ctext").isNotNull().cast("long"))
                       .alias("n_kept"),
                      F.array_sort(F.collect_list(
                          F.struct("cid", "kept_ctext"))).alias("parts")))
    kept_text = F.concat_ws(
        " ", F.transform(
            F.filter("parts", lambda s: s["kept_ctext"].isNotNull()),
            lambda s: s["kept_ctext"]))
    return assembled.select(
        "doc_id", "n_chunks", "n_kept",
        F.round(F.col("n_kept") * 1.0 / F.col("n_chunks"), 6)
         .alias("frac_kept"),
        kept_text.alias("kept_text"))


# ---------------------------------------------------------------------------
# RAG chunking
# ---------------------------------------------------------------------------

#: retrieval-chunk geometry: window tokens per chunk, stride tokens
#: between chunk starts (window − stride = overlap).
RAG_WINDOW = 64
RAG_STRIDE = 48


@register(
    "rag_chunking",
    survey="LLM-corpus,P10,F1",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), spans AS (
        SELECT doc_id,
               unnest(range(0, CAST(CEIL(
                   CASE WHEN len(t) <= {RAG_WINDOW} THEN 1
                        ELSE (len(t) - {RAG_WINDOW}) / {RAG_STRIDE}.0 + 1
                   END) AS BIGINT))) AS chunk_id,
               t
        FROM toks
    )
    SELECT doc_id, chunk_id,
           array_to_string(t[chunk_id * {RAG_STRIDE} + 1 :
                             chunk_id * {RAG_STRIDE} + {RAG_WINDOW}],
                           ' ') AS chunk_text,
           CAST(least({RAG_WINDOW},
                      len(t) - chunk_id * {RAG_STRIDE}) AS BIGINT)
               AS n_tokens
    FROM spans
    """,
)
def rag_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-chunk construction: split every document into
    {RAG_WINDOW}-token windows advancing {RAG_STRIDE} tokens per step
    ({RAG_WINDOW - RAG_STRIDE}-token overlap so no answer span is cut
    at a boundary), emitting (doc_id, chunk_id, chunk_text, n_tokens)
    — the corpus an embedding indexer consumes. Chunk count =
    ceil((n − window)/stride) + 1 capped below at 1, so every document
    yields at least one chunk and the final chunk is the only short
    one.

    Pure array algebra: tokens once per doc, chunk spans via
    transform(sequence) + slice + array_join — no per-token explode,
    one row out per chunk, no shuffle at all until a downstream
    consumer groups. At 100 TB this is the classic embarrassingly
    parallel map; pair output with `hashed_bow_features` or the ANN
    stack for end-to-end retrieval indexing."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = F.split("text", " ")
    n = F.size(toks)
    n_chunks = F.when(
        n <= RAG_WINDOW, F.lit(1)
    ).otherwise(F.ceil((n - RAG_WINDOW) / F.lit(float(RAG_STRIDE)) + 1))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks.cast("int") - 1),
        lambda i: F.struct(
            i.cast("long").alias("chunk_id"),
            F.array_join(
                F.slice(toks, i * RAG_STRIDE + 1, RAG_WINDOW), " ")
            .alias("chunk_text"),
            F.least(F.lit(RAG_WINDOW), n - i * RAG_STRIDE)
            .cast("long").alias("n_tokens")))
    return (spread(t["documents"], "doc_id")
            .select("doc_id", F.explode(chunks).alias("c"))
            .select("doc_id", "c.chunk_id", "c.chunk_text", "c.n_tokens"))


# ---------------------------------------------------------------------------
# temperature-scaled sampling weights
# ---------------------------------------------------------------------------

MIX_ALPHA = 0.7  # temperature exponent (mT5/XLM-R convention)


@register(
    "temperature_mix_weights",
    survey="corpus-mix,A6,A5",
    oracle=f"""
    WITH counts AS (
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
                    AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1
    ), tot AS (
        SELECT SUM(n_tokens) AS t,
               SUM(POWER(n_tokens, {MIX_ALPHA!r})) AS tp
        FROM counts
    )
    SELECT c.lang, c.n_docs, c.n_tokens,
           ROUND(c.n_tokens * 1.0 / g.t, 6) AS raw_share,
           ROUND(POWER(c.n_tokens, {MIX_ALPHA!r}) / g.tp, 6)
               AS sampled_share,
           ROUND((POWER(c.n_tokens, {MIX_ALPHA!r}) / g.tp)
                 / (c.n_tokens * 1.0 / g.t), 6) AS boost
    FROM counts c CROSS JOIN tot g
    """,
)
def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language-sampling weights (the mT5/XLM-R
    α-smoothing): sampling share ∝ tokens^{MIX_ALPHA:g} instead of raw
    token share, which boosts low-resource languages (boost > 1) and
    damps the head — the report that turns a raw corpus census into
    multinomial sampling rates for training. The exponent runs on
    exact integer token counts, so both engines power identical
    inputs; all three ratios are rounded 6dp.

    One map-combinable census pass; everything after operates on the
    language-count-sized aggregate with a broadcast 1-row total. The
    complement of `corpus_mix` (which enforces fixed target
    proportions by capping): this one derives the proportions."""
    t = load_tables(spark, sf_dir, ("documents",))
    counts = (spread(t["documents"], "doc_id")
              .groupBy("lang")
              .agg(F.count("*").alias("n_docs"),
                   F.sum(F.size(F.split("text", " ")).cast("long"))
                    .alias("n_tokens")))
    tot = counts.agg(
        F.sum("n_tokens").alias("t"),
        F.sum(F.pow("n_tokens", F.lit(MIX_ALPHA))).alias("tp"))
    raw = F.col("n_tokens") * 1.0 / F.col("t")
    smp = F.pow("n_tokens", F.lit(MIX_ALPHA)) / F.col("tp")
    return (counts.crossJoin(F.broadcast(tot))
            .select("lang", "n_docs", "n_tokens",
                    F.round(raw, 6).alias("raw_share"),
                    F.round(smp, 6).alias("sampled_share"),
                    F.round(smp / raw, 6).alias("boost")))


# ---------------------------------------------------------------------------
# token-budget allocation (data-mixing water-filling with epoch caps)
# ---------------------------------------------------------------------------

BUDGET_X = 1.3   #: training budget = floor(BUDGET_X · total corpus tokens)
EPOCH_CAP = 1.4  #: max epochs any cohort may be repeated (cap_i = 1.4·avail)


def _wf_grid(x: float) -> int:
    """6dp micro-units: the shared grid both engines water-fill on."""
    import math
    return int(math.floor(x * 1e6 + 0.5))


def _token_budget_oracle() -> str:
    """DuckDB twin of the exact water-filling allocator: identical
    census, identical 6dp-grid weights/caps, ordered prefix sums on
    exact micro-unit integers, the same candidate-k boundary scan, the
    same MIN-k choice, and the same grid-rounded outputs — so the
    discrete capped-set selection and every emitted double match the
    driver-side Python solve bit-for-bit."""
    fl = "1000000.0"
    return f"""
    WITH counts AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
                    AS BIGINT) AS avail
        FROM documents GROUP BY 1
    ),
    tot AS (
        SELECT CAST(FLOOR(CAST('{BUDGET_X!r}' AS DOUBLE) * SUM(avail))
                    AS BIGINT) AS b
        FROM counts
    ),
    grid AS (
        SELECT lang, n_docs, avail,
               CAST(FLOOR(POWER(avail, CAST('{MIX_ALPHA!r}' AS DOUBLE))
                          * {fl} + 0.5) AS BIGINT) AS w_u,
               CAST(FLOOR((CAST('{EPOCH_CAP!r}' AS DOUBLE) * avail)
                          * {fl} + 0.5) AS BIGINT) AS cap_u
        FROM counts
    ),
    priced AS (
        SELECT *, CAST(w_u AS DOUBLE) / {fl} AS w_d,
               CAST(cap_u AS DOUBLE) / {fl} AS cap_d,
               (CAST(cap_u AS DOUBLE) / {fl})
                   / (CAST(w_u AS DOUBLE) / {fl}) AS price
        FROM grid
    ),
    ranked AS (
        SELECT *,
               CAST(ROW_NUMBER() OVER (ORDER BY price, lang) AS BIGINT)
                   AS rk,
               SUM(cap_u) OVER (ORDER BY price, lang
                                ROWS UNBOUNDED PRECEDING) AS pcap_u,
               SUM(w_u) OVER (ORDER BY price, lang
                              ROWS UNBOUNDED PRECEDING) AS pw_u,
               COALESCE(LEAD(price) OVER (ORDER BY price, lang),
                        CAST('inf' AS DOUBLE)) AS p_next,
               SUM(w_u) OVER () AS tw_u,
               COUNT(*) OVER () AS n
        FROM priced
    ),
    cand AS (
        SELECT 0 AS k, CAST(0 AS DOUBLE) AS p_k,
               (SELECT price FROM ranked WHERE rk = 1) AS p_next,
               CAST(0 AS BIGINT) AS pcap_u, CAST(0 AS BIGINT) AS pw_u
        FROM (SELECT 1)
        UNION ALL
        SELECT rk, price, p_next, pcap_u, pw_u
        FROM ranked WHERE rk < n
    ),
    lam AS (
        SELECT c.k,
               (CAST(t.b AS DOUBLE) - CAST(c.pcap_u AS DOUBLE) / {fl})
                   / (CAST((SELECT tw_u FROM ranked WHERE rk = 1)
                           - c.pw_u AS DOUBLE) / {fl}) AS lam,
               c.p_k, c.p_next
        FROM cand c CROSS JOIN tot t
    ),
    chosen AS (
        SELECT k, lam FROM lam
        WHERE (k = 0 OR p_k <= lam) AND lam <= p_next
        ORDER BY k LIMIT 1
    )
    SELECT r.lang, r.n_docs, r.avail AS avail_tokens,
           r.w_d AS weight, r.cap_d AS cap_tokens,
           CASE WHEN r.rk <= c.k THEN r.cap_d
                ELSE FLOOR(c.lam * r.w_d * {fl} + 0.5) / {fl}
           END AS alloc_tokens,
           FLOOR(CASE WHEN r.rk <= c.k THEN r.cap_d
                      ELSE FLOOR(c.lam * r.w_d * {fl} + 0.5) / {fl}
                 END / r.avail * {fl} + 0.5) / {fl} AS epochs,
           CAST(CASE WHEN r.rk <= c.k THEN 1 ELSE 0 END AS INT) AS capped,
           FLOOR(c.lam * {fl} + 0.5) / {fl} AS fill_level
    FROM ranked r CROSS JOIN chosen c
    """


@register("token_budget_allocation", survey="corpus-mix,A5,A6,W6",
          oracle=_token_budget_oracle())
def token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing token-budget allocator — the planning table that
    turns temperature weights into an actual training mix under an
    epoch cap (the LLaMA/Gopher question: "how many epochs of each
    source fit a {BUDGET_X:g}×-corpus token budget if nothing may
    repeat more than {EPOCH_CAP:g}×?"). Exact WATER-FILLING, not a
    one-round cap-and-renormalize: alloc_i = min(cap_i, λ·w_i) with λ
    solving Σ alloc = budget — cohorts cap in increasing price
    (cap/weight) order; the closed form needs one sorted prefix-sum
    scan, no iteration.

    Division of labor (the markov/codebook pattern): the corpus-sized
    census is one map-combinable distributed aggregate; the
    water-filling runs on the collected LANGUAGE-count-sized table
    (driver arithmetic on 6dp micro-unit integers, so prefix sums are
    exact and the DuckDB oracle — identical grid, identical candidate
    scan, identical MIN-k tie rule — reproduces the discrete capped
    set and every output double bit-for-bit). At 100 TB nothing
    changes: the census shrinks to one row per cohort before any
    driver math. Constants are chosen so the budget is always
    feasible (Σ cap = {EPOCH_CAP:g}·T > {BUDGET_X:g}·T ≥ budget).

    Parity caveat (PARITY.md §4): the single non-integer op is
    pow(avail, α), assumed to agree between CPython and DuckDB libm —
    it is evaluated ONCE per cohort and snapped to the 1e-6 grid
    immediately, so a hypothetical last-ulp libm divergence surfaces
    as one flipped grid cell in the driver hash, never as drift."""
    import math

    t = load_tables(spark, sf_dir, ("documents",))
    census = (spread(t["documents"], "doc_id")
              .groupBy("lang")
              .agg(F.count("*").alias("n_docs"),
                   F.sum(F.size(F.split("text", " ")).cast("long"))
                   .alias("avail"))
              .collect())                 # ≤ #languages rows: model-sized
    total = 0
    for r in census:
        total += int(r["avail"])
    budget = int(math.floor(BUDGET_X * total))
    items = []
    for r in census:
        avail = int(r["avail"])
        w_u = _wf_grid(avail ** MIX_ALPHA)
        cap_u = _wf_grid((EPOCH_CAP * avail))
        w_d, cap_d = w_u / 1e6, cap_u / 1e6
        items.append({"lang": r["lang"], "n_docs": int(r["n_docs"]),
                      "avail": avail, "w_u": w_u, "cap_u": cap_u,
                      "w_d": w_d, "cap_d": cap_d,
                      "price": cap_d / w_d})
    items.sort(key=lambda d: (d["price"], d["lang"]))
    n = len(items)
    tw_u = 0
    for d in items:
        tw_u += d["w_u"]
    total_cap_u = 0
    for d in items:
        total_cap_u += d["cap_u"]
    if budget * 1e6 > total_cap_u:
        raise ValueError("token_budget_allocation: infeasible budget "
                         "(cannot happen with BUDGET_X < EPOCH_CAP)")
    chosen_k, lam = None, None
    pcap_u, pw_u = 0, 0
    for k in range(0, n):
        # state BEFORE item k+1: first k items capped
        lam_k = ((float(budget) - pcap_u / 1e6)
                 / ((tw_u - pw_u) / 1e6))
        p_k = items[k - 1]["price"] if k > 0 else 0.0
        p_next = items[k]["price"]
        if (k == 0 or p_k <= lam_k) and lam_k <= p_next:
            chosen_k, lam = k, lam_k
            break
        pcap_u += items[k]["cap_u"]
        pw_u += items[k]["w_u"]
    if chosen_k is None:
        # unreachable while budget <= total cap (the k = n-1 candidate
        # is always valid then); surface loudly rather than diverge
        # from the oracle's empty-chosen behavior
        raise RuntimeError("token_budget_allocation: no valid water "
                           "level found despite a feasible budget")

    def fr6(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    out = []
    for rk, d in enumerate(items, start=1):
        capped = 1 if rk <= chosen_k else 0
        alloc = d["cap_d"] if capped else fr6(lam * d["w_d"])
        out.append((d["lang"], d["n_docs"], d["avail"], d["w_d"],
                    d["cap_d"], alloc, fr6(alloc / d["avail"]),
                    capped, fr6(lam)))
    return driver.local_frame(
        spark, out, "lang string, n_docs bigint, avail_tokens bigint, "
                    "weight double, cap_tokens double, alloc_tokens double, "
                    "epochs double, capped int, fill_level double")


# ---------------------------------------------------------------------------
# context-window packing accounting (concat-and-chunk)
# ---------------------------------------------------------------------------

CTX_LEN = 512  #: training context window, in whitespace tokens


@register(
    "context_packing_stats",
    survey="corpus-mix,A6,W1,P10",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ), placed AS (
        SELECT lang, n_tok,
               SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tok
                   AS tok_start,
               SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS tok_end
        FROM toks
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST((SUM(n_tok) + {CTX_LEN - 1}) // {CTX_LEN} AS BIGINT)
               AS n_windows,
           CAST((SUM(n_tok) + {CTX_LEN - 1}) // {CTX_LEN} * {CTX_LEN}
                - SUM(n_tok) AS BIGINT) AS pad_tokens,
           FLOOR(CAST((SUM(n_tok) + {CTX_LEN - 1}) // {CTX_LEN}
                      * {CTX_LEN} - SUM(n_tok) AS DOUBLE)
                 / CAST((SUM(n_tok) + {CTX_LEN - 1}) // {CTX_LEN}
                        * {CTX_LEN} AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS pad_fraction,
           CAST(SUM(CASE WHEN tok_start // {CTX_LEN}
                              <> (tok_end - 1) // {CTX_LEN}
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_split
    FROM placed
    GROUP BY lang
    """,
)
def context_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing accounting for the concat-and-chunk pipeline
    (the GPT pre-training packing: concatenate a cohort's documents in
    a fixed order, slice into {CTX_LEN}-token windows): per language —
    window count for the token budget, tail-padding waste, and how
    many documents straddle a window boundary (the attention-bleed /
    document-masking population). Pure integer math end-to-end
    (cumulative token offsets, integer division for window ids), so
    the oracle is exact by construction.

    Plan: ONE shuffle on lang shared by the ordered prefix-sum window
    and the final aggregate; the window partitions on the cohort key
    (never global). At 100 TB the same shape holds per (lang, shard)
    with shard-local offsets — packing is embarrassingly parallel
    across shards by design, documented here because the single-key
    ordering is what the driver-SF oracle replays exactly."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = (spread(t["documents"], "doc_id")
            .select("doc_id", "lang",
                    F.size(F.split("text", " ")).cast("long")
                    .alias("n_tok")))
    w = (W.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    placed = toks.select(
        "lang", "n_tok",
        (F.sum("n_tok").over(w) - F.col("n_tok")).alias("tok_start"),
        F.sum("n_tok").over(w).alias("tok_end"))
    total = F.sum("n_tok")
    n_win = F.floor((total + F.lit(CTX_LEN - 1)) / F.lit(CTX_LEN))
    pad = n_win * CTX_LEN - total
    split = F.sum(
        F.when(F.floor(F.col("tok_start") / CTX_LEN)
               != F.floor((F.col("tok_end") - 1) / CTX_LEN), 1)
        .otherwise(0))
    return (placed.groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 total.cast("long").alias("total_tokens"),
                 n_win.cast("long").alias("n_windows"),
                 pad.cast("long").alias("pad_tokens"),
                 (F.floor(pad.cast("double")
                          / (n_win * CTX_LEN).cast("double")
                          * 1e6 + F.lit(0.5)) / F.lit(1e6))
                 .alias("pad_fraction"),
                 split.cast("long").alias("docs_split")))


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling")

#: hashed n-gram feature space (2^13-2^16 in a real pipeline; 64 keeps
#: real collisions on this vocabulary so the hashing trick is exercised).
DSIR_BUCKETS = 64

#: selection cutoff — keep documents above the 80th weight percentile.
DSIR_CUT_Q = 0.8


@register(
    "dsir_importance_weights",
    survey="LLM-corpus,A6,A11,J1,F10",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS ord
        FROM documents
    ), feat AS (
        SELECT doc_id, lang, tok AS f FROM tok
        UNION ALL
        SELECT doc_id, lang, f FROM (
            SELECT doc_id, lang,
                   tok || '|' || lead(tok) OVER (PARTITION BY doc_id
                                                 ORDER BY ord) AS f
            FROM tok) WHERE f IS NOT NULL
    ), dtf AS (
        SELECT doc_id, lang,
               CAST(CAST('0x' || substr(md5(f), 1, 8) AS BIGINT)
                    % {DSIR_BUCKETS} AS BIGINT) AS bucket,
               COUNT(*) AS tf
        FROM feat GROUP BY 1, 2, 3
    ), bstat AS (
        SELECT bucket,
               SUM(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS ct,
               SUM(tf) AS cr
        FROM dtf GROUP BY 1
    ), tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM bstat),
    ratio AS (
        SELECT bucket,
               ROUND(ln((ct + 1.0) / (tt + {DSIR_BUCKETS}.0))
                     - ln((cr + 1.0) / (tr + {DSIR_BUCKETS}.0)), 6) AS lr
        FROM bstat, tot
    ), w AS (
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_feats,
               ROUND(SUM(tf * lr), 6) AS logw
        FROM dtf JOIN ratio USING (bucket) GROUP BY 1
    ), cut AS (SELECT ROUND(quantile_cont(logw, {DSIR_CUT_Q}), 6) AS c FROM w)
    SELECT doc_id, n_feats, logw,
           CAST(CASE WHEN logw >= c THEN 1 ELSE 0 END AS INT) AS selected
    FROM w, cut
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): score every raw document
    by how target-like it is under hashed-n-gram bag-of-words language
    models, then keep the top slice. Features are unigrams plus
    '|'-joined bigrams, hashed into {DSIR_BUCKETS} buckets (md5-based so
    both engines agree bit-for-bit, same rationale as
    hashed_bow_features); the target distribution is the lang='en'
    slice, the raw distribution is the whole corpus; both are
    Laplace-smoothed (alpha=1) multinomials over buckets, and
    log w(doc) = sum_b tf_b * (ln p_target[b] - ln p_raw[b]). Per-bucket
    log-ratios are rounded 6dp before the per-doc sum so both engines
    accumulate identical addends. A document is `selected` when its
    weight clears the {DSIR_CUT_Q:.0%} corpus percentile — a scalar
    cutoff, NOT a global rank window, so selection stays embarrassingly
    parallel.

    Plan shape: featurize (array algebra, one explode) -> one
    map-combinable (doc, bucket) count -> a {DSIR_BUCKETS}-row bucket
    stat table with a broadcast 1-row total -> broadcast the log-ratio
    table back over the doc-bucket counts -> per-doc aggregate -> one
    scalar percentile broadcast for the verdict. At 100 TB both "models"
    are a {DSIR_BUCKETS}-row table (paper uses 2^16 — still L2-sized),
    the heavy passes are map-combinable aggregates, and the exact
    percentile swaps for approx_percentile without touching the rest of
    the plan."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = spread(t["documents"], "doc_id")
    toks = F.split("text", " ")
    n_bi = F.size(toks) - 1
    bigrams = F.when(
        F.size(toks) >= 2,
        F.zip_with(F.slice(toks, 1, n_bi), F.slice(toks, 2, n_bi),
                   lambda a, b: F.concat(a, F.lit("|"), b))
    ).otherwise(F.array().cast("array<string>"))
    fb = docs.select("doc_id", "lang",
                     F.explode(F.concat(toks, bigrams)).alias("f"))
    bucket = md5_int("f", 8) % DSIR_BUCKETS
    # dtf feeds BOTH the bucket-model aggregate and the per-doc scorer;
    # materialize it once (localCheckpoint truncates lineage, same as
    # dedup_clusters' rounds) so the explode-heavy featurize pass runs
    # once, not once per consumer — at corpus scale re-featurizing is
    # the single biggest avoidable cost in this plan.
    dtf = (fb.groupBy("doc_id", "lang", bucket.alias("bucket"))
           .agg(F.count("*").alias("tf"))
           .localCheckpoint(eager=False))
    bstat = (dtf.groupBy("bucket")
             .agg(F.sum(F.when(F.col("lang") == "en", F.col("tf"))
                        .otherwise(F.lit(0))).alias("ct"),
                  F.sum("tf").alias("cr")))
    tot = bstat.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    nb = F.lit(float(DSIR_BUCKETS))
    lr = F.round(F.log((F.col("ct") + 1.0) / (F.col("tt") + nb))
                 - F.log((F.col("cr") + 1.0) / (F.col("tr") + nb)), 6)
    ratio = (bstat.crossJoin(F.broadcast(tot))
             .select("bucket", lr.alias("lr")))
    # w is consumed twice (cutoff percentile + verdict) — one more
    # doc-count-sized materialization instead of re-running the join.
    w = (dtf.join(F.broadcast(ratio), "bucket")
         .groupBy("doc_id")
         .agg(F.sum("tf").cast("long").alias("n_feats"),
              F.round(F.sum(F.col("tf") * F.col("lr")), 6).alias("logw"))
         .localCheckpoint(eager=False))
    cut = w.agg(F.round(F.percentile("logw", F.lit(DSIR_CUT_Q)), 6)
                .alias("c"))
    return (w.crossJoin(F.broadcast(cut))
            .select("doc_id", "n_feats", "logw",
                    (F.col("logw") >= F.col("c")).cast("int")
                    .alias("selected")))


@register(
    "dedup_clusters_star",
    survey="corpus-cc,LLM-dedup,J1",
    oracle=f"""
    WITH RECURSIVE {TX.NGRAM_PAIRS_CTES},
    edges AS (
        SELECT doc_id_1 AS a, doc_id_2 AS b FROM ngram_pairs
        UNION ALL
        SELECT doc_id_2, doc_id_1 FROM ngram_pairs
    ),
    walk(doc_id, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.doc_id
    )
    SELECT doc_id,
           MIN(label) AS cluster_id,
           doc_id = MIN(label) AS is_canonical
    FROM walk GROUP BY doc_id
    """,
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al. 2014) — the O(log² n)-round twin of
    `dedup_clusters`' min-label propagation, and the form SCALE.md
    prescribes once a component's DIAMETER outgrows the round budget
    (min-label needs O(diameter) rounds; star contraction collapses
    long chains exponentially).

    One round = two halved-neighborhood star operations over the
    canonical (a < b) edge frame:
      large-star(u): every neighbor v > u re-attaches to
                     m = min(N(u) ∪ {{u}});
      small-star(u): every neighbor v < u (and u itself) attaches to m.
    Both are ONE groupBy(min) + ONE key-projected join each — no
    neighborhood materialized anywhere, so a hot node costs a shuffle
    key, not memory. Convergence = the canonical edge frame reaching a
    fixpoint, detected by a two-scalar checksum (count + sum of
    xxhash64(a,b)) per round on the driver; at the fixpoint the frame
    IS the component star {{(min, v)}}, read off as labels with one
    left join for singletons. The oracle (recursive-CTE reachability +
    MIN) and the pinned equality against `dedup_clusters` in
    tests/test_corpus.py verify the outputs coincide."""
    t = load_tables(spark, sf_dir, ("documents",))
    pairs = TX.ngram_jaccard_near_dup(spark, sf_dir) \
        .select(F.least("doc_id_1", "doc_id_2").alias("a"),
                F.greatest("doc_id_1", "doc_id_2").alias("b")) \
        .distinct()
    lbl = star_components(pairs, op_name="dedup_clusters_star")
    lbl = lbl.withColumnRenamed("node", "doc_id")
    return (t["documents"].select("doc_id")
            .join(lbl, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("lbl", "doc_id").alias("cluster_id"),
                    (F.coalesce("lbl", "doc_id") == F.col("doc_id"))
                    .alias("is_canonical")))


def star_components(pairs: DataFrame, op_name: str = "star_components",
                    max_rounds: int = MAX_CC_ROUNDS) -> DataFrame:
    """Reusable large-star/small-star connected components over a
    canonical (a < b) undirected pair frame: returns (node, lbl) for
    every NON-singleton node, where lbl is the component minimum —
    callers left-join their node universe and coalesce for singletons.
    One round = large-star then small-star (each one groupBy(min) +
    one key-projected join); fixpoint detected by a (count, DECIMAL
    xxhash sum) checksum — O(log² n) rounds on any graph shape.

    Gated (r12) like dedup_clusters/BFS/Bellman-Ford: when the
    materialized pair set fits CC_SINGLE_TASK_MAX, the whole
    resolution runs in the one union-find task (cc_single_task —
    hash-identical because components are unique and both paths
    label every node with the component minimum), deleting the
    contraction loop's per-round shuffle + checkpoint + checksum
    jobs; the distributed contraction below remains the above-cap
    scale path."""
    E = pairs.localCheckpoint(eager=False)
    if driver.fits(E.count(), CC_SINGLE_TASK_MAX):
        return cc_single_task(E)

    def star(E: DataFrame, large: bool) -> DataFrame:
        nb = (E.select(F.col("a").alias("u"), F.col("b").alias("v"))
              .unionByName(E.select(F.col("b").alias("u"),
                                    F.col("a").alias("v"))))
        mins = (nb.groupBy("u")
                .agg(F.min("v").alias("mv"))
                .select("u", F.least("u", "mv").alias("m")))
        halved = (nb.join(mins, "u")
                  .filter((F.col("v") > F.col("u")) if large
                          else (F.col("v") < F.col("u")))
                  .select(F.col("v").alias("x"), F.col("m").alias("y")))
        self_edge = mins.select(F.col("u").alias("x"), F.col("m").alias("y"))
        return (halved.unionByName(self_edge)
                .filter(F.col("x") != F.col("y"))
                .select(F.least("x", "y").alias("a"),
                        F.greatest("x", "y").alias("b"))
                .distinct())

    def checksum(E: DataFrame):
        # decimal accumulator: a long sum of 64-bit hashes overflows
        # under ANSI mode; decimal(38,0) is exact and order-independent
        row = E.agg(F.count("*").alias("n"),
                    F.sum(F.xxhash64("a", "b").cast("decimal(38,0)"))
                    .alias("h")).first()
        return (row.n, row.h)

    prev, converged = checksum(E), False
    for _ in range(max_rounds):
        E = star(star(E, large=True), large=False).localCheckpoint(eager=False)
        cur = checksum(E)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"{op_name}: star contraction did not reach a fixpoint "
            f"within {max_rounds} rounds")
    return E.groupBy(F.col("b").alias("node")).agg(F.min("a").alias("lbl"))


#: weighted sampling-without-replacement: sample size.
WSAMPLE_K = 100


@register(
    "weighted_sample_topk",
    survey="corpus-sample,W6,F9",
    oracle=f"""
    WITH keyed AS (
        SELECT o_orderkey, o_totalprice,
               (CAST(CAST('0x' || substr(md5('ws:' ||
                    CAST(o_orderkey AS VARCHAR)), 1, 13) AS BIGINT)
                 AS DOUBLE) + 0.5) / 4503599627370496.0 AS u
        FROM orders
    )
    SELECT o_orderkey, o_totalprice,
           -- + 0.0 drops DuckDB's -0.0 (Spark ROUND returns +0.0; a
           -- u within 1e-13 of 1 rounds the key to signed zero —
           -- first observed at sf0.1)
           ROUND(LN(u) / o_totalprice * 1e6, 6) + 0.0 AS es_key
    FROM keyed
    ORDER BY ROUND(LN(u) / o_totalprice * 1e6, 6) DESC, o_orderkey
    LIMIT {WSAMPLE_K}
    """,
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    2006, algorithm A-Res): each row draws u ~ U(0,1) and survives if
    its key u^(1/w) ranks in the top K — equivalently, by the monotone
    transform ln(u)/w (less negative = better), which avoids the
    underflow of u^(1/w) for tiny weights. Inclusion probability is
    proportional to weight (here o_totalprice) in the without-
    replacement sense — THE primitive under quality-weighted corpus
    subsampling where `hash_stratified_sample` only does uniform
    shares.

    Determinism: u comes from md5(o_orderkey) mapped into (0,1) at
    2^-52 grain — no RNG state, so the sample is identical across
    engines, partitionings and reruns (same discipline as
    hash_stratified_sample); the selection is ORDER BY (rounded key,
    orderkey) LIMIT K — a total order, so the cut is deterministic and
    compiles to TakeOrderedAndProject (per-partition top-K heaps + one
    K-row merge), never a global sort. The 1e6 factor keeps the
    rounded key's 6 decimals significant (ln(u)/w is O(1e-5) at this
    weight scale). Scale: map + top-K — no shuffle of the data at all."""
    t = load_tables(spark, sf_dir, ("orders",))
    raw = md5_int(F.concat(F.lit("ws:"), F.col("o_orderkey").cast("string")),
                  13).cast("double")
    u = (raw + 0.5) / float(1 << 52)
    es_key = F.round(F.log(u) / F.col("o_totalprice") * 1e6, 6)
    return (t["orders"]
            .select("o_orderkey", "o_totalprice", es_key.alias("es_key"))
            .orderBy(F.col("es_key").desc(), "o_orderkey")
            .limit(WSAMPLE_K))


@register(
    "dedup_keep_longest",
    survey="corpus-cc,LLM-dedup,J9,W6",
    oracle=f"""
    WITH RECURSIVE {TX.NGRAM_PAIRS_CTES},
    edges AS (
        SELECT doc_id_1 AS a, doc_id_2 AS b FROM ngram_pairs
        UNION ALL
        SELECT doc_id_2, doc_id_1 FROM ngram_pairs
    ),
    walk(doc_id, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.doc_id
    ),
    clusters AS (
        SELECT doc_id, MIN(label) AS cluster_id FROM walk GROUP BY doc_id
    ),
    sized AS (
        SELECT c.doc_id, c.cluster_id,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
        FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
    )
    SELECT s.doc_id, s.cluster_id, s.n_tokens,
           NOT EXISTS (
               SELECT 1 FROM sized t
               WHERE t.cluster_id = s.cluster_id
                 AND (t.n_tokens > s.n_tokens
                      OR (t.n_tokens = s.n_tokens
                          AND t.doc_id < s.doc_id))
           ) AS keep
    FROM sized s
    """,
)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup survivorship with a QUALITY criterion: resolve the
    3-gram-Jaccard near-dup graph into clusters (min-label CC, same
    components as `dedup_clusters`) and keep each cluster's LONGEST
    member (token count, tie → lowest doc id) instead of the arbitrary
    minimum id — the keep/drop policy production dedup actually ships
    (the longest near-duplicate usually subsumes the fragments).
    Engine: clusters ⋈ token counts, one row_number window PARTITIONED
    by cluster (never global), keep = rank 1. The oracle states the
    same survivor via NOT EXISTS over the cluster — two independent
    formulations of the argmax. Scale: the window partitions by
    cluster id; cluster sizes are near-dup-group-sized, never
    corpus-sized."""
    t = load_tables(spark, sf_dir, ("documents",))
    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    sized = (clusters
             .join(t["documents"].select(
                 "doc_id",
                 F.size(F.split("text", " ")).cast("long")
                 .alias("n_tokens")), "doc_id"))
    w = (W.partitionBy("cluster_id")
         .orderBy(F.col("n_tokens").desc(), F.col("doc_id")))
    return (sized
            .withColumn("keep", F.row_number().over(w) == 1)
            .select("doc_id", "cluster_id", "n_tokens", "keep"))


#: exact-k sampler: rows kept per stratum.
EXACT_K_PER_STRATUM = 5


@register(
    "stratified_exact_k_sample",
    survey="corpus-sample,W6,A6,U4",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, lang,
               md5(CAST(doc_id AS VARCHAR)) AS h,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rk
        FROM documents
    )
    SELECT lang, CAST(rk AS INT) AS rk, doc_id
    FROM ranked WHERE rk <= {EXACT_K_PER_STRATUM}
    """,
)
def stratified_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-k stratified sample: precisely 5 documents per language
    (fewer only if the stratum is smaller), selected by md5(id) order
    — the deterministic complement of `hash_stratified_sample`, whose
    fractional cut yields binomially-varying per-stratum counts. The
    fixed-size guarantee is what evaluation sets and human-review
    batches need ("exactly 5 per language, same 5 every run"): sorting
    by a hash of the id is a uniform draw, yet membership stays a pure
    function of the data — stable under re-runs, retries and
    repartitioning, where reservoir sampling is not.

    Plan: one window partitioned by the stratum (registry pin holds),
    ordered by (md5(id), id) — a total order, so the cut is
    deterministic even under hash collisions. WindowGroupLimit pushes
    rk <= k into the per-partition sort, so a billion-row stratum
    streams through its task without materializing beyond k more than
    transiently. One shuffle on the stratum key, total."""
    t = load_tables(spark, sf_dir, ("documents",))
    h = F.md5(F.col("doc_id").cast("string"))
    w = W.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (t["documents"]
            .select("lang", F.row_number().over(w).alias("rk"), "doc_id")
            .filter(F.col("rk") <= EXACT_K_PER_STRATUM))


# ---------------------------------------------------------------------------
# end-to-end curation funnel: the whole pipeline as one accountable query
# ---------------------------------------------------------------------------

#: quality gate: minimum document length in whitespace tokens.
FUNNEL_MIN_TOKENS = 25
#: quality gate: max single-token share as an INTEGER rule —
#: top_cnt * DEN <= n_tok  ⟺  share <= 1/DEN (no float anywhere).
FUNNEL_TOP_SHARE_DEN = 6


def _funnel_oracle() -> str:
    m, g = TX.DECON_EVAL_MOD, TX.DECON_NGRAM
    return f"""
    WITH base AS (
        SELECT doc_id, source, text, string_split(text, ' ') AS tk,
               len(string_split(text, ' ')) AS n_tok
        FROM documents WHERE doc_id % {m} <> 0
    ), s1 AS (
        SELECT b.* FROM base b
        JOIN (SELECT text, MIN(doc_id) AS doc_id
              FROM base GROUP BY text) k
          ON k.doc_id = b.doc_id
    ), sh AS (
        SELECT DISTINCT doc_id,
               t.tk[i] || ' ' || t.tk[i+1] || ' ' || t.tk[i+2] AS s
        FROM s1 t, UNNEST(generate_series(1, len(t.tk) - 2)) AS u(i)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY 1
    ), pcommon AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), drops AS (
        SELECT DISTINCT c.d2 AS doc_id
        FROM pcommon c
        JOIN sizes n1 ON n1.doc_id = c.d1
        JOIN sizes n2 ON n2.doc_id = c.d2
        WHERE c.c * 3 >= n1.ns + n2.ns
    ), s2 AS (
        SELECT s1.* FROM s1
        WHERE NOT EXISTS (SELECT 1 FROM drops d WHERE d.doc_id = s1.doc_id)
    ), tcnt AS (
        SELECT doc_id, MAX(c) AS top_cnt FROM (
            SELECT doc_id, tok, COUNT(*) AS c
            FROM (SELECT doc_id, UNNEST(tk) AS tok FROM s2) x
            GROUP BY 1, 2) y
        GROUP BY 1
    ), s3 AS (
        SELECT s2.* FROM s2 JOIN tcnt ON tcnt.doc_id = s2.doc_id
        WHERE s2.n_tok >= {FUNNEL_MIN_TOKENS}
          AND tcnt.top_cnt * {FUNNEL_TOP_SHARE_DEN} <= s2.n_tok
    ), ev AS (
        SELECT DISTINCT array_to_string(tk[i : i + {g - 1}], ' ') AS gram
        FROM (SELECT string_split(text, ' ') AS tk FROM documents
              WHERE doc_id % {m} = 0) t,
             UNNEST(generate_series(1, len(t.tk) - {g - 1})) AS u(i)
    ), contaminated AS (
        SELECT DISTINCT s.doc_id
        FROM (SELECT doc_id, array_to_string(tk[i : i + {g - 1}], ' ')
                     AS gram
              FROM s3, UNNEST(generate_series(1, len(tk) - {g - 1}))
                   AS u(i)) s
        JOIN ev ON ev.gram = s.gram
    ), s4 AS (
        SELECT s3.* FROM s3
        WHERE NOT EXISTS (SELECT 1 FROM contaminated c
                          WHERE c.doc_id = s3.doc_id)
    )
    SELECT stage, source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM (
        SELECT '0_train' AS stage, source,
               COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens
        FROM base GROUP BY 2
        UNION ALL
        SELECT '1_exact_dedup', source, COUNT(*), SUM(n_tok)
        FROM s1 GROUP BY 2
        UNION ALL
        SELECT '2_near_dedup', source, COUNT(*), SUM(n_tok)
        FROM s2 GROUP BY 2
        UNION ALL
        SELECT '3_quality', source, COUNT(*), SUM(n_tok)
        FROM s3 GROUP BY 2
        UNION ALL
        SELECT '4_decontaminated', source, COUNT(*), SUM(n_tok)
        FROM s4 GROUP BY 2
    ) f
    """


@register("corpus_curation_funnel",
          survey="LLM-dedup,LLM-text,A1,A3,A6,J7,D2",
          bench=True,
          oracle=_funnel_oracle())
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation pipeline as one accountable query — the
    per-source document/token funnel after each stage every
    large-scale pretraining run reports:

      0_train           eval slice held out (doc_id % 7, the
                        benchmark_decontamination convention)
      1_exact_dedup     keep MIN(doc_id) per identical text
      2_near_dedup      drop the greater id of every 3-gram-shingle
                        Jaccard >= 0.5 pair (integer rule:
                        3·|∩| >= |A|+|B|; pair-pruning — the
                        transitive-closure variant is
                        dedup_clusters/near_dup_canonical)
      3_quality         length >= 25 tokens AND top-token share
                        <= 1/6 (integer rule: 6·top_cnt <= n_tok)
      4_decontaminated  drop docs sharing any verbatim 8-gram with
                        the eval slice

    Every stage decision and every reported number is INTEGER
    arithmetic — no float appears anywhere, so the DuckDB replay is
    exact by construction.

    SINGLE-ACTION FLAG DESIGN (r11 — the in-bench fix): the r10 shape
    materialized three eager localCheckpoints and five unioned stage
    aggregates, which cost 38 scheduled jobs per run; on a busy host
    at the measured 0.2-0.36 s/job scheduler tax that is a 8-14 s
    floor before any work happens (SCALE.md §13). This shape computes
    per-doc STAGE FLAGS instead and folds the whole funnel into ONE
    conditional aggregate + `stack`, one action, no checkpoints:

      s1  doc_id == min(doc_id) OVER (PARTITION BY text)   — exact
          dedup as a keyed window, replacing groupBy+re-join;
      s2  s1 AND NOT dropped — `drops` comes from the unchanged
          lossless prefix-filter candidate stage (below), left-joined
          back as a flag (AQE broadcasts it when small; at 100 TB it
          degrades to a keyed shuffle join, still correct);
      s3  s2 AND the per-row integer quality gates (narrow algebra);
      s4  s3 AND NOT contaminated — the 8-gram decontamination branch
          runs on the QUALITY-PASSING SUPERSET of s3 (it skips the
          near-dup filter, so it never waits on the drops branch; a
          contaminated doc that near-dup already dropped just sets a
          flag that s4 = s3 AND NOT ct ignores — the reported set is
          identical, and the two expensive branches now run
          independently). The train-gram explode also skips its old
          per-doc DISTINCT — the final doc_id-level distinct absorbs
          duplicate grams, which deletes a full-width shuffle.

    Identical subtrees (the flagged scan feeding the shingle, the
    decontamination and the final branch) reuse one exchange
    (ReusedExchange); shingle df now comes from a COUNT() OVER
    (PARTITION BY s) window on the exploded frame instead of a
    groupBy+join, deleting another exchange. Measured at sf0.1: 38
    jobs -> ~17, in-bench floor cut accordingly (SCALE.md §8/§13).

    Scale: the near-dup candidate stage is LOSSLESS prefix filtering
    (AllPairs/PPJoin, Xiao et al. 2008) — only each doc's
    floor(n/2)+1 rarest shingles under one global (df, s) order enter
    the candidate join, so a shingle shared by k documents no longer
    emits k^2 pairs unless it is rare enough to sit in prefixes (the
    hot-token blowup is structurally excluded; the exact verify rule
    3c >= n1+n2, i.e. Jaccard >= 1/2, is unchanged and the prefix
    lemma guarantees the identical drop set). The DuckDB twin
    deliberately keeps the EXHAUSTIVE shared-shingle join, so the
    driver hash-match is a cross-strategy equality proof of the
    pruning's losslessness. Quality is per-row array algebra (no
    shuffle); decontamination is two gram explodes and a semi-join.
    The funnel itself is ONE map-side-combinable aggregate."""
    t = load_tables(spark, sf_dir, ("documents",))
    top_cnt = F.array_max(F.transform(
        F.array_distinct(F.col("tk")),
        lambda tok: F.size(F.filter(F.col("tk"), lambda x: x == tok))))
    flagged = (spread(t["documents"], "doc_id")
               .filter(F.col("doc_id") % TX.DECON_EVAL_MOD != 0)
               .select("doc_id", "source", "text",
                       F.split("text", " ").alias("tk"))
               .withColumn("n_tok", F.size("tk"))
               .withColumn("s1", F.col("doc_id") == F.min("doc_id")
                           .over(W.partitionBy("text")))
               .withColumn("q", (F.col("n_tok") >= FUNNEL_MIN_TOKENS)
                           & (top_cnt * FUNNEL_TOP_SHARE_DEN
                              <= F.col("n_tok"))))
    # near-dup drops over the s1 survivors — the lossless prefix-
    # filtered AllPairs/PPJoin stage, unchanged from r6 except that
    # shingle df is a keyed window (one exchange) instead of a
    # groupBy+join (two), and per-doc shingle dedup is array_distinct
    # BEFORE the explode (narrow, r12) — the old explode().distinct()
    # paid a full (doc_id, s)-row shuffle for a dedup that is per-doc
    # by definition. A doc with <3 tokens shingles to nothing, so it
    # can never be a near-dup candidate.
    sh = (flagged.filter(F.col("s1"))
          .select("doc_id",
                  F.explode(F.array_distinct(ngrams("tk", 3))).alias("s")))
    docsets = (sh.withColumn("df", F.count("*").over(W.partitionBy("s")))
               .groupBy("doc_id")
               .agg(F.array_sort(F.collect_list(F.struct("df", "s")))
                    .alias("arr"),
                    F.count("*").alias("ns")))
    # integer-only prefix rule: pos <= floor(ns/2)+1 ⟺ 2*pos <= ns+2
    pref = (docsets.select(
        "doc_id", "ns",
        F.posexplode(F.expr(
            "slice(arr, 1, CAST(FLOOR(size(arr) / 2) + 1 AS INT))"))
        .alias("pos", "e"))
        .select("doc_id", "ns", "pos", F.col("e.s").alias("s")))
    # two further LOSSLESS prunes before the exact verify (PPJoin,
    # Xiao et al. 2008): (a) length filter in the join condition —
    # 3c >= na+nb forces c <= min(na,nb), hence max <= 2*min; (b)
    # positional filter — prefix arrays share the global sort, so the
    # lexicographically FIRST collision at 0-based (pa, pb) bounds the
    # true overlap by 1 + min(na-1-pa, nb-1-pb); pairs whose bound
    # already fails the verify rule never reach array_intersect
    a, b = pref.alias("a"), pref.alias("b")
    first = F.min(F.struct(F.col("a.pos").alias("pa"),
                           F.col("b.pos").alias("pb"),
                           F.col("a.ns").alias("na"),
                           F.col("b.ns").alias("nb"))).alias("m")
    ub = F.lit(1) + F.least(F.col("m.na") - 1 - F.col("m.pa"),
                            F.col("m.nb") - 1 - F.col("m.pb"))
    cand = (a.join(b, (F.col("a.s") == F.col("b.s"))
                   & (F.col("a.doc_id") < F.col("b.doc_id"))
                   & (F.col("a.ns") * 2 >= F.col("b.ns"))
                   & (F.col("b.ns") * 2 >= F.col("a.ns")))
            .groupBy(F.col("a.doc_id").alias("d1"),
                     F.col("b.doc_id").alias("d2"))
            .agg(first)
            .filter(ub * 3 >= F.col("m.na") + F.col("m.nb"))
            .select("d1", "d2"))
    sets = docsets.select(
        "doc_id", F.expr("transform(arr, x -> x.s)").alias("sset"), "ns")
    drops = (cand
             .join(sets.select(F.col("doc_id").alias("d1"),
                               F.col("sset").alias("set1"),
                               F.col("ns").alias("n1")), "d1")
             .join(sets.select(F.col("doc_id").alias("d2"),
                               F.col("sset").alias("set2"),
                               F.col("ns").alias("n2")), "d2")
             .withColumn("c", F.size(F.array_intersect("set1", "set2"))
                         .cast("long"))
             .filter(F.col("c") * 3 >= F.col("n1") + F.col("n2"))
             .select(F.col("d2").alias("doc_id")).distinct()
             .withColumn("_nd", F.lit(True)))
    # decontamination on the quality-passing SUPERSET of s3 (near-dup
    # filter deliberately skipped — see docstring); no per-doc gram
    # DISTINCT, the final doc_id distinct absorbs duplicates
    g8 = ngrams("tk", TX.DECON_NGRAM)
    ev = (t["documents"]
          .filter(F.col("doc_id") % TX.DECON_EVAL_MOD == 0)
          .select(F.split("text", " ").alias("tk"))
          .select(F.explode(g8).alias("gram")).distinct())
    contaminated = (flagged
                    .filter(F.col("s1") & F.col("q"))
                    .select("doc_id", F.explode(g8).alias("gram"))
                    .join(ev, "gram").select("doc_id").distinct()
                    .withColumn("_ct", F.lit(True)))
    staged = (flagged.select("doc_id", "source", "n_tok", "s1", "q")
              .join(drops, "doc_id", "left")
              .join(contaminated, "doc_id", "left")
              .withColumn("s2", F.col("s1") & F.col("_nd").isNull())
              .withColumn("s3", F.col("s2") & F.col("q"))
              .withColumn("s4", F.col("s3") & F.col("_ct").isNull()))

    def cnt(flag: str) -> list:
        return [F.sum(F.when(F.col(flag), F.lit(1)).otherwise(F.lit(0)))
                .alias("n_" + flag),
                F.sum(F.when(F.col(flag), F.col("n_tok")))
                .alias("t_" + flag)]

    return (staged.groupBy("source")
            .agg(F.count("*").alias("n_s0"),
                 F.sum("n_tok").cast("long").alias("t_s0"),
                 *cnt("s1"), *cnt("s2"), *cnt("s3"), *cnt("s4"))
            .select("source", F.expr(
                "stack(5, '0_train', n_s0, t_s0, "
                "'1_exact_dedup', n_s1, t_s1, "
                "'2_near_dedup', n_s2, t_s2, "
                "'3_quality', n_s3, t_s3, "
                "'4_decontaminated', n_s4, t_s4) "
                "AS (stage, n_docs, n_tokens)"))
            # SQL GROUP BY over an empty stage subset emits nothing;
            # stack emits a zero row — drop it to match the oracle
            .filter(F.col("n_docs") > 0)
            .select("stage", "source",
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.col("n_tokens").cast("long").alias("n_tokens"))
            .orderBy("stage", "source"))


# ---------------------------------------------------------------------------
# objective construction: T5-style span-corruption accounting
# ---------------------------------------------------------------------------

#: span corruption layout: one SPAN-token mask per BLOCK-token block,
#: placed by a portable md5 offset — ~15% corruption rate, non-
#: overlapping spans by construction (the T5/UL2 denoising shape made
#: deterministic: no RNG, reproducible across engines and layouts).
CORRUPT_BLOCK = 20
CORRUPT_SPAN = 3


@register(
    "span_corruption_plan",
    survey="ext-corpus,A1,A6,F9",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source, string_split(text, ' ') AS tk,
               len(string_split(text, ' ')) AS n_tok
        FROM documents
    ), blocks AS (
        SELECT doc_id, source, tk, n_tok, u.i AS blk,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                        || CAST(u.i AS VARCHAR)), 1, 15))
                    ::BIGINT % {CORRUPT_BLOCK - CORRUPT_SPAN + 1}
                    AS BIGINT) AS off
        FROM base,
             UNNEST(generate_series(0, CAST(FLOOR(n_tok * 1e0
                                                  / {CORRUPT_BLOCK})
                                            AS BIGINT) - 1)) AS u(i)
    ), masked AS (
        SELECT doc_id, source, n_tok, blk,
               CAST(len(tk[CAST(blk * {CORRUPT_BLOCK} + off + 1 AS BIGINT)
                         : CAST(blk * {CORRUPT_BLOCK} + off
                                + {CORRUPT_SPAN} AS BIGINT)]) AS BIGINT)
                   AS span_toks,
               CAST(list_sum(list_transform(
                        tk[CAST(blk * {CORRUPT_BLOCK} + off + 1 AS BIGINT)
                         : CAST(blk * {CORRUPT_BLOCK} + off
                                + {CORRUPT_SPAN} AS BIGINT)],
                        t -> length(t))) AS BIGINT) AS span_chars
        FROM blocks
    ), per_doc AS (
        SELECT doc_id, source, n_tok,
               COUNT(*) AS n_spans,
               SUM(span_toks) AS n_masked,
               SUM(span_chars) AS masked_chars
        FROM masked GROUP BY 1, 2, 3
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_spans) AS BIGINT) AS n_spans,
           CAST(SUM(n_masked) AS BIGINT) AS n_masked_tokens,
           CAST(SUM(masked_chars) AS BIGINT) AS n_masked_chars,
           CAST(SUM(n_masked) AS BIGINT) * 1e0
               / CAST(SUM(n_tok) AS BIGINT) AS mask_ratio
    FROM per_doc
    GROUP BY source
    """,
)
def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption LAYOUT accounting — before a
    denoising pretraining run, the pipeline must place corruption
    spans and account for the mask budget (tokens and sentinels per
    source feed the loss-weighting and budget math). Spans here are
    DETERMINISTIC: one 3-token span per full 20-token block, offset
    by a portable md5 of (doc_id, block) — ~15% corruption,
    non-overlapping by construction, reproducible across engines,
    partitionings and reruns (the same no-RNG discipline as
    hash_stratified_sample); documents shorter than one block carry
    no span and drop from the plan.

    Per source: docs planned, spans (== sentinels), masked tokens and
    characters, and the realized mask ratio (one division of exact
    integer sums). Plan: one explode to block granularity (bounded at
    n_tok/20 rows per doc), per-row slice arithmetic, one grouped
    rollup — no joins, no windows; at 100 TB this is a single
    map-side-combinable pass."""
    t = load_tables(spark, sf_dir, ("documents",))
    b, s = CORRUPT_BLOCK, CORRUPT_SPAN
    base = (spread(t["documents"], "doc_id")
            .select("doc_id", "source", F.split("text", " ").alias("tk"))
            .withColumn("n_tok", F.size("tk"))
            .filter(F.col("n_tok") >= b))
    # FLOOR explicitly: a bare CAST(double AS BIGINT) truncates in
    # Spark but ROUNDS in DuckDB — n_tok/20 = 2.85 would plan 2 vs 3
    # blocks (caught by the oracle on first run)
    blocks = (base.select(
        "doc_id", "source", "tk", "n_tok",
        F.explode(F.sequence(
            F.lit(0),
            F.floor(F.col("n_tok") / b).cast("bigint") - 1)).alias("blk")))
    off = F.pmod(md5_int(F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                                  F.col("blk").cast("string")), 15),
                 F.lit(b - s + 1))
    span = F.slice(F.col("tk"),
                   (F.col("blk") * b + F.col("off") + 1).cast("int"), s)
    masked = (blocks.withColumn("off", off)
              .select("doc_id", "source", "n_tok",
                      F.size(span).cast("bigint").alias("span_toks"),
                      F.aggregate(F.transform(span,
                                              lambda tk: F.length(tk)),
                                  F.lit(0),
                                  lambda acc, x: acc + x)
                      .cast("bigint").alias("span_chars")))
    per_doc = (masked.groupBy("doc_id", "source", "n_tok")
               .agg(F.count("*").alias("n_spans"),
                    F.sum("span_toks").alias("n_masked"),
                    F.sum("span_chars").alias("masked_chars")))
    return (per_doc.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_spans").alias("n_spans"),
                 F.sum("n_masked").alias("n_masked_tokens"),
                 F.sum("masked_chars").alias("n_masked_chars"),
                 (F.sum("n_masked") * F.lit(1.0) / F.sum("n_tok"))
                 .alias("mask_ratio"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# training order: deterministic source-interleaved shuffle
# ---------------------------------------------------------------------------

#: rows returned from the head of the interleaved order (driver-sized
#: demo slice; the full ordering is a write-time sort key).
INTERLEAVE_HEAD = 40


@register(
    "source_interleave_order",
    survey="ext-corpus,W6,A6,J1",
    oracle=f"""
    WITH srcs AS (SELECT DISTINCT source FROM documents),
    sidx AS (
        SELECT a.source, COUNT(*) - 1 AS s_idx
        FROM srcs a JOIN srcs b ON b.source <= a.source
        GROUP BY a.source
    ), nsrc AS (SELECT COUNT(*) AS n_sources FROM srcs),
    ranked AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5('il:' || CAST(doc_id AS VARCHAR)),
                            doc_id) - 1 AS r
        FROM documents
    )
    SELECT CAST((r.r * n.n_sources + s.s_idx) AS BIGINT) AS pos,
           r.source, r.doc_id
    FROM ranked r
    JOIN sidx s ON s.source = r.source
    CROSS JOIN nsrc n
    ORDER BY pos
    LIMIT {INTERLEAVE_HEAD}
    """,
)
def source_interleave_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic TRAINING ORDER with source interleaving — the
    data-ordering step of a pretraining pipeline: within each source
    the documents are shuffled by a keyed md5 (no RNG — identical
    across engines, partitionings and epochs-with-different-keys),
    and the streams are round-robin interleaved so every consecutive
    batch window sees all sources (position = within-source rank ×
    n_sources + source index — a closed FORMULA, so no global window
    ever materializes; the only window partitions by source). Returns
    the head of the order; at 100 TB the same position expression is
    the write-time sort key (repartitionByRange(pos) +
    sortWithinPartitions), giving a fully shuffled, source-balanced
    training stream without a driver-side permutation.

    The source index comes from a tiny dim×dim inequality join (≤
    |sources|² rows) rather than an unpartitioned window — the
    zero-global-windows rule holds even for the 20-row frame."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = spread(t["documents"], "doc_id")
    srcs = docs.select("source").distinct()
    a, bq = srcs.alias("a"), srcs.alias("b")
    sidx = (a.join(bq, F.col("b.source") <= F.col("a.source"))
            .groupBy(F.col("a.source").alias("source"))
            .agg((F.count("*") - 1).alias("s_idx")))
    nsrc = srcs.agg(F.count("*").alias("n_sources"))
    w = W.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("il:"), F.col("doc_id").cast("string"))),
        F.col("doc_id"))
    ranked = docs.select("doc_id", "source",
                         (F.row_number().over(w) - 1).alias("r"))
    return (ranked
            .join(F.broadcast(sidx), "source")
            .crossJoin(F.broadcast(nsrc))
            .select((F.col("r") * F.col("n_sources") + F.col("s_idx"))
                    .cast("bigint").alias("pos"),
                    "source", "doc_id")
            .orderBy("pos")
            .limit(INTERLEAVE_HEAD))


# ---------------------------------------------------------------------------
# content-defined chunking — the storage-dedup unit under the documents
# ---------------------------------------------------------------------------

#: expected chunk length in tokens: a token ends a chunk when its
#: portable 60-bit md5 hash ≡ 0 (mod CDC_MOD). Pure content-defined
#: (no min/max clamps), so a boundary depends ONLY on the token —
#: insertions shift at most one chunk on each side (the CDC property
#: rsync/LBFS/FastCDC exploit), and the whole chunking is stateless
#: per token, hence embarrassingly parallel AND SQL-replayable.
CDC_MOD = 16



def _cdc_chunks(docs) -> "DataFrame":
    """(doc_id, source, chunk_no, h, len) chunk table under the CDC
    boundary rule — shared by the stats report and the incremental
    ingest (one definition, one oracle CTE twin)."""
    tok = (spread(docs, "doc_id")
           .select("doc_id", "source",
                   F.posexplode(F.split("text", " ")).alias("p0", "t"))
           .select("doc_id", "source", (F.col("p0") + 1).alias("pos"), "t"))
    b = F.when(F.pmod(md5_int("t", 15), F.lit(CDC_MOD)) == 0,
               F.lit(1)).otherwise(F.lit(0))
    wrun = (W.partitionBy("doc_id").orderBy("pos")
            .rowsBetween(W.unboundedPreceding, 0))
    numbered = (tok.withColumn("b", b)
                .withColumn("chunk_no",
                            F.sum("b").over(wrun) - F.col("b")))
    return (numbered.groupBy("doc_id", "chunk_no")
            .agg(F.any_value("source").alias("source"),
                 F.md5(F.concat_ws(
                     " ",
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("pos", "t"))),
                         lambda x: x["t"])).cast("binary")).alias("h"),
                 F.count("*").alias("len")))


#: shared CDC chunk CTE for the DuckDB twins (the SQL mirror of
#: ``_cdc_chunks``): expects a ``docs_src`` CTE with (doc_id, source,
#: text) to be defined above it.
CDC_CHUNK_CTES = f"""
    tok AS (
        SELECT d.doc_id, d.source, u.i AS pos, d.tk[u.i] AS t
        FROM (SELECT doc_id, source, string_split(text, ' ') AS tk
              FROM docs_src) d,
             UNNEST(generate_series(1, len(d.tk))) AS u(i)
    ),
    flagged AS (
        SELECT doc_id, source, pos, t,
               CASE WHEN ('0x' || substr(md5(t), 1, 15))::BIGINT
                         % {CDC_MOD} = 0 THEN 1 ELSE 0 END AS b
        FROM tok
    ),
    numbered AS (
        SELECT doc_id, source, pos, t,
               SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) - b AS chunk_no
        FROM flagged
    ),
    chunks AS (
        SELECT doc_id, any_value(source) AS source, chunk_no,
               md5(string_agg(t, ' ' ORDER BY pos)) AS h,
               CAST(COUNT(*) AS BIGINT) AS len
        FROM numbered GROUP BY doc_id, chunk_no
    )"""


@register(
    "cdc_chunk_stats",
    survey="ext-dedup,A6,J1,W6",
    oracle=f"""
    WITH docs_src AS (SELECT doc_id, source, text FROM documents),
    {CDC_CHUNK_CTES},
    firsts AS (
        SELECT h, MIN(ROW(doc_id, chunk_no)) AS first_key
        FROM chunks GROUP BY h
    ),
    marked AS (
        SELECT c.source, c.len,
               (ROW(c.doc_id, c.chunk_no) <> f.first_key) AS dup
        FROM chunks c JOIN firsts f ON f.h = c.h
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(len) AS BIGINT) AS n_tokens,
           FLOOR(SUM(len) * 1e0 / COUNT(*) * 1e6 + 0.5) / 1e6
               AS avg_chunk_tokens,
           CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_chunks,
           CAST(SUM(CASE WHEN dup THEN len ELSE 0 END) AS BIGINT)
               AS tokens_savable,
           FLOOR(SUM(CASE WHEN dup THEN len ELSE 0 END) * 1e0
                 / SUM(len) * 1e6 + 0.5) / 1e6 AS savable_share
    FROM marked
    GROUP BY source
    """,
)
def cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING dedup accounting (LBFS/rsync/FastCDC
    family): split every document into chunks at content-determined
    boundaries (a token ends its chunk when its portable md5 ≡ 0 mod
    {CDC_MOD}, expected chunk ≈ {CDC_MOD} tokens), fingerprint each
    chunk, and report per source how many tokens a chunk-store would
    save by keeping one copy per distinct chunk. CDC is the dedup unit
    UNDER document granularity: a one-token edit shifts fixed-size
    blocks unboundedly but perturbs at most the two chunks around the
    edit here — which is why 100 TB blob stores chunk this way. A
    chunk occurrence is "savable" if it is not the corpus-first
    occurrence of its fingerprint (first = lowest (doc_id, chunk_no)).

    Plan: one corpus scan -> posexplode tokens, a narrow md5 boundary
    flag, a DOC-partitioned running sum to number chunks (no global
    window), one groupBy (doc, chunk_no) to build fingerprints, a
    vocabulary-sized groupBy(h) for first-occurrence keys, and one
    per-source aggregate. All integer/string algebra -> exact oracle.
    At 100 TB every stage is map-side-combinable or keyed on doc/hash;
    nothing is corpus-cross-product."""
    t = load_tables(spark, sf_dir, ("documents",))
    chunks = _cdc_chunks(t["documents"])
    key = F.struct("doc_id", "chunk_no")
    firsts = (chunks.select("h", key.alias("k"))
              .groupBy("h").agg(F.min("k").alias("first_key")))
    marked = (chunks.withColumn("k", key)
              .join(firsts, "h")
              .select("source", "len",
                      (F.col("k") != F.col("first_key")).alias("dup")))
    dup_len = F.sum(F.when(F.col("dup"), F.col("len")).otherwise(F.lit(0)))
    return (marked.groupBy("source")
            .agg(F.count("*").alias("n_chunks"),
                 F.sum("len").alias("n_tokens"),
                 fround(F.sum("len") * F.lit(1.0) / F.count("*"))
                 .alias("avg_chunk_tokens"),
                 F.sum(F.when(F.col("dup"), 1).otherwise(0))
                 .cast("long").alias("dup_chunks"),
                 dup_len.cast("long").alias("tokens_savable"),
                 fround(dup_len * F.lit(1.0) / F.sum("len"))
                 .alias("savable_share")))


# ---------------------------------------------------------------------------
# domain-mix divergence — how far each source's unigram mix sits from
# the corpus mix (the DoReMi-style reweighting diagnostic)
# ---------------------------------------------------------------------------

@register(
    "domain_mix_kl_report",
    survey="corpus-mix,A5,A6,F10",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    sc AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok GROUP BY 1, 2),
    st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ts,
                  CAST(COUNT(*) AS BIGINT) AS nd
           FROM sc GROUP BY 1),
    gc AS (SELECT t, CAST(SUM(c) AS BIGINT) AS g FROM sc GROUP BY 1),
    gt AS (SELECT CAST(SUM(g) AS BIGINT) AS tg FROM gc),
    terms AS (
        SELECT sc.source,
               CAST(FLOOR((sc.c * 1e0 / st.ts)
                          * LN((sc.c * 1e0 / st.ts)
                               / (gc.g * 1e0 / gt.tg)) * 1e12 + 0.5)
                    AS DECIMAL(38,0)) AS u
        FROM sc
        JOIN st ON st.source = sc.source
        JOIN gc ON gc.t = sc.t
        CROSS JOIN gt
    )
    SELECT t2.source, t2.ts AS n_tokens, t2.nd AS n_distinct_tokens,
           FLOOR(CAST(SUM(u) AS DOUBLE) / 1e12 * 1e9 + 0.5) / 1e9 + 0.0
               AS kl_nats
    FROM terms JOIN st t2 ON t2.source = terms.source
    GROUP BY 1, 2, 3
    """,
)
def domain_mix_kl_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence from the corpus-wide mix —
    the domain-reweighting diagnostic (DoReMi, Xie et al. 2023, reads
    exactly this gap): KL(p_source || p_corpus) = Σ p ln(p/q) over the
    source's tokens (p > 0 only where the source has the token, and
    every source token exists globally, so no zero q). A source with
    near-zero KL is redundant with the mix; a high-KL source is what
    temperature reweighting (token_budget_allocation) trades against.

    Parity: counts are exact integers; each term does ONE ln (the
    PARITY.md §4 single-transcendental contract, same as gini's), the
    two probability ratios and the product are deterministic IEEE
    ops, each term snaps to the 1e-12 grid and accumulates in
    DECIMAL(38,0); the final value snaps to 1e-9. Scale: two
    map-side-combinable aggregates (source×token, token), a broadcast
    1-row total, and a (source,token)-keyed join — the per-source
    report is cohort-sized."""
    t = load_tables(spark, sf_dir, ("documents",))
    sc = (spread(t["documents"], "doc_id")
          .select("source", F.explode(F.split("text", " ")).alias("t"))
          .groupBy("source", "t").agg(F.count("*").alias("c"))
          .localCheckpoint(eager=False))
    st = sc.groupBy("source").agg(F.sum("c").alias("ts"),
                                  F.count("*").alias("nd"))
    gc = sc.groupBy("t").agg(F.sum("c").alias("g"))
    gt = gc.agg(F.sum("g").alias("tg"))
    p = F.col("c") * F.lit(1.0) / F.col("ts")
    q = F.col("g") * F.lit(1.0) / F.col("tg")
    u = F.floor(p * F.log(p / q) * F.lit(1e12) + F.lit(0.5)) \
         .cast("decimal(38,0)")
    terms = (sc.join(F.broadcast(st), "source")
             .join(gc, "t")
             .crossJoin(F.broadcast(gt))
             .select("source", u.alias("u")))
    agg = terms.groupBy("source").agg(
        (F.floor(F.sum("u").cast("double") / F.lit(1e12) * F.lit(1e9)
                 + F.lit(0.5)) / F.lit(1e9) + F.lit(0.0)).alias("kl_nats"))
    return (agg.join(st, "source")
            .select("source", F.col("ts").alias("n_tokens"),
                    F.col("nd").alias("n_distinct_tokens"), "kl_nats"))


#: incremental ingest split: docs whose md5(doc_id) 2-hex prefix is >=
#: this cut are the arriving batch (~20%); the rest are the already-
#: ingested store (same convention as incremental_minhash_ingest).
CDC_INC_CUT = "cc"


@register(
    "cdc_incremental_ingest",
    survey="ext-dedup,D2,J1,A6",
    oracle=f"""
    WITH docs_src AS (SELECT doc_id, source, text FROM documents),
    {{CDC_CHUNK_CTES}},
    flags AS (
        SELECT doc_id,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= '{CDC_INC_CUT}'
                   AS is_new
        FROM docs_src
    ),
    store AS (
        SELECT DISTINCT c.h
        FROM chunks c JOIN flags f ON f.doc_id = c.doc_id
        WHERE NOT f.is_new
    ),
    newch AS (
        SELECT c.doc_id, c.chunk_no, c.h, c.len
        FROM chunks c JOIN flags f ON f.doc_id = c.doc_id
        WHERE f.is_new
    ),
    bfirst AS (
        SELECT h, MIN(ROW(doc_id, chunk_no)) AS first_key
        FROM newch GROUP BY h
    ),
    cls AS (
        SELECT n.doc_id, n.len,
               (s.h IS NOT NULL) AS hit_store,
               (s.h IS NULL AND
                ROW(n.doc_id, n.chunk_no) <> b.first_key)
                   AS hit_batch
        FROM newch n
        LEFT JOIN store s ON s.h = n.h
        JOIN bfirst b ON b.h = n.h
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(len) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN hit_store THEN 1 ELSE 0 END) AS BIGINT)
               AS hits_store,
           CAST(SUM(CASE WHEN hit_batch THEN 1 ELSE 0 END) AS BIGINT)
               AS hits_batch,
           CAST(SUM(CASE WHEN hit_store OR hit_batch THEN 0 ELSE 1 END)
                AS BIGINT) AS chunks_written,
           CAST(SUM(CASE WHEN hit_store OR hit_batch THEN 0 ELSE len END)
                AS BIGINT) AS tokens_written,
           FLOOR((1e0 - SUM(CASE WHEN hit_store OR hit_batch
                                 THEN 0 ELSE len END) * 1e0 / SUM(len))
                 * 1e6 + 0.5) / 1e6 AS dedup_ratio
    FROM cls GROUP BY doc_id
    """.format(CDC_CHUNK_CTES=CDC_CHUNK_CTES),
)
def cdc_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL chunk-store ingest — the shape CDC dedup actually
    runs in production: a ~20% arriving batch (md5 doc split, same
    convention as incremental_minhash_ingest) is chunked and looked up
    against the already-ingested store's fingerprints; each new-doc
    chunk is a STORE HIT (referenced, zero bytes written), a BATCH HIT
    (duplicate within the arriving batch — only the batch-first
    occurrence by (doc_id, chunk_no) is written), or NEW (written).
    Per new doc: chunk/token counts, hit breakdown, tokens actually
    written, and the dedup ratio — the write-amplification report an
    ingest pipeline emits per batch.

    Scale: ONLY the arriving batch is chunked at ingest (the store is
    a persisted fingerprint table in steady state — here it is derived
    from the old split to stay self-contained, exactly like the
    minhash twin); the lookup is a hash-keyed LEFT join new x store,
    never old x old. All integer/md5 algebra — exact oracle via the
    shared CDC_CHUNK_CTES twin of _cdc_chunks."""
    t = load_tables(spark, sf_dir, ("documents",))
    chunks = _cdc_chunks(t["documents"]).localCheckpoint(eager=False)
    is_new = (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
              >= CDC_INC_CUT)
    flags = (t["documents"].select("doc_id")
             .select("doc_id", is_new.alias("is_new")))
    ch = chunks.join(flags, "doc_id")
    store = (ch.filter(~F.col("is_new")).select("h").distinct())
    newch = ch.filter(F.col("is_new"))
    key = F.struct("doc_id", "chunk_no")
    bfirst = (newch.select("h", key.alias("k"))
              .groupBy("h").agg(F.min("k").alias("first_key")))
    cls = (newch.withColumn("k", key)
           .join(store.withColumn("in_store", F.lit(True)), "h", "left")
           .join(bfirst, "h")
           .select("doc_id", "len",
                   F.coalesce(F.col("in_store"), F.lit(False))
                   .alias("hit_store"),
                   (F.coalesce(F.col("in_store"), F.lit(False)) == False)
                   .alias("_miss"),
                   (F.col("k") != F.col("first_key")).alias("_notfirst"))
           .select("doc_id", "len", "hit_store",
                   (F.col("_miss") & F.col("_notfirst"))
                   .alias("hit_batch")))
    written = F.when(F.col("hit_store") | F.col("hit_batch"), 0)
    return (cls.groupBy("doc_id")
            .agg(F.count("*").alias("n_chunks"),
                 F.sum("len").alias("n_tokens"),
                 F.sum(F.when(F.col("hit_store"), 1).otherwise(0))
                 .cast("long").alias("hits_store"),
                 F.sum(F.when(F.col("hit_batch"), 1).otherwise(0))
                 .cast("long").alias("hits_batch"),
                 F.sum(written.otherwise(1)).cast("long")
                 .alias("chunks_written"),
                 F.sum(written.otherwise(F.col("len"))).cast("long")
                 .alias("tokens_written"),
                 fround(F.lit(1.0)
                        - F.sum(written.otherwise(F.col("len")))
                        * F.lit(1.0) / F.sum("len"))
                 .alias("dedup_ratio")))


@register(
    "cross_source_chunk_duplication",
    survey="ext-dedup,A2,A5,J1",
    oracle=f"""
    WITH docs_src AS (SELECT doc_id, source, text FROM documents),
    {CDC_CHUNK_CTES},
    sh AS (SELECT DISTINCT source, h FROM chunks),
    sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1
    ),
    shared AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM sh a JOIN sh b ON b.h = a.h AND b.source <> a.source
        GROUP BY 1, 2
    )
    SELECT s.src_a, s.src_b, za.n AS n_chunks_a, s.n_shared,
           {fround_sql("s.n_shared * 1e0 / za.n")} AS containment
    FROM shared s JOIN sizes za ON za.source = s.src_a
    """,
)
def cross_source_chunk_duplication(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """CROSS-SOURCE text-reuse matrix — how much of source A's content
    already exists in source B, at CDC-chunk granularity (the
    directed containment |chunks(A) ∩ chunks(B)| / |chunks(A)|). The
    corpus-curation question exact doc-dedup cannot answer: two
    sources can share most of their TEXT while sharing zero whole
    documents (syndication, mirrors, Common-Crawl-vs-curated-dump
    overlap). Drives mix design — a source 80%-contained in another
    contributes little marginal data and double-counts in the
    token budget.

    Plan: the shared `_cdc_chunks` pass (one corpus scan, doc-local
    windows), distinct (source, chunk-hash) — 16-byte hashes shuffle,
    never text — then one hash-keyed self-join grouped to the
    |sources|² matrix. At 100 TB the join is bounded by distinct
    chunk hashes, and the matrix itself is tiny."""
    t = load_tables(spark, sf_dir, ("documents",))
    sh = (_cdc_chunks(t["documents"])
          .select("source", "h").distinct()
          .localCheckpoint(eager=False))   # both join legs + sizes
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    a = sh.select(F.col("source").alias("src_a"), "h")
    b = sh.select(F.col("source").alias("src_b"), "h")
    shared = (a.join(b, "h")
              .filter(F.col("src_a") != F.col("src_b"))
              .groupBy("src_a", "src_b")
              .agg(F.count("*").alias("n_shared")))
    return (shared.join(sizes.withColumnRenamed("source", "src_a"),
                        "src_a")
            .select("src_a", "src_b",
                    F.col("n").cast("long").alias("n_chunks_a"),
                    F.col("n_shared").cast("long").alias("n_shared"),
                    fround(F.col("n_shared") * F.lit(1.0) / F.col("n"))
                    .alias("containment")))


@register(
    "dedup_chain_audit",
    survey="corpus-cc,LLM-dedup,A5,A6",
    oracle=f"""
    WITH RECURSIVE {TX.NGRAM_PAIRS_CTES},
    edges AS (
        SELECT doc_id_1 AS a, doc_id_2 AS b FROM ngram_pairs
        UNION ALL
        SELECT doc_id_2, doc_id_1 FROM ngram_pairs
    ),
    walk(doc_id, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.doc_id
    ),
    lbl AS (
        SELECT doc_id, MIN(label) AS cluster_id FROM walk GROUP BY doc_id
    ),
    members AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM lbl GROUP BY cluster_id
        HAVING COUNT(*) >= 2
    ),
    ej AS (
        SELECT l.cluster_id,
               CAST(FLOOR(p.jaccard * 1e6 + 0.5) AS BIGINT) AS j6
        FROM ngram_pairs p JOIN lbl l ON l.doc_id = p.doc_id_1
    ),
    estat AS (
        SELECT cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(MIN(j6) AS BIGINT) AS min_j6,
               CAST(SUM(j6) AS BIGINT) AS sum_j6
        FROM ej GROUP BY cluster_id
    )
    SELECT m.cluster_id,
           m.n_members,
           m.n_members * (m.n_members - 1) // 2 AS n_pairs,
           e.n_edges,
           m.n_members * (m.n_members - 1) // 2 - e.n_edges
               AS chain_violations,
           {fround_sql("e.n_edges * 1e0 "
                       "/ (m.n_members * (m.n_members - 1) // 2)")}
               AS density,
           e.min_j6 / 1e6 AS min_edge_jaccard,
           {fround_sql("e.sum_j6 / 1e6 / e.n_edges")} AS mean_edge_jaccard
    FROM members m JOIN estat e ON e.cluster_id = m.cluster_id
    """,
)
def dedup_chain_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINING audit of connected-component near-dup clusters — the
    known failure mode of transitive dedup: A~B and B~C chain A,B,C
    into one cluster even when J(A,C) is far below threshold, so a
    canonical-per-cluster policy silently drops documents that are NOT
    near-dups of the kept one. Per multi-member cluster: members,
    implied pair count C(n,2), direct near-dup edges, CHAIN VIOLATIONS
    (pairs only connected transitively — within-cluster pairs below
    the J ≥ 0.2 threshold, since any in-threshold pair IS an edge by
    construction), edge density, and min/mean edge Jaccard. A cluster
    with density ≪ 1 is a chain, and the standard remedies (raise the
    threshold, cap cluster diameter, re-verify against the canonical
    only) key off exactly this report.

    Plan: reuses the shared shingle-join pair pass (join keyed on
    shingles, never n²) for the edge stats, and READS the component
    labels from the persisted full-corpus label star
    (ensure_dedup_label_star 'full' — the train-once warehouse seam,
    verdict r8 #2: audits run per-report, components change per-ingest,
    so production keeps them materialized); the audit itself is two
    cluster-keyed integer aggregates — edge Jaccards enter on the
    1e-6 grid as integers (§3a), so mean/min are exact. At 100 TB the
    report is cluster-count-sized and the hot-cluster hazard lives in
    the pair pass, which prefix filtering already bounds elsewhere."""
    pairs = TX.ngram_jaccard_near_dup(spark, sf_dir) \
        .localCheckpoint(eager=False)   # feeds edges + the audit join
    lbl = ensure_dedup_label_star(spark, sf_dir, "full")
    # star_components omits the canonical node (it is never a `b` in
    # the fixpoint star) — union the self-mapping so every member of
    # every cluster carries a label
    lbl = (lbl.unionByName(lbl.select(F.col("lbl").alias("node"),
                                      F.col("lbl")))
           .distinct())
    members = (lbl.groupBy(F.col("lbl").alias("cluster_id"))
               .agg(F.count("*").alias("n_members"))
               .filter(F.col("n_members") >= 2))
    j6 = F.floor(F.col("jaccard") * F.lit(1e6) + F.lit(0.5)).cast("long")
    ej = (pairs.join(lbl.withColumnRenamed("node", "doc_id_1"),
                     "doc_id_1")
          .select(F.col("lbl").alias("cluster_id"), j6.alias("j6")))
    estat = (ej.groupBy("cluster_id")
             .agg(F.count("*").alias("n_edges"),
                  F.min("j6").alias("min_j6"),
                  F.sum("j6").alias("sum_j6")))
    n_pairs = (F.col("n_members") * (F.col("n_members") - 1)
               / 2).cast("long")
    return (members.join(estat, "cluster_id")
            .select("cluster_id",
                    F.col("n_members").cast("long").alias("n_members"),
                    n_pairs.alias("n_pairs"),
                    F.col("n_edges").cast("long").alias("n_edges"),
                    (n_pairs - F.col("n_edges")).cast("long")
                    .alias("chain_violations"),
                    fround(F.col("n_edges") * F.lit(1.0) / n_pairs)
                    .alias("density"),
                    (F.col("min_j6") / F.lit(1e6))
                    .alias("min_edge_jaccard"),
                    fround(F.col("sum_j6") / F.lit(1e6)
                           / F.col("n_edges"))
                    .alias("mean_edge_jaccard")))


#: padded-batch size for the bucketing-efficiency eval.
BKT_BATCH = 8
#: length-bucket widths evaluated (0 = no bucketing, one bucket).
BKT_WIDTHS = (0, 64, 16)


@register(
    "bucketing_efficiency_eval",
    survey="corpus-pack,A6,W7,F9",
    oracle=f"""
    WITH lens AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    ws(w) AS (VALUES {", ".join(f"({w})" for w in BKT_WIDTHS)}),
    bucketed AS (
        SELECT ws.w, l.lang,
               CASE WHEN ws.w = 0 THEN 0
                    ELSE l.n_tok // ws.w END AS bkt,
               l.doc_id, l.n_tok
        FROM lens l CROSS JOIN ws
    ),
    batched AS (
        SELECT w, lang, bkt, n_tok,
               (ROW_NUMBER() OVER (PARTITION BY w, lang, bkt
                                   ORDER BY doc_id) - 1)
                   // {BKT_BATCH} AS batch_id
        FROM bucketed
    ),
    per_batch AS (
        SELECT w, lang, bkt, batch_id,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(MAX(n_tok) AS BIGINT) AS mx,
               CAST(SUM(n_tok) AS BIGINT) AS real
        FROM batched GROUP BY w, lang, bkt, batch_id
    )
    SELECT CAST(w AS INT) AS bucket_width,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(real) AS BIGINT) AS real_tokens,
           CAST(SUM(mx * c) AS BIGINT) AS padded_tokens,
           {fround_sql("1e0 - SUM(real) * 1e0 / SUM(mx * c)")}
               AS waste_ratio
    FROM per_batch GROUP BY w
    """,
)
def bucketing_efficiency_eval(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """LENGTH-BUCKETED BATCHING efficiency — the padded-batch
    counterpart of context_packing_stats (which measures the
    concat-and-chunk pipeline): when sequences are batched and padded
    to the batch max (finetuning / inference serving), padding waste
    is decided by how you bucket by length first. Evaluates the same
    corpus under {BKT_WIDTHS} token-width bucketing (0 = arrival-order
    batching, no bucketing) at batch size {BKT_BATCH}: batches formed
    in doc_id order within (lang, bucket), waste = 1 −
    real/padded tokens. The monotone drop from width 0 → 16 is the
    number that justifies a bucketing stage in the serving path.

    Plan: one corpus scan to integer lengths, a broadcast fan-out over
    the |BKT_WIDTHS| schemes, ONE (scheme, lang, bucket)-partitioned
    row_number (never global — the cohort key carries the partition),
    and two integer aggregates; the single float op is the final
    fround ratio. At 100 TB batching is per (lang, shard) with
    shard-local order — same shape, embarrassingly parallel."""
    t = load_tables(spark, sf_dir, ("documents",))
    ws = driver.local_frame(spark, [(w,) for w in BKT_WIDTHS], "w int")
    lens = (spread(t["documents"], "doc_id")
            .select("doc_id", "lang",
                    F.size(F.split("text", " ")).cast("long")
                    .alias("n_tok")))
    bucketed = (lens.crossJoin(F.broadcast(ws))
                .select("w", "lang", "doc_id", "n_tok",
                        F.when(F.col("w") == 0, F.lit(0))
                        .otherwise(F.floor(F.col("n_tok") / F.col("w")))
                        .cast("long").alias("bkt")))
    win = W.partitionBy("w", "lang", "bkt").orderBy("doc_id")
    batched = bucketed.withColumn(
        "batch_id",
        F.floor((F.row_number().over(win) - 1) / BKT_BATCH).cast("long"))
    per_batch = (batched.groupBy("w", "lang", "bkt", "batch_id")
                 .agg(F.count("*").alias("c"),
                      F.max("n_tok").alias("mx"),
                      F.sum("n_tok").alias("real")))
    return (per_batch.groupBy(F.col("w").cast("int").alias("bucket_width"))
            .agg(F.count("*").alias("n_batches"),
                 F.sum("real").cast("long").alias("real_tokens"),
                 F.sum(F.col("mx") * F.col("c")).cast("long")
                 .alias("padded_tokens"),
                 fround(F.lit(1.0)
                        - F.sum("real")
                        / F.sum(F.col("mx") * F.col("c")))
                 .alias("waste_ratio")))


#: arriving-batch split for the incremental cluster maintenance
#: (~20% of docs by md5 — the incremental_minhash / CDC convention).
ICC_INC_CUT = "cc"


def dedup_star_path(sf_dir: str, scope: str) -> str:
    """Warehouse location of one part of a corpus' persisted dedup
    state: 'full' (the whole corpus' component star), or the
    already-ingested store's 'old' star (keyed by the md5 batch cut
    too), 'oldidx' inverted index and 'oldsz' shingle counts."""
    cut = "|cut" + ICC_INC_CUT if scope == "old" else ""
    return artifact_path(sf_dir, f"dedup_star_{scope}", f"j0.2s3{cut}")


def ensure_dedup_label_star(spark: SparkSession, sf_dir: str,
                            scope: str) -> DataFrame:
    """Load the persisted (lbl, node) label star for ``sf_dir``,
    training it first if it does not exist — the train-once warehouse
    seam (the ivf/pq codebook precedent, verdict r8 #2), so queries
    that READ persisted cluster state bench the read path, not a
    rebuild. Unlike the codebooks this artifact is corpus-sized, so it
    is returned as a DataFrame, never collected.

    'full' = star_components over ALL ngram-Jaccard near-dup pairs
    (non-singleton nodes only — callers union the canonical
    self-mapping / left-join singletons as they need).
    'old'  = the same over the already-ingested ~80% md5 split's
    old×old pairs only — exactly the state a production incremental
    dedup persists between ingests."""
    if scope == "old":
        return ensure_dedup_old_state(spark, sf_dir)[0]

    def build(path: str) -> None:
        pairs = (TX.ngram_jaccard_near_dup(spark, sf_dir)
                 .select(F.least("doc_id_1", "doc_id_2").alias("a"),
                         F.greatest("doc_id_1", "doc_id_2").alias("b"))
                 .distinct())
        lbl = star_components(pairs, op_name="ensure_star.full")
        (lbl.select(F.col("lbl").cast("long").alias("lbl"),
                    F.col("node").cast("long").alias("node"))
            .write.mode("overwrite").parquet(path))

    return read_parquet(spark, ensure(dedup_star_path(sf_dir, scope), build))


def ensure_dedup_old_state(
        spark: SparkSession,
        sf_dir: str) -> "tuple[DataFrame, DataFrame, DataFrame]":
    """The already-ingested store's FULL persisted dedup state, the
    three frames a production incremental near-dup pipeline keeps
    between ingests: the (lbl, node) component label star, the
    (doc_id, s) distinct-shingle inverted index the next batch joins
    against, and the (doc_id, n) per-doc shingle counts the Jaccard
    denominator needs. Trained together in one pass on first touch of
    a corpus (one shingle explode feeds all three), read from the
    warehouse thereafter — so incremental_dedup_clusters benches the
    per-ingest path only, with no corpus-sized recompute of any
    kind."""
    def build(star_path: str, idx_path: str, sz_path: str) -> None:
        t = load_tables(spark, sf_dir, ("documents",))
        is_old = (F.substring(F.md5(F.col("doc_id").cast("string")),
                              1, 2) < ICC_INC_CUT)
        old_docs = spread(t["documents"].filter(is_old), "doc_id")
        sh = shingled_rows(old_docs).localCheckpoint(eager=True)
        (sh.select(F.col("doc_id").cast("long").alias("doc_id"), "s")
           .write.mode("overwrite").parquet(idx_path))
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
        (sizes.select(F.col("doc_id").cast("long").alias("doc_id"),
                      F.col("n").cast("long").alias("n"))
              .write.mode("overwrite").parquet(sz_path))
        raw = (sh.select(F.col("doc_id").alias("d1"), "s")
               .join(sh.select(F.col("doc_id").alias("d2"), "s"), "s")
               .filter(F.col("d1") < F.col("d2"))
               .groupBy("d1", "d2").agg(F.count("*").alias("c")))
        j = (raw.join(sizes.select(F.col("doc_id").alias("d1"),
                                   F.col("n").alias("n1")), "d1")
             .join(sizes.select(F.col("doc_id").alias("d2"),
                                F.col("n").alias("n2")), "d2"))
        keep = (F.col("c") * 1.0
                / (F.col("n1") + F.col("n2") - F.col("c"))) >= 0.2
        edges = j.filter(keep).select(F.col("d1").alias("a"),
                                      F.col("d2").alias("b"))
        lbl = star_components(edges, op_name="ensure_star.old")
        (lbl.select(F.col("lbl").cast("long").alias("lbl"),
                    F.col("node").cast("long").alias("node"))
            .write.mode("overwrite").parquet(star_path))

    paths = ensure(tuple(dedup_star_path(sf_dir, k)
                         for k in ("old", "oldidx", "oldsz")), build)
    return tuple(read_parquet(spark, p) for p in paths)


#: edge cap for the single-task connected-components kernel — above
#: this the caller must use star_components' distributed contraction.
CC_SINGLE_TASK_MAX = 1_000_000


def cc_single_task(edges: DataFrame) -> DataFrame:
    """Connected components of a BOUNDED canonical (a < b) edge frame
    in ONE executor task: union-find with path compression inside a
    mapInPandas kernel over the coalesced frame. Returns (node, lbl)
    for every non-singleton node with lbl = component minimum — the
    star_components contract, computed without the contraction loop's
    per-round shuffle/checkpoint jobs (measured ~3 s of pure scheduler
    tax for a <100-edge graph on this host).

    Key-type generic (r12): long keys compare numerically; string
    keys are compared as UTF-8 BYTES inside the kernel — unsigned
    byte-wise order, exactly UTF8String.compareTo semantics and
    DuckDB's binary collation — so the component minimum is
    bit-identical to the distributed MIN aggregate on both engines
    for ANY string content, not just ASCII.

    Integer-exact and order-free (the union-find resolves every node
    to the component min regardless of edge arrival order), so it is
    hash-identical to star_components. Callers MUST gate on
    CC_SINGLE_TASK_MAX — this kernel is for edge-bounded graphs
    (batch-merge deltas, vocabulary-sized pair sets), not for
    unbounded whole-corpus graphs."""
    import pandas as pd

    key_t = dict(edges.dtypes)["a"]
    as_bytes = key_t == "string"

    def uf(pdfs):
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for pdf in pdfs:
            av, bv = pdf["a"].tolist(), pdf["b"].tolist()
            if as_bytes:
                av = [v.encode("utf-8") for v in av]
                bv = [v.encode("utf-8") for v in bv]
            for a, b in zip(av, bv):
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by MIN root: the root IS the component min
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
        # parent keys are exactly the NON-ROOT nodes (a root is never
        # assigned a parent), so this matches star_components' output
        # shape: the canonical node itself is omitted
        out = [(x, find(x)) for x in parent]
        if as_bytes:
            out = [(x.decode("utf-8"), l.decode("utf-8")) for x, l in out]
        yield pd.DataFrame(
            {"node": pd.Series([x for x, _ in out],
                               dtype=object if as_bytes else "int64"),
             "lbl": pd.Series([l for _, l in out],
                              dtype=object if as_bytes else "int64")})

    one = edges.select("a", "b").coalesce(1)
    return one.mapInPandas(uf, f"node {key_t}, lbl {key_t}")


@register(
    "incremental_dedup_clusters",
    survey="corpus-cc,LLM-dedup,J1,D2",
    oracle=f"""
    WITH RECURSIVE {TX.NGRAM_PAIRS_CTES},
    edges AS (
        SELECT doc_id_1 AS a, doc_id_2 AS b FROM ngram_pairs
        UNION ALL
        SELECT doc_id_2, doc_id_1 FROM ngram_pairs
    ),
    walk(doc_id, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.doc_id
    )
    SELECT doc_id,
           MIN(label) AS cluster_id,
           doc_id = MIN(label) AS is_canonical
    FROM walk GROUP BY doc_id
    """,
)
def incremental_dedup_clusters(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup-cluster maintenance — the shape component
    dedup runs in production: the cluster labels of the already-
    ingested store are PERSISTED (derived here from the old md5 split
    to stay self-contained, like the minhash/CDC ingest twins); a
    ~20% batch arrives, near-dup edges are computed ONLY for pairs
    touching a new document (new×new ∪ new×old — never old×old, the
    incremental discipline), and star contraction runs over the OLD
    LABEL STAR ∪ the new edges. The label star has exactly the old
    components' connectivity, so the result PROVABLY equals a full
    recompute — and the oracle IS the full recompute
    (dedup_clusters_star's recursive reachability over the complete
    edge set), so the driver hash match is a correctness proof of the
    incremental algorithm, not just a replay.

    The old state is READ from persisted warehouse artifacts
    (ensure_dedup_old_state — the ivf/pq codebook train-once seam,
    verdict r8 #2), trained on first touch of a corpus: the old
    components' label star AND the old distinct-shingle inverted
    index, exactly the two frames a production incremental dedup
    keeps between ingests. The query therefore measures the actual
    per-ingest path: shingle the BATCH only, join it against the
    persisted index, contract |old star| + |new edges| rows — never
    an old×old pair join, never an old re-shingle.

    Scale: the expensive stage (the shingle pair join) is restricted
    to batch-incident pairs — per-ingest cost is proportional to the
    BATCH, not the corpus; the contraction input is |old labels| +
    |new edges| rows. This is the update path whose full-rebuild twin
    is dedup_clusters_star."""
    t = load_tables(spark, sf_dir, ("documents",))
    is_new = (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
              >= ICC_INC_CUT)
    # persisted state: (lbl, node) label star, (doc_id, s) shingle
    # index, (doc_id, n) shingle counts — read, never recomputed
    old_star_t, old_idx, old_sz = ensure_dedup_old_state(spark, sf_dir)
    # the arriving batch is the only thing shingled at ingest time
    new_sh = (shingled_rows(
        spread(t["documents"].filter(is_new), "doc_id"))
        .localCheckpoint(eager=False))
    sizes = (old_sz
             .unionByName(new_sh.groupBy("doc_id")
                          .agg(F.count("*").cast("long").alias("n"))))

    def jaccard_edges(raw_pairs):
        # the candidate pair set is batch-bounded: broadcast it into
        # the corpus-sized size frame (twice, staying candidate-sized
        # after the first join) instead of shuffling the sizes
        s1 = sizes.select(F.col("doc_id").alias("d1"),
                          F.col("n").alias("n1"))
        s2 = sizes.select(F.col("doc_id").alias("d2"),
                          F.col("n").alias("n2"))
        j = s2.join(F.broadcast(s1.join(F.broadcast(raw_pairs), "d1")),
                    "d2")
        keep = (F.col("c") * 1.0
                / (F.col("n1") + F.col("n2") - F.col("c"))) >= 0.2
        return j.filter(keep).select(F.col("d1").alias("a"),
                                     F.col("d2").alias("b"))

    # batch-incident near-dup edges: new×(old ∪ new), never old×old.
    # The BATCH side is broadcast: at scale the persisted index is
    # corpus-sized and must never be shuffled per ingest — the batch's
    # shingle set streams past it in place (when a batch outgrows the
    # broadcast budget, pre-filter the index with a semi-join on the
    # batch's distinct shingles, then shuffle only the survivors).
    a_all = (old_idx.select(F.col("doc_id").alias("d1"), "s")
             .unionByName(new_sh.select(F.col("doc_id").alias("d1"),
                                        "s")))
    b_new = new_sh.select(F.col("doc_id").alias("d2"), "s")
    # new×(old ∪ new) shared-shingle pairs; canonicalize with
    # least/greatest and de-dup (d1, d2, s) first — a new×new pair
    # reaches the join in BOTH orders and would double its overlap
    # count otherwise
    new_edges = jaccard_edges(
        a_all.join(F.broadcast(b_new), "s")
        .filter(F.col("d1") != F.col("d2"))
        .select(F.least("d1", "d2").alias("dl"),
                F.greatest("d1", "d2").alias("dg"), "s")
        .distinct()
        .select(F.col("dl").alias("d1"), F.col("dg").alias("d2"), "s")
        .groupBy("d1", "d2").agg(F.count("*").alias("c")))
    # contract old components FIRST: map each new-edge endpoint to its
    # old component representative (its old label — the component MIN,
    # so the representative minimum IS the true merged minimum), then
    # find components of the REPRESENTATIVE graph only. The merge
    # input is O(|new edges|) rows — never O(|old nodes|): feeding the
    # whole old star through a contraction is the rebuild cost this
    # query exists to avoid.
    o_a = old_star_t.select(F.col("node").alias("a"),
                            F.col("lbl").alias("la"))
    o_b = old_star_t.select(F.col("node").alias("b"),
                            F.col("lbl").alias("lb"))
    # o_a/o_b are parquet-backed with accurate size stats — AQE
    # broadcast-joins them when small, shuffles when the dup
    # population outgrows the budget (new_edges is the tiny side)
    rep_edges = (new_edges
                 .join(o_a, "a", "left")
                 .join(o_b, "b", "left")
                 .select(F.coalesce("la", F.col("a")).alias("x"),
                         F.coalesce("lb", F.col("b")).alias("y"))
                 .filter(F.col("x") != F.col("y"))
                 .select(F.least("x", "y").alias("a"),
                         F.greatest("x", "y").alias("b"))
                 .distinct()
                 .localCheckpoint(eager=False))
    # batch-merge graphs are edge-bounded by construction: one ingest
    # can create at most |batch candidate pairs| merges, so the
    # single-task union-find kernel applies; the star contraction is
    # the fallback if an ingest ever exceeds the cap
    if driver.fits(rep_edges.count(), CC_SINGLE_TASK_MAX):
        merge_lbl = cc_single_task(rep_edges)
    else:
        merge_lbl = star_components(
            rep_edges, op_name="incremental_dedup_clusters.merge")
    # compose: doc -> old representative -> merged label
    base = (t["documents"].select("doc_id")
            .join(old_star_t.withColumnRenamed("node", "doc_id"),
                  "doc_id", "left")
            .select("doc_id",
                    F.coalesce("lbl", "doc_id").alias("rep")))
    return (base
            .join(merge_lbl.withColumnRenamed("node", "rep"),
                  "rep", "left")
            .select("doc_id",
                    F.coalesce("lbl", "rep").alias("cluster_id"),
                    (F.coalesce("lbl", "rep") == F.col("doc_id"))
                    .alias("is_canonical")))


# ---------------------------------------------------------------------------
# end-to-end curation run — the composed pipeline over the persisted seams
# ---------------------------------------------------------------------------


def _curation_pipeline_oracle(
        sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Full-recompute DuckDB twin of the composed curation run: the
    quality gates, the batch-incident near-dup drop rule, the BPE
    training-loop replay (final-round segmentation = the encode
    table), the power-of-two packing division, and the persisted-
    codebook cell assignment — each fragment is the SAME text its
    standalone oracle uses (quality_filter_funnel, NGRAM_PAIRS_CTES'
    Jaccard, _bpe_st_ctes, _ivf_cell_balance_oracle), so a hash match
    here proves the composition, not new semantics."""
    from covid_weather_etl_spark.operators.similarity import (
        ivf_codebook_path)
    path = ivf_codebook_path(sf_dir)
    return f"""
    WITH RECURSIVE {TX._bpe_st_ctes()},
    ingest AS (
        SELECT doc_id, {_GRP_SQL} AS grp, text, n_chars
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
              >= '{ICC_INC_CUT}'
    ),
    batchq AS (
        SELECT doc_id, grp, text FROM ingest
        WHERE n_chars >= {MIN_CHARS}
          AND len(string_split(text, ' ')) >= {MIN_TOKENS}
          AND len(list_distinct(string_split(text, ' '))) * 1.0
              / len(string_split(text, ' ')) >= {MIN_DISTINCT_RATIO}
    ),
    osh AS (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS t
              FROM documents
              WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                    < '{ICC_INC_CUT}') d,
             UNNEST(generate_series(1, len(t) - 2)) AS u(i)
    ),
    bsh AS (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS t
              FROM batchq) d,
             UNNEST(generate_series(1, len(t) - 2)) AS u(i)
    ),
    sz AS (
        SELECT doc_id, COUNT(*) AS n FROM osh GROUP BY 1
        UNION ALL
        SELECT doc_id, COUNT(*) AS n FROM bsh GROUP BY 1
    ),
    cand AS (
        SELECT b.doc_id AS nd, a.doc_id AS od,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM bsh b JOIN (SELECT doc_id, s, TRUE AS is_old FROM osh
                         UNION ALL
                         SELECT doc_id, s, FALSE FROM bsh) a
          ON a.s = b.s AND (a.is_old OR a.doc_id < b.doc_id)
        GROUP BY 1, 2
    ),
    drops AS (
        SELECT DISTINCT cand.nd
        FROM cand
        JOIN sz s1 ON s1.doc_id = cand.nd
        JOIN sz s2 ON s2.doc_id = cand.od
        WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.2
    ),
    surv AS (
        SELECT b.* FROM batchq b
        WHERE NOT EXISTS (SELECT 1 FROM drops
                          WHERE drops.nd = b.doc_id)
    ),
    fin AS (
        SELECT word, CAST(len(syms) AS BIGINT) AS w_syms
        FROM st WHERE round = (SELECT MAX(round) FROM st)
    ),
    dw AS (
        SELECT s.doc_id, s.grp, s.word, CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT doc_id, grp,
                     unnest(string_split(text, ' ')) AS word
              FROM surv) s
        GROUP BY 1, 2, 3
    ),
    doctok AS (
        SELECT doc_id, grp,
               SUM(k) AS n_tok, SUM(k * w_syms) AS n_syms
        FROM dw JOIN fin USING (word) GROUP BY 1, 2
    ),
    cb AS (SELECT c_id, cv FROM read_parquet('{path}/*.parquet')),
    asg AS (
        SELECT s.doc_id, s.grp,
               (SELECT c.c_id FROM cb c
                ORDER BY ROUND(list_cosine_similarity(
                             e.embedding::DOUBLE[], c.cv), 6) DESC,
                         c.c_id
                LIMIT 1) AS c_id
        FROM surv s JOIN embeddings e ON e.vec_id = s.doc_id
    ),
    a_ing AS (SELECT grp, COUNT(*) AS n FROM ingest GROUP BY 1),
    a_q AS (SELECT grp, COUNT(*) AS n FROM batchq GROUP BY 1),
    a_d AS (SELECT grp, COUNT(*) AS n FROM surv GROUP BY 1),
    a_t AS (SELECT grp, SUM(n_tok) AS tok, SUM(n_syms) AS syms
            FROM doctok GROUP BY 1),
    a_c AS (SELECT grp, COUNT(DISTINCT c_id) AS nc FROM asg GROUP BY 1)
    SELECT a_ing.grp,
           CAST(a_ing.n AS BIGINT) AS n_ingest,
           CAST(COALESCE(a_q.n, 0) AS BIGINT) AS n_quality,
           CAST(COALESCE(a_d.n, 0) AS BIGINT) AS n_dedup,
           CAST(COALESCE(a_t.tok, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(a_t.syms, 0) AS BIGINT) AS n_bpe_syms,
           CAST(CEIL(COALESCE(a_t.syms, 0) * 1.0 / {PACK_BUDGET})
                AS BIGINT) AS n_batches,
           CAST(COALESCE(a_c.nc, 0) AS BIGINT) AS n_cells
    FROM a_ing
    LEFT JOIN a_q ON a_q.grp = a_ing.grp
    LEFT JOIN a_d ON a_d.grp = a_ing.grp
    LEFT JOIN a_t ON a_t.grp = a_ing.grp
    LEFT JOIN a_c ON a_c.grp = a_ing.grp
    """


@register(
    "curation_pipeline_run",
    survey="corpus-funnel,LLM-dedup,LLM-text,LLM-sim,A1,A2,A6,J1,J7,F8",
    bench=True,
    oracle=_curation_pipeline_oracle,
    tags=("oracle-at-sf0.01",),
)
def curation_pipeline_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation run over an arriving batch — the composed
    pipeline a production training-data system executes per ingest,
    chaining THREE persisted train-once seams in one query with
    per-source-family accounting (verdict r9 #6): quality gates →
    near-dup drop against the PERSISTED dedup state
    (ensure_dedup_old_state — the store is never re-shingled) →
    token accounting with the PERSISTED BPE tokenizer
    (ensure_bpe_artifacts — never retrained) → context-window packing
    → IVF cell coverage with the PERSISTED codebook
    (ensure_ivf_codebook — never refit). Output: one row per mix
    family (corpus_mix's grouping) with the doc counts entering /
    surviving each stage, whitespace-token and BPE-symbol totals,
    packed-batch count, and distinct index cells touched.

    Stage semantics reuse the standalone operators' exact formulas so
    the oracle (a full recompute of all five stages, including the
    BPE training replay) proves the COMPOSITION: quality =
    quality_filter_funnel's three content gates; dedup drops a batch
    doc with a 3-gram-Jaccard ≥ 0.2 neighbor that is either already
    in the store (old wins) or a smaller-id batch doc (keep-first —
    the pairwise rule, deliberately not component-canonical: a
    per-ingest drop decision can't wait for the full cluster
    resolution incremental_dedup_clusters maintains); tokens =
    bpe_encode_documents' vocabulary-join encoding; packing =
    CEIL(family symbols / PACK_BUDGET) — division by a power of two
    is float-exact, so the CEIL can't flip cross-engine; cells =
    assign_cells_literal's argmax over the persisted codebook.

    Scale (100 TB): per-ingest cost is batch-proportional everywhere —
    the batch is broadcast into the corpus-sized persisted index
    (never the reverse, never old×old), the BPE vocab join is a
    broadcast of the Zipf-bounded segmentation table, cell assignment
    is a narrow literal-codebook map, and every accounting aggregate
    is map-combinable on a 3-value key. The batch frame is
    checkpointed once per stage boundary so no stage re-reads the
    corpus. Driver correctness runs at sf0.01 (the codebook oracle
    reads that SF's persisted artifact — the ivf family's
    oracle-at-sf0.01 convention)."""
    from covid_weather_etl_spark.operators.similarity import (
        _vecs, assign_cells_literal, ensure_ivf_codebook)
    t = load_tables(spark, sf_dir, ("documents", "embeddings"))
    is_new = (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
              >= ICC_INC_CUT)
    grp = F.concat(
        F.lit("g"),
        (F.regexp_extract("source", r"src(\d+)", 1).cast("bigint") % 3)
        .cast("string"))
    # batch-sized; checkpointed once, feeds quality + accounting
    ingest = (spread(t["documents"].filter(is_new), "doc_id")
              .select("doc_id", grp.alias("grp"), "text", "n_chars")
              .localCheckpoint(eager=False))
    toks = F.split("text", " ")
    batchq = (ingest
              .filter((F.col("n_chars") >= MIN_CHARS)
                      & (F.size(toks) >= MIN_TOKENS)
                      & ((F.size(F.array_distinct(toks)) * 1.0
                          / F.size(toks)) >= MIN_DISTINCT_RATIO))
              .select("doc_id", "grp", "text")
              .localCheckpoint(eager=False))
    # --- stage 3: near-dup drop vs persisted store + within batch ---
    _, old_idx, old_sz = ensure_dedup_old_state(spark, sf_dir)
    bsh = shingled_rows(batchq).localCheckpoint(eager=False)
    bsz = bsh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    sizes = old_sz.unionByName(bsz)
    a_all = (old_idx.select(F.col("doc_id").alias("od"), "s",
                            F.lit(True).alias("is_old"))
             .unionByName(bsh.select(F.col("doc_id").alias("od"), "s",
                                     F.lit(False).alias("is_old"))))
    # batch side broadcast: the persisted index streams past in place
    cand = (a_all.join(F.broadcast(
                bsh.select(F.col("doc_id").alias("nd"), "s")), "s")
            .filter(F.col("is_old") | (F.col("od") < F.col("nd")))
            .groupBy("nd", "od").agg(F.count("*").alias("c")))
    # candidate-sized after the first join — broadcast it into sizes
    s1 = sizes.select(F.col("doc_id").alias("nd"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("od"), F.col("n").alias("n2"))
    jj = s2.join(F.broadcast(s1.join(F.broadcast(cand), "nd")), "od")
    drops = (jj.filter((F.col("c") * 1.0
                        / (F.col("n1") + F.col("n2") - F.col("c")))
                       >= 0.2)
             .select(F.col("nd").alias("doc_id")).distinct())
    surv = (batchq.join(drops, "doc_id", "left_anti")
            .localCheckpoint(eager=False))
    # --- stage 4: token accounting with the persisted tokenizer ---
    _, vocab = TX.ensure_bpe_artifacts(spark, sf_dir)
    enc = vocab.select("word", F.size("syms").cast("long").alias("w_syms"))
    dw = (surv.select("doc_id", "grp",
                      F.explode(F.split("text", " ")).alias("word"))
          .groupBy("doc_id", "grp", "word").agg(F.count("*").alias("k")))
    doctok = (dw.join(F.broadcast(enc), "word")
              .groupBy("doc_id", "grp")
              .agg(F.sum("k").alias("n_tok"),
                   F.sum(F.col("k") * F.col("w_syms")).alias("n_syms")))
    # --- stage 6: index-cell coverage with the persisted codebook ---
    rows_cb = ensure_ivf_codebook(spark, sf_dir)
    emb = _vecs(t["embeddings"])
    asg = assign_cells_literal(
        surv.select("doc_id", "grp")
            .join(emb, F.col("doc_id") == F.col("vec_id")),
        rows_cb)
    # --- per-family accounting (3-row frames, broadcast-joined) ---
    a_ing = ingest.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_ingest"))
    a_q = batchq.groupBy("grp").agg(
        F.count("*").cast("long").alias("nq"))
    a_d = surv.groupBy("grp").agg(
        F.count("*").cast("long").alias("nd_"))
    a_t = doctok.groupBy("grp").agg(
        F.sum("n_tok").cast("long").alias("tok"),
        F.sum("n_syms").cast("long").alias("syms"))
    a_c = asg.groupBy("grp").agg(
        F.countDistinct("c_id").cast("long").alias("nc"))
    z = F.lit(0).cast("long")
    syms = F.coalesce("syms", z)
    return (a_ing
            .join(F.broadcast(a_q), "grp", "left")
            .join(F.broadcast(a_d), "grp", "left")
            .join(F.broadcast(a_t), "grp", "left")
            .join(F.broadcast(a_c), "grp", "left")
            .select("grp", "n_ingest",
                    F.coalesce("nq", z).alias("n_quality"),
                    F.coalesce("nd_", z).alias("n_dedup"),
                    F.coalesce("tok", z).alias("n_tokens"),
                    syms.alias("n_bpe_syms"),
                    F.ceil(syms * F.lit(1.0) / F.lit(PACK_BUDGET))
                    .cast("long").alias("n_batches"),
                    F.coalesce("nc", z).alias("n_cells")))


#: training-run token budget (BPE symbols) for the mix plan — sized so
#: the driver corpora need 2-20 epochs per family (non-degenerate at
#: every SF: total corpus symbol mass runs ~3e4-4e5).
TRAIN_TOKEN_BUDGET = 200_000


@register(
    "mix_token_budget_plan",
    survey="LLM-text,corpus-pack,A5,A6,F8,F9",
    oracle=lambda: f"""
    WITH RECURSIVE {TX._bpe_st_ctes()},
    fin AS (
        SELECT word, CAST(len(syms) AS BIGINT) AS w_syms
        FROM st WHERE round = (SELECT MAX(round) FROM st)
    ),
    dw AS (
        SELECT {_GRP_SQL} AS grp, word, CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT source, unnest(string_split(text, ' ')) AS word
              FROM documents)
        GROUP BY 1, 2
    ),
    fam AS (
        SELECT grp, CAST(SUM(k * w_syms) AS BIGINT) AS avail_syms
        FROM dw JOIN fin USING (word) GROUP BY grp
    ),
    cap AS (
        SELECT CAST(FLOOR(MIN(avail_syms / ({_W_SQL}))) AS BIGINT)
            AS max_norepeat_budget
        FROM fam
    )
    SELECT grp,
           avail_syms,
           CAST(FLOOR({TRAIN_TOKEN_BUDGET} * ({_W_SQL})) AS BIGINT)
               AS target_syms,
           CAST(CEIL(FLOOR({TRAIN_TOKEN_BUDGET} * ({_W_SQL}))
                     * 1e0 / avail_syms) AS BIGINT) AS epochs_needed,
           CAST(GREATEST(0, FLOOR({TRAIN_TOKEN_BUDGET} * ({_W_SQL}))
                            - avail_syms) AS BIGINT)
               AS single_epoch_shortfall,
           cap.max_norepeat_budget
    FROM fam CROSS JOIN cap
    """,
)
def mix_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-CONSTRAINED training-mix plan (the Muennighoff et al. 2022
    repeated-data accounting) priced in REAL tokenizer symbols from
    the persisted BPE artifact: for a TRAIN_TOKEN_BUDGET-symbol run at
    MIX_WEIGHTS proportions, each source family must contribute
    floor(B·w_g) symbols; the corpus holds avail_g — so the plan
    reports the repeat factor CEIL(target/avail) (epochs of family g
    the loader must schedule), the single-epoch shortfall, and the
    largest budget servable with NO repetition
    (floor(min_g avail_g / w_g) — corpus_mix's binding-family cap
    lifted from document space to token space). This is the table a
    pretraining-data owner reads before committing a mix: which
    family binds, which gets repeated (and so diminishing returns),
    and how far the corpus stretches.

    Exactness: avail/target are exact integers off the broadcast
    vocabulary join (the persisted segmentation — never a retrain);
    B·w and avail/w are single shared-text double products/divisions
    feeding FLOOR/CEIL identically on both engines (the _W_SQL
    double-literal discipline), and the CEIL ratio divides two int64s
    (exact whenever integral). Plan: one corpus scan into family word
    counts (map-combinable), one broadcast vocab join, a 3-row
    aggregate + a 1-row broadcast cap."""
    _, vocab = TX.ensure_bpe_artifacts(spark, sf_dir)
    enc = vocab.select("word", F.size("syms").cast("long").alias("w_syms"))
    t = load_tables(spark, sf_dir, ("documents",))
    grp = F.concat(
        F.lit("g"),
        (F.regexp_extract("source", r"src(\d+)", 1).cast("bigint") % 3)
        .cast("string"))
    dw = (spread(t["documents"], "doc_id")
          .select(grp.alias("grp"),
                  F.explode(F.split("text", " ")).alias("word"))
          .groupBy("grp", "word").agg(F.count("*").alias("k")))
    w_expr = (F.when(F.col("grp") == "g0", MIX_WEIGHTS["g0"])
              .when(F.col("grp") == "g1", MIX_WEIGHTS["g1"])
              .otherwise(MIX_WEIGHTS["g2"]))
    fam = (dw.join(F.broadcast(enc), "word")
           .groupBy("grp")
           .agg(F.sum(F.col("k") * F.col("w_syms")).cast("long")
                .alias("avail_syms")))
    cap = fam.agg(F.floor(F.min(F.col("avail_syms") / w_expr))
                  .cast("long").alias("max_norepeat_budget"))
    target = F.floor(F.lit(float(TRAIN_TOKEN_BUDGET)) * w_expr)
    return (fam.crossJoin(F.broadcast(cap))
            .select("grp", "avail_syms",
                    target.cast("long").alias("target_syms"),
                    F.ceil(target * F.lit(1.0) / F.col("avail_syms"))
                    .cast("long").alias("epochs_needed"),
                    F.greatest(F.lit(0).cast("long"),
                               (target - F.col("avail_syms"))
                               .cast("long"))
                    .alias("single_epoch_shortfall"),
                    "max_norepeat_budget"))


@register(
    "epoch_repeat_schedule",
    survey="LLM-text,corpus-pack,A6,W1,F8",
    oracle=lambda: f"""
    WITH RECURSIVE {TX._bpe_st_ctes()},
    fin AS (
        SELECT word, CAST(len(syms) AS BIGINT) AS w_syms
        FROM st WHERE round = (SELECT MAX(round) FROM st)
    ),
    dw AS (
        SELECT {_GRP_SQL} AS grp, word, CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT source, unnest(string_split(text, ' ')) AS word
              FROM documents)
        GROUP BY 1, 2
    ),
    fam AS (
        SELECT grp, CAST(SUM(k * w_syms) AS BIGINT) AS avail_syms
        FROM dw JOIN fin USING (word) GROUP BY grp
    ),
    sched AS (
        SELECT grp, avail_syms,
               CAST(FLOOR({TRAIN_TOKEN_BUDGET} * ({_W_SQL})) AS BIGINT)
                   AS target_syms,
               CAST(CEIL(FLOOR({TRAIN_TOKEN_BUDGET} * ({_W_SQL}))
                         * 1e0 / avail_syms) AS BIGINT) AS ep
        FROM fam
    )
    SELECT grp, CAST(e AS BIGINT) AS epoch,
           CAST(CASE WHEN e < ep THEN avail_syms
                     ELSE target_syms - (ep - 1) * avail_syms
                END AS BIGINT) AS tokens_drawn,
           CAST(LEAST(e * avail_syms, target_syms) AS BIGINT)
               AS cum_tokens
    FROM sched, UNNEST(generate_series(1, ep)) AS u(e)
    """,
)
def epoch_repeat_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LOADER SCHEDULE `mix_token_budget_plan` implies — one row
    per (family, epoch) of the data-constrained run: full corpus
    passes draw avail_g symbols each, the final pass draws the
    remainder target − (epochs−1)·avail (the partial epoch a
    repeat-aware loader truncates deterministically), with the
    cumulative token position after each pass. This is the table the
    epoch scheduler (epoch_shuffle_plan's seeded orders) walks — plan
    (how much) and schedule (when) split exactly like
    sequence_packing vs pack_efficiency_report.

    All-integer: availability/targets are the mix plan's exact
    integers; the epoch explode is a bounded F.sequence (epochs ≤
    B/min-avail — never corpus-sized). One corpus scan + broadcast
    vocab join + 3-row aggregate + a bounded generate_series."""
    _, vocab = TX.ensure_bpe_artifacts(spark, sf_dir)
    enc = vocab.select("word", F.size("syms").cast("long").alias("w_syms"))
    t = load_tables(spark, sf_dir, ("documents",))
    grp = F.concat(
        F.lit("g"),
        (F.regexp_extract("source", r"src(\d+)", 1).cast("bigint") % 3)
        .cast("string"))
    dw = (spread(t["documents"], "doc_id")
          .select(grp.alias("grp"),
                  F.explode(F.split("text", " ")).alias("word"))
          .groupBy("grp", "word").agg(F.count("*").alias("k")))
    w_expr = (F.when(F.col("grp") == "g0", MIX_WEIGHTS["g0"])
              .when(F.col("grp") == "g1", MIX_WEIGHTS["g1"])
              .otherwise(MIX_WEIGHTS["g2"]))
    fam = (dw.join(F.broadcast(enc), "word")
           .groupBy("grp")
           .agg(F.sum(F.col("k") * F.col("w_syms")).cast("long")
                .alias("avail_syms")))
    target = F.floor(F.lit(float(TRAIN_TOKEN_BUDGET)) * w_expr) \
        .cast("long")
    sched = (fam.select(
        "grp", "avail_syms", target.alias("target_syms"),
        F.ceil(target * F.lit(1.0) / F.col("avail_syms"))
        .cast("long").alias("ep"))
        # sequence(1, 0) in Spark yields the DESCENDING [1, 0], while
        # DuckDB's generate_series(1, 0) is empty — if a family's
        # target ever floors to 0 symbols the engines would diverge
        # (advice r10). Drop zero-epoch families before the explode,
        # mirroring the short-document guard of textops.ngrams.
        .where(F.col("ep") >= 1))
    e = F.col("epoch")
    return (sched
            .select("grp", "avail_syms", "target_syms", "ep",
                    F.explode(F.sequence(F.lit(1).cast("long"),
                                         F.col("ep"))).alias("epoch"))
            .select("grp", e.alias("epoch"),
                    F.when(e < F.col("ep"), F.col("avail_syms"))
                    .otherwise(F.col("target_syms")
                               - (F.col("ep") - 1) * F.col("avail_syms"))
                    .cast("long").alias("tokens_drawn"),
                    F.least(e * F.col("avail_syms"),
                            F.col("target_syms")).cast("long")
                    .alias("cum_tokens")))


#: a shingle posted in at least this many store documents is "hot" —
#: its posting list dominates the candidate pair join (cost ∝ C(df,2)).
HOT_SHINGLE_DF = 4


@register(
    "dedup_state_compaction_report",
    survey="LLM-dedup,A1,A2,A6,A8,F9",
    oracle=f"""
    WITH osh AS (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS t
              FROM documents
              WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                    < '{ICC_INC_CUT}') d,
             UNNEST(generate_series(1, len(t) - 2)) AS u(i)
    ),
    df AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM osh GROUP BY 1),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
           FROM osh)
    SELECT nd.n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(df) AS BIGINT) AS n_postings,
           CAST(MAX(df) AS BIGINT) AS max_df,
           CAST(SUM(CASE WHEN df >= {HOT_SHINGLE_DF}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
           CAST(SUM(CASE WHEN df >= {HOT_SHINGLE_DF}
                         THEN df ELSE 0 END) AS BIGINT) AS postings_hot,
           CAST(SUM(df * (df - 1) // 2) AS BIGINT) AS cand_pairs,
           CAST(SUM(CASE WHEN df < {HOT_SHINGLE_DF}
                         THEN df * (df - 1) // 2 ELSE 0 END)
                AS BIGINT) AS cand_pairs_capped
    FROM df CROSS JOIN nd
    GROUP BY nd.n_docs
    """,
)
def dedup_state_compaction_report(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Health / compaction report of the PERSISTED dedup inverted
    index (ensure_dedup_old_state) — the capacity-planning numbers an
    incremental dedup service reads before every ingest: index size
    (docs, distinct shingles, postings), posting-list skew (max df,
    hot-shingle count and posting mass at df ≥ {HOT_SHINGLE_DF}), and
    the candidate-pair cost the NEXT full pair join would pay
    (Σ C(df,2) — the actual row count of a shingle-keyed self-join)
    with and without capping hot shingles. A growing hot share is the
    signal to stop-list boilerplate shingles or re-band — exactly the
    MinHash/CDC tuning decision, priced from the live artifact.

    All-integer single-row output. Spark side reads the persisted
    index (the seam — never re-shingles the store); the oracle
    recomputes the same index from the raw corpus, so the hash match
    re-proves the artifact's content on every driver run, not just
    its consumers. Plan: one groupBy(s) over the index + one global
    aggregate — map-combinable, shingle-bounded."""
    _, old_idx, old_sz = ensure_dedup_old_state(spark, sf_dir)
    df_ = old_idx.groupBy("s").agg(F.count("*").alias("df"))
    hot = F.col("df") >= HOT_SHINGLE_DF
    pairs = F.expr("df * (df - 1) div 2")  # even product: exact integer
    nd = old_sz.agg(F.count("*").cast("long").alias("n_docs"))
    return (df_.agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum("df").cast("long").alias("n_postings"),
        F.max("df").cast("long").alias("max_df"),
        F.sum(hot.cast("long")).cast("long").alias("n_hot"),
        F.sum(F.when(hot, F.col("df")).otherwise(0)).cast("long")
        .alias("postings_hot"),
        F.sum(pairs).cast("long").alias("cand_pairs"),
        F.sum(F.when(~hot, pairs).otherwise(0)).cast("long")
        .alias("cand_pairs_capped"))
        .crossJoin(F.broadcast(nd))
        .select("n_docs", "n_shingles", "n_postings", "max_df",
                "n_hot", "postings_hot", "cand_pairs",
                "cand_pairs_capped"))


def dedup_compacted_idx_path(sf_dir: str) -> str:
    """Warehouse location of the COMPACTED inverted index — a sibling
    of the old-store state (same path + content-fingerprint + batch-
    cut keying, plus the hot threshold, so retuning HOT_SHINGLE_DF
    rebuilds instead of reading a stale compaction)."""
    return dedup_star_path(sf_dir, "old") + f"_idxc{HOT_SHINGLE_DF}"


def ensure_dedup_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the compaction the report prices: drop every posting of
    a hot shingle (df >= HOT_SHINGLE_DF) from the persisted inverted
    index and persist the result — the APPLY half of the dedup-state
    maintenance seam. Corpus-sized artifact: returned as a DataFrame,
    never collected (the ensure_dedup_old_state discipline)."""
    def build(path: str) -> None:
        _, old_idx, _ = ensure_dedup_old_state(spark, sf_dir)
        hot = (old_idx.groupBy("s").agg(F.count("*").alias("df"))
               .filter(F.col("df") >= HOT_SHINGLE_DF).select("s"))
        (old_idx.join(hot, "s", "left_anti")
         .write.mode("overwrite").parquet(path))

    return read_parquet(spark, ensure(dedup_compacted_idx_path(sf_dir), build))


@register(
    "dedup_state_compaction_apply",
    survey="LLM-dedup,A1,A2,J1,J7,P7",
    oracle=f"""
    WITH osh AS (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS t
              FROM documents
              WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                    < '{ICC_INC_CUT}') d,
             UNNEST(generate_series(1, len(t) - 2)) AS u(i)
    ),
    bsh AS (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS t
              FROM documents
              WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                    >= '{ICC_INC_CUT}') d,
             UNNEST(generate_series(1, len(t) - 2)) AS u(i)
    ),
    df AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM osh GROUP BY 1),
    osz AS (SELECT doc_id, COUNT(*) AS n FROM osh GROUP BY 1),
    bsz AS (SELECT doc_id, COUNT(*) AS n FROM bsh GROUP BY 1),
    idx AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_shingles_before,
               CAST(SUM(df) AS BIGINT) AS n_postings_before,
               CAST(SUM(CASE WHEN df < {HOT_SHINGLE_DF}
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shingles_after,
               CAST(SUM(CASE WHEN df < {HOT_SHINGLE_DF}
                             THEN df ELSE 0 END) AS BIGINT)
                   AS n_postings_after
        FROM df
    ),
    pc AS (
        SELECT b.doc_id AS nd, o.doc_id AS od, COUNT(*) AS c
        FROM bsh b JOIN osh o ON b.s = o.s GROUP BY 1, 2
    ),
    pca AS (
        SELECT DISTINCT b.doc_id AS nd, o.doc_id AS od
        FROM bsh b
        JOIN osh o ON b.s = o.s
        JOIN df ON df.s = b.s
        WHERE df.df < {HOT_SHINGLE_DF}
    ),
    ver AS (
        SELECT pc.nd, pc.od,
               pc.c * 1.0 / (bsz.n + osz.n - pc.c) >= 0.2 AS ok
        FROM pc
        JOIN bsz ON bsz.doc_id = pc.nd
        JOIN osz ON osz.doc_id = pc.od
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS cand_before,
               CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
                   AS verified_before
        FROM ver
    ),
    agga AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS cand_after,
               CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
                   AS verified_after
        FROM pca JOIN ver ON ver.nd = pca.nd AND ver.od = pca.od
    )
    SELECT idx.n_shingles_before, idx.n_shingles_after,
           idx.n_postings_before, idx.n_postings_after,
           agg.cand_before, agga.cand_after,
           agg.verified_before, agga.verified_after,
           agg.verified_before - agga.verified_after AS missed_pairs
    FROM idx CROSS JOIN agg CROSS JOIN agga
    """,
)
def dedup_state_compaction_apply(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """MAINTAIN → RE-VERIFY for the dedup seam: EXECUTE the compaction
    dedup_state_compaction_report prices (drop hot-shingle postings,
    df >= {HOT_SHINGLE_DF}, from the persisted inverted index;
    persisted as a sibling artifact), then replay the next INGEST's
    candidate generation against BOTH index versions and verify every
    candidate on the FULL shingle sets at the state's J >= 0.2 rule.
    One all-integer row:

      n_shingles/n_postings before/after   compaction accounting
      cand_before/after        batch candidate pairs each index emits
      verified_before/after    candidates that are TRUE duplicates
      missed_pairs             true duplicates the compacted index no
                               longer surfaces — the RECALL PRICE of
                               the compaction, measured, not assumed
                               (a pair is missed iff its every shared
                               shingle is hot — boilerplate-only
                               overlap, which is usually exactly what
                               compaction intends to stop paying for;
                               a nonzero count is the signal to lower
                               HOT_SHINGLE_DF back toward re-banding).

    Unlike the IVF apply (float centroid artifact, oracle reads the
    parquet), everything here is integer set algebra, so the DuckDB
    twin recomputes BOTH the compaction and the ingest replay from the
    raw corpus — the driver hash re-proves the artifact's content and
    the maintenance decision end-to-end.

    Plan: the index df aggregate is shingle-bounded; candidate
    generation is the batch-into-index join (batch-proportional, the
    incremental contract); verification is array_intersect over
    per-doc sorted arrays (collision-bounded frame, AQE-broadcast
    joins); compacted candidates re-use the verified frame via a
    semi-join, so the exact intersection is computed ONCE per pair."""
    _, old_idx, old_sz = ensure_dedup_old_state(spark, sf_dir)
    cidx = ensure_dedup_compacted(spark, sf_dir)
    t = load_tables(spark, sf_dir, ("documents",))
    is_new = (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
              >= ICC_INC_CUT)
    batch = shingled_rows(spread(t["documents"].filter(is_new), "doc_id"))

    df_ = old_idx.groupBy("s").agg(F.count("*").alias("df"))
    cold = F.col("df") < HOT_SHINGLE_DF
    idx_acct = df_.agg(
        F.count("*").cast("long").alias("n_shingles_before"),
        F.sum(cold.cast("long")).cast("long").alias("n_shingles_after"),
        F.sum("df").cast("long").alias("n_postings_before"),
        F.sum(F.when(cold, F.col("df")).otherwise(0)).cast("long")
        .alias("n_postings_after"))

    bsets = (batch.groupBy("doc_id")
             .agg(F.array_sort(F.collect_list("s")).alias("bset"),
                  F.count("*").alias("bn")))
    osets = (old_idx.groupBy("doc_id")
             .agg(F.array_sort(F.collect_list("s")).alias("oset"),
                  F.count("*").alias("on")))

    def cand(idx: DataFrame) -> DataFrame:
        return (batch.join(idx.select(F.col("doc_id").alias("od"), "s"),
                           "s")
                .select(F.col("doc_id").alias("nd"), "od")
                .distinct())

    c = F.col("c")
    ver = (cand(old_idx)
           .join(bsets.select(F.col("doc_id").alias("nd"),
                              "bset", "bn"), "nd")
           .join(osets.select(F.col("doc_id").alias("od"),
                              "oset", "on"), "od")
           .withColumn("c", F.size(F.array_intersect("bset", "oset"))
                       .cast("long"))
           .select("nd", "od",
                   (c * 1.0 / (F.col("bn") + F.col("on") - c) >= 0.2)
                   .alias("ok")))
    before = ver.agg(
        F.count("*").cast("long").alias("cand_before"),
        F.sum(F.col("ok").cast("long")).cast("long")
        .alias("verified_before"))
    after = (cand(cidx).join(ver, ["nd", "od"])
             .agg(F.count("*").cast("long").alias("cand_after"),
                  F.sum(F.col("ok").cast("long")).cast("long")
                  .alias("verified_after")))
    return (idx_acct.crossJoin(F.broadcast(before))
            .crossJoin(F.broadcast(after))
            .select("n_shingles_before", "n_shingles_after",
                    "n_postings_before", "n_postings_after",
                    "cand_before", "cand_after",
                    "verified_before", "verified_after",
                    (F.col("verified_before") - F.col("verified_after"))
                    .alias("missed_pairs")))


#: context-window limits evaluated by the truncation-loss report
#: (token counts in the driver corpora run 10-99).
TRUNC_LIMITS = (16, 32, 64)


@register(
    "truncation_loss_report",
    survey="corpus-pack,A3,A6,F9",
    oracle=f"""
    WITH lens AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ), ls(l) AS (VALUES {", ".join(f"({w})" for w in TRUNC_LIMITS)})
    SELECT CAST(l AS INT) AS context_limit, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_tok > l THEN 1 ELSE 0 END) AS BIGINT)
               AS n_truncated,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(LEAST(n_tok, l)) AS BIGINT) AS kept_tokens,
           {fround_sql("1e0 - SUM(LEAST(n_tok, l)) * 1e0 / SUM(n_tok)")}
               AS lost_share
    FROM lens CROSS JOIN ls
    GROUP BY 1, 2
    """,
)
def truncation_loss_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTEXT-WINDOW TRUNCATION audit — the first number a training
    (or serving) pipeline needs before fixing max_seq_len: per
    (context limit, lang), how many documents overflow and what share
    of tokens the hard cut discards. The complement of
    bucketing_efficiency_eval (padding waste) and
    context_packing_stats (concat-and-chunk): together the three
    cover every way sequence-length policy burns tokens. The
    monotone-in-L kept_tokens column is the curve that justifies a
    longer context (or a split-long-docs preprocessing stage, at
    which point span_corruption_plan takes over).

    Plan: one corpus scan to integer lengths, a broadcast fan-out
    over the {len(TRUNC_LIMITS)} limits, one map-combinable
    integer aggregate; the single float op is the final fround
    ratio. Embarrassingly parallel at any scale."""
    t = load_tables(spark, sf_dir, ("documents",))
    ls = driver.local_frame(spark, [(w,) for w in TRUNC_LIMITS], "l int")
    lens = (spread(t["documents"], "doc_id")
            .select("lang", F.size(F.split("text", " ")).cast("long")
                    .alias("n_tok")))
    return (lens.crossJoin(F.broadcast(ls))
            .groupBy(F.col("l").cast("int").alias("context_limit"),
                     "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum((F.col("n_tok") > F.col("l")).cast("long"))
                 .alias("n_truncated"),
                 F.sum("n_tok").cast("long").alias("total_tokens"),
                 F.sum(F.least("n_tok", F.col("l").cast("long")))
                 .cast("long").alias("kept_tokens"),
                 fround(F.lit(1.0)
                        - F.sum(F.least("n_tok",
                                        F.col("l").cast("long"))) * 1.0
                        / F.sum("n_tok")).alias("lost_share")))


#: Jaccard thresholds swept by the dedup sensitivity report — as
#: exponent-literal SQL text so both engines parse DOUBLE (the
#: candidate pass already bounds pairs at >= 0.2, the sweep floor).
DTS_THRESHOLDS = ("2e-1", "35e-2", "5e-1")
#: node-id offset separating the per-threshold graph copies — one
#: star contraction runs all thresholds as disjoint subgraphs.
DTS_OFFSET = 10_000_000_000_000


def _dts_oracle_sql() -> str:
    branches = []
    for i, thr in enumerate(DTS_THRESHOLDS):
        branches.append(f"""
    e{i} AS (
        SELECT doc_id_1 AS a, doc_id_2 AS b FROM ngram_pairs
        WHERE jaccard >= {thr}
    ),
    ed{i} AS (SELECT a, b FROM e{i}
              UNION ALL SELECT b, a FROM e{i}),
    w{i}(doc_id, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.b, w.label FROM w{i} w JOIN ed{i} e ON e.a = w.doc_id
    ),
    l{i} AS (
        SELECT doc_id, MIN(label) AS cluster_id FROM w{i} GROUP BY 1
    ),
    c{i} AS (
        SELECT cluster_id, COUNT(*) AS sz FROM l{i}
        GROUP BY 1 HAVING COUNT(*) >= 2
    ),
    s{i} AS (
        SELECT {thr} AS threshold,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM e{i}) AS n_edges,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(COALESCE(SUM(sz), 0) AS BIGINT) AS n_dup_docs,
               CAST(COALESCE(MAX(sz), 0) AS BIGINT) AS max_cluster_size
        FROM c{i}
    )""")
    unions = " UNION ALL ".join(
        f"SELECT * FROM s{i}" for i in range(len(DTS_THRESHOLDS)))
    return (f"WITH RECURSIVE {TX.NGRAM_PAIRS_CTES}, "
            + ", ".join(branches)
            + f""",
    allt AS ({unions}),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
    SELECT threshold, n_edges, n_clusters, n_dup_docs, max_cluster_size,
           {fround_sql("n_dup_docs * 1e0 / tot.n")} AS dup_share
    FROM allt CROSS JOIN tot
    """)


@register(
    "dedup_threshold_sensitivity",
    survey="corpus-cc,LLM-dedup,A6,A8,F9",
    oracle=_dts_oracle_sql(),
)
def dedup_threshold_sensitivity(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """DEDUP THRESHOLD SENSITIVITY — the tuning curve every near-dup
    pipeline needs before committing to a Jaccard cut (the
    ivf_nprobe_recall_sweep of the dedup family): per threshold in
    {DTS_THRESHOLDS}, the edge count, cluster count, duplicate-doc
    count/share and the largest cluster. Raising the threshold
    shrinks clusters and kills chaining (dedup_chain_audit's
    failure mode); this report shows exactly how fast, so the
    operating point is chosen from data, not folklore.

    Plan: ONE candidate pair pass (the existing bounded >= 0.2 stage
    — candidates for every threshold are its subsets, so the sweep is
    free at the expensive stage), then ONE star contraction for all
    thresholds at once: each threshold's subgraph is embedded at a
    disjoint node-id offset (thr_idx·1e13 + doc_id — min-labels are
    preserved within a copy because the offset is monotone), so the
    O(log² n) contraction rounds and their per-round jobs are paid
    once, not once per threshold. Stats decode the offset back out.
    At 100 TB the copies multiply contraction input by
    |thresholds|, never the corpus scan or the pair join."""
    t = load_tables(spark, sf_dir, ("documents",))
    pairs = (TX.ngram_jaccard_near_dup(spark, sf_dir)
             .select("doc_id_1", "doc_id_2", "jaccard")
             .localCheckpoint(eager=False))
    n_docs = t["documents"].count()
    copies = []
    edge_counts = {}
    for i, thr_txt in enumerate(DTS_THRESHOLDS):
        # float(text) is the correctly-rounded parse — the SAME double
        # DuckDB's exponent literal produces (35 * 10**-2 is NOT)
        e = pairs.filter(F.col("jaccard") >= float(thr_txt))
        copies.append(e.select(
            (F.lit(i * DTS_OFFSET) + F.col("doc_id_1")).alias("a"),
            (F.lit(i * DTS_OFFSET) + F.col("doc_id_2")).alias("b")))
    edges = copies[0]
    for c in copies[1:]:
        edges = edges.unionByName(c)
    lbl = star_components(edges, op_name="dedup_threshold_sensitivity")
    # members per cluster = star nodes + the canonical node itself
    sizes = (lbl.groupBy(F.col("lbl").alias("cluster"))
             .agg((F.count("*") + 1).alias("sz")))
    stats = (sizes
             .groupBy(F.floor(F.col("cluster") / DTS_OFFSET)
                      .cast("int").alias("ti"))
             .agg(F.count("*").alias("n_clusters"),
                  F.sum("sz").cast("long").alias("n_dup_docs"),
                  F.max("sz").cast("long").alias("max_cluster_size")))
    # all three edge counts in ONE pass over the checkpointed pairs
    ec_row = pairs.agg(*[
        F.sum((F.col("jaccard") >= float(s)).cast("long")).alias(f"e{i}")
        for i, s in enumerate(DTS_THRESHOLDS)]).first()
    for i, thr_txt in enumerate(DTS_THRESHOLDS):
        edge_counts[i] = (float(thr_txt), ec_row[f"e{i}"])
    meta = driver.local_frame(
        spark, [(i, thr, ne) for i, (thr, ne) in edge_counts.items()],
        "ti int, threshold double, n_edges long")
    return (meta.join(stats, "ti", "left")
            .select("threshold", "n_edges",
                    F.coalesce("n_clusters", F.lit(0)).cast("long")
                    .alias("n_clusters"),
                    F.coalesce("n_dup_docs", F.lit(0)).cast("long")
                    .alias("n_dup_docs"),
                    F.coalesce("max_cluster_size", F.lit(0)).cast("long")
                    .alias("max_cluster_size"),
                    fround(F.coalesce("n_dup_docs", F.lit(0)) * 1.0
                           / F.lit(float(n_docs))).alias("dup_share")))


#: md5 cut for the leakage report's 80/20 doc-level split (the
#: incremental-ingest convention reused as a train/test split).
SLR_TEST_CUT = ICC_INC_CUT


@register(
    "split_leakage_report",
    survey="corpus-cc,LLM-dedup,A5,A6,J1",
    oracle=f"""
    WITH RECURSIVE {TX.NGRAM_PAIRS_CTES},
    side AS (
        SELECT doc_id,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                   >= '{SLR_TEST_CUT}' AS is_test
        FROM documents
    ),
    marked AS (
        SELECT p.doc_id_1, p.doc_id_2, s1.is_test AS t1, s2.is_test AS t2
        FROM ngram_pairs p
        JOIN side s1 ON s1.doc_id = p.doc_id_1
        JOIN side s2 ON s2.doc_id = p.doc_id_2
    ),
    leaked AS (
        SELECT DISTINCT CASE WHEN t1 THEN doc_id_1 ELSE doc_id_2 END
                   AS test_doc
        FROM marked WHERE t1 <> t2
    ),
    tot AS (
        SELECT CAST(SUM(CASE WHEN is_test THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_test,
               CAST(SUM(CASE WHEN is_test THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_train
        FROM side
    )
    SELECT t.n_train, t.n_test,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM marked)
               AS n_near_dup_pairs,
           (SELECT CAST(SUM(CASE WHEN t1 <> t2 THEN 1 ELSE 0 END)
                        AS BIGINT) FROM marked) AS n_cross_split_pairs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM leaked)
               AS n_leaked_test_docs,
           {fround_sql("(SELECT COUNT(*) FROM leaked) * 1e0 / t.n_test")}
               AS leaked_test_share
    FROM tot t
    """,
)
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN/TEST SPLIT LEAKAGE via near-duplicates — the eval-
    integrity check benchmark_decontamination (verbatim n-gram
    containment) cannot do: a test document that is a NEAR-dup of a
    train document inflates eval scores without any 8-gram match
    (Lee et al. 2022 measured this exact effect on C4 splits).
    Reports, for the doc-level 80/20 md5 split: the near-dup pair
    census, how many pairs CROSS the split, how many distinct test
    docs are contaminated, and the leaked share of the test set — the
    number that decides whether the split must be re-drawn at the
    CLUSTER level (split by dedup_clusters label, never by document,
    when this is non-zero).

    Plan: the bounded candidate pair pass (never all-pairs) + two
    broadcast-scale side joins + integer aggregates; the only float
    is the final share. At 100 TB the cross-split check rides the
    dedup pipeline's existing pair output for free."""
    t = load_tables(spark, sf_dir, ("documents",))
    is_test = (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
               >= SLR_TEST_CUT)
    side = t["documents"].select("doc_id", is_test.alias("is_test"))
    pairs = TX.ngram_jaccard_near_dup(spark, sf_dir) \
        .select("doc_id_1", "doc_id_2")
    marked = (pairs
              .join(side.select(F.col("doc_id").alias("doc_id_1"),
                                F.col("is_test").alias("t1")),
                    "doc_id_1")
              .join(side.select(F.col("doc_id").alias("doc_id_2"),
                                F.col("is_test").alias("t2")),
                    "doc_id_2")
              .localCheckpoint(eager=False))
    leaked = (marked.filter(F.col("t1") != F.col("t2"))
              .select(F.when(F.col("t1"), F.col("doc_id_1"))
                      .otherwise(F.col("doc_id_2")).alias("test_doc"))
              .distinct())
    stats = marked.agg(
        F.count("*").alias("n_near_dup_pairs"),
        F.sum((F.col("t1") != F.col("t2")).cast("long"))
        .alias("n_cross_split_pairs"))
    tot = side.agg(
        F.sum((~F.col("is_test")).cast("long")).alias("n_train"),
        F.sum(F.col("is_test").cast("long")).alias("n_test"))
    nl = leaked.agg(F.count("*").alias("n_leaked_test_docs"))
    return (tot.crossJoin(F.broadcast(stats))
            .crossJoin(F.broadcast(nl))
            .select("n_train", "n_test", "n_near_dup_pairs",
                    "n_cross_split_pairs", "n_leaked_test_docs",
                    fround(F.col("n_leaked_test_docs") * 1.0
                           / F.col("n_test")).alias("leaked_test_share")))
