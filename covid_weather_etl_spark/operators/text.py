"""Text-analysis operators over `documents` (LLM-pipeline extension).

The north-star additions for a 100 TB training-data pipeline
(BASELINE.json north_star): token statistics, quality scoring,
language-ID heuristic, content fingerprinting, and shingle-based
n-gram Jaccard near-dup detection — all as declarative DataFrame plans
(higher-order array functions, no Python UDFs), oracle-checked against
DuckDB's list/lambda equivalents.

Scale design: every per-document computation here is embarrassingly
parallel (narrow transforms over the text column — no shuffle at all
until an aggregate); the near-dup self-join shuffles on the *shingle*,
whose cardinality grows with corpus size, so the join stays sparse;
at 100 TB you'd add the MinHash/LSH band stage (operators/minhash.py)
in front to cap pair generation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from covid_weather_etl_spark.functions import driver
from covid_weather_etl_spark.functions.artifacts import artifact_path, ensure
from covid_weather_etl_spark.functions.numeric import (
    dsum, dsum_sql, fround, fround_sql, md5_int,
)
from covid_weather_etl_spark.functions.textops import (
    bigram_pairs, ngrams, shingled_rows,
)
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import (
    load_tables, read_parquet, spread,
)

# language marker words for the n-gram/stopword language-ID heuristic.
# Priority order (en, de, fr, es, zh) breaks score ties deterministically.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "y", "es"),
    "zh": ("的", "是", "了", "在", "和"),
}


def _tokens() -> F.Column:
    return F.split(F.col("text"), " ")


def _marker_count(tokens: F.Column, lang: str) -> F.Column:
    """# tokens that are marker words of `lang` (with repeats)."""
    markers = LANG_MARKERS[lang]
    return F.size(F.filter(tokens, lambda t: t.isin(*markers)))


def _marker_count_sql(lang: str) -> str:
    quoted = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter(toks, x -> x IN ({quoted})))"


@register(
    "token_stats",
    survey="LLM-text,F1,A13",
    bench=True,
    oracle="""
    SELECT doc_id,
           CAST(len(toks) AS INT)                 AS n_tokens,
           CAST(len(list_distinct(toks)) AS INT)  AS n_distinct_tokens,
           CAST(length(text) AS INT)              AS n_chars,
           CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INT)
                                                  AS n_ws_tokens,
           (length(replace(text, ' ', '')) * 1.0) / len(toks) AS avg_token_len
    FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer): per-document token,
    distinct-token and char counts plus mean token length. Narrow
    transform — zero shuffle, scales linearly."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = _tokens()
    no_ws = F.regexp_replace(F.col("text"), " ", "")
    return t["documents"].select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars"),
        (F.length("text") - F.length(no_ws) + 1).alias("n_ws_tokens"),
        (F.length(no_ws) * 1.0 / F.size(toks)).alias("avg_token_len"),
    )


@register(
    "quality_score",
    survey="LLM-text,P7,F9",
    oracle="""
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           {en_hits} * 1.0 / len(toks)                    AS stopword_ratio,
           len(list_distinct(toks)) * 1.0 / len(toks)     AS distinct_ratio,
           CASE WHEN len(toks) >= 20
                 AND len(list_distinct(toks)) * 1.0 / len(toks) >= 0.2
                THEN 'keep' ELSE 'filter' END             AS quality_route
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    """.format(en_hits=_marker_count_sql("en")),
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (length / stopword / repetition
    signals) with a keep-vs-filter routing decision — the text analog
    of the ETL validation router. All int-ratio math: deterministic."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = _tokens()
    df = t["documents"].select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        (_marker_count(toks, "en") * 1.0 / F.size(toks)).alias("stopword_ratio"),
        (F.size(F.array_distinct(toks)) * 1.0 / F.size(toks)).alias("distinct_ratio"),
    )
    return df.withColumn(
        "quality_route",
        F.when((F.col("n_tokens") >= 20) & (F.col("distinct_ratio") >= 0.2), "keep")
         .otherwise("filter"))


@register(
    "lang_id",
    survey="LLM-text,F8",
    oracle="""
    SELECT lang,
           predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT lang,
               CASE
                 WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
                 WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
                 WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
                 WHEN s_es >= s_zh THEN 'es'
                 ELSE 'zh'
               END AS predicted_lang
        FROM (
            SELECT lang,
                   {en} AS s_en, {de} AS s_de, {fr} AS s_fr,
                   {es} AS s_es, {zh} AS s_zh
            FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents)
        )
    )
    GROUP BY lang, predicted_lang
    """.format(**{k: _marker_count_sql(k) for k in LANG_MARKERS}),
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: score each document by marker-stopword
    hits per language, argmax with a fixed priority tie-break, then a
    confusion rollup against the labeled `lang` column."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = _tokens()
    scored = t["documents"].select(
        "lang", *[_marker_count(toks, k).alias(f"s_{k}") for k in LANG_MARKERS])
    s = {k: F.col(f"s_{k}") for k in LANG_MARKERS}
    predicted = (
        F.when((s["en"] >= s["de"]) & (s["en"] >= s["fr"])
               & (s["en"] >= s["es"]) & (s["en"] >= s["zh"]), "en")
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]) & (s["de"] >= s["zh"]), "de")
        .when((s["fr"] >= s["es"]) & (s["fr"] >= s["zh"]), "fr")
        .when(s["es"] >= s["zh"], "es")
        .otherwise("zh"))
    return (
        scored.select("lang", predicted.alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n"))
    )


@register(
    "doc_fingerprint",
    survey="LLM-text,D2",
    oracle="""
    SELECT doc_id,
           md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint,
           substr(md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 8)
             AS fingerprint_prefix
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whitespace-normalized, case-folded
    content hash — the 16-byte identity that shuffles instead of the
    document body in any downstream exact-dedup or provenance join."""
    t = load_tables(spark, sf_dir, ("documents",))
    normalized = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    return t["documents"].select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
        F.substring(F.md5(normalized), 1, 8).alias("fingerprint_prefix"),
    )


#: shared CTE chain producing the 3-gram-Jaccard near-dup pair set —
#: used by the ngram_jaccard_near_dup oracle here and as the edge set
#: of operators/corpus.py's dedup_clusters oracle.
NGRAM_PAIRS_CTES = """
    sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d,
             UNNEST(generate_series(1, len(t) - 2)) AS u(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    raw_pairs AS (
        SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    ngram_pairs AS (
        SELECT doc_id_1, doc_id_2, n_common,
               n_common * 1.0 / (s1.n + s2.n - n_common) AS jaccard
        FROM raw_pairs
        JOIN sizes s1 ON doc_id_1 = s1.doc_id
        JOIN sizes s2 ON doc_id_2 = s2.doc_id
        WHERE n_common * 1.0 / (s1.n + s2.n - n_common) >= 0.2
    )
"""


@register(
    "ngram_jaccard_near_dup",
    survey="LLM-dedup,J7,A5",
    bench=True,
    oracle=f"""
    WITH {NGRAM_PAIRS_CTES}
    SELECT doc_id_1, doc_id_2, n_common, jaccard FROM ngram_pairs
    """,
)
def ngram_jaccard_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by 3-gram (word-shingle) Jaccard ≥ 0.2:
    shingle → explode → self-join on shingle → per-pair intersection
    count → Jaccard from set sizes. The join key is the shingle, so
    pair generation is proportional to true overlap, not n². At 100 TB
    the MinHash/LSH band stage bounds candidate pairs before this
    exact re-check."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = _tokens()
    shingled = (
        shingled_rows(spread(t["documents"], "doc_id"))
        # Consumed 4× (self-join both sides + two size joins): materialize
        # once. localCheckpoint instead of persist() so the blocks are
        # released by the ContextCleaner when the frame is GC'd —
        # CacheManager entries from persist() outlive the query and
        # accumulate across a multi-query run. (On a real cluster with
        # executor churn, swap for a reliable checkpoint dir.)
        .localCheckpoint(eager=False))
    sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id_1"),
                 F.col("b.doc_id").alias("doc_id_2"))
        .agg(F.count("*").alias("n_common")))
    jaccard = F.col("n_common") * 1.0 / (F.col("n1") + F.col("n2") - F.col("n_common"))
    return (
        pairs
        .join(sizes.select(F.col("doc_id").alias("doc_id_1"), F.col("n").alias("n1")),
              "doc_id_1")
        .join(sizes.select(F.col("doc_id").alias("doc_id_2"), F.col("n").alias("n2")),
              "doc_id_2")
        .select("doc_id_1", "doc_id_2", "n_common", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
    )


@register(
    "bpe_token_stats",
    survey="LLM-text",
    oracle=r"""
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_bpe_tokens,
           CAST(len(list_filter(toks, t -> regexp_matches(t, '^\p{L}')))
                AS INT) AS n_word_tokens,
           CAST(len(list_filter(toks, t -> regexp_matches(t, '^\p{N}')))
                AS INT) AS n_num_tokens,
           CAST(len(toks)
                - len(list_filter(toks, t -> regexp_matches(t, '^\p{L}')))
                - len(list_filter(toks, t -> regexp_matches(t, '^\p{N}')))
                AS INT) AS n_punct_tokens,
           len(toks) * 1.0 / len(string_split(text, ' '))
               AS bpe_per_ws_ratio
    FROM (SELECT doc_id, text,
                 regexp_extract_all(text,
                     '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]+') AS toks
          FROM documents)
    """,
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: the GPT-2 pre-tokenizer backbone
    (letter runs | digit runs | punctuation runs — the split a byte-BPE
    vocabulary is trained over) as a pure regex column expression, plus
    the fertility ratio against whitespace tokens. Narrow transform,
    zero shuffle; the real tokenizer's merge table would slot in as a
    Pandas UDF over these pre-tokens without changing the plan shape."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = F.expr(
        r"regexp_extract_all(text, '\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]+', 0)")
    n = F.size(toks)
    words = F.size(F.filter(toks, lambda x: x.rlike(r"^\p{L}")))
    nums = F.size(F.filter(toks, lambda x: x.rlike(r"^\p{N}")))
    return t["documents"].select(
        "doc_id",
        n.alias("n_bpe_tokens"),
        words.alias("n_word_tokens"),
        nums.alias("n_num_tokens"),
        (n - words - nums).alias("n_punct_tokens"),
        (n * 1.0 / F.size(F.split("text", " "))).alias("bpe_per_ws_ratio"),
    )


# winnowing parameters: k-gram size and winnow window (Schleimer et al.,
# "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03 —
# the MOSS fingerprinter; guarantees any match of length >= k + w - 1
# shares a selected fingerprint).
WINNOW_K = 8
WINNOW_W = 4


#: shared CTE chain producing (doc_id, fp) winnowing fingerprints —
#: used by the winnowing_fingerprint oracle here and by
#: operators/corpus.py's contamination_check oracle.
WINNOW_FPS_CTES = f"""
    grams AS (
        SELECT doc_id,
               i AS pos,
               md5(substr(text, CAST(i AS INT), {WINNOW_K})) AS h,
               length(text) - {WINNOW_K} + 1 AS n_grams
        FROM documents,
             LATERAL unnest(generate_series(1, length(text) - {WINNOW_K} + 1)) AS t(i)
        WHERE length(text) >= {WINNOW_K}
    ), winnowed AS (
        SELECT doc_id,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {WINNOW_W - 1} FOLLOWING) AS fp
        FROM grams
        QUALIFY pos <= n_grams - {WINNOW_W} + 1
    ),
    winnow_fps AS (SELECT doc_id, fp FROM winnowed GROUP BY doc_id, fp)
"""


def winnow_fps(docs: DataFrame) -> DataFrame:
    """doc_id → distinct winnowing fingerprints (the reusable core of
    winnowing_fingerprint; see its docstring for the guarantee)."""
    k, w = WINNOW_K, WINNOW_W
    # all k-gram hashes as ONE array expression, then posexplode — the
    # text is scanned once per doc, no self-join
    hashes = F.expr(
        f"transform(sequence(1, length(text) - {k} + 1), "
        f"i -> md5(substr(text, i, {k})))")
    grams = (
        spread(docs, "doc_id")
        .filter(F.length("text") >= k)
        .select("doc_id",
                (F.length("text") - k + 1).alias("n_grams"),
                F.posexplode(hashes).alias("pos0", "h"))
        .select("doc_id", "n_grams",
                (F.col("pos0") + 1).alias("pos"), "h"))
    win = (W.partitionBy("doc_id").orderBy("pos")
           .rowsBetween(W.currentRow, w - 1))
    return (grams
            .withColumn("fp", F.min("h").over(win))
            .filter(F.col("pos") <= F.col("n_grams") - w + 1)
            .select("doc_id", "fp")
            .distinct())


@register(
    "winnowing_fingerprint",
    survey="LLM-text",
    oracle=f"""
    WITH {WINNOW_FPS_CTES}
    SELECT doc_id, fp FROM winnow_fps
    """,
)
def winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing / MOSS): hash
    every character k-gram, then keep the minimum hash of each sliding
    window of w consecutive positions — the selected fingerprints are
    the local minima that any sufficiently long shared substring must
    hit, so two documents sharing >= k+w-1 chars share a fingerprint.
    md5 stands in for the polynomial rolling hash so the DuckDB oracle
    computes identical values; a production build swaps in a cheaper
    rolling hash without changing the plan. Per-doc windows partition
    on doc_id — no global state, scales with the corpus."""
    t = load_tables(spark, sf_dir, ("documents",))
    return winnow_fps(t["documents"])


TFIDF_TOPK = 3


@register(
    "tfidf_top_terms",
    survey="LLM-text,A6,W6",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, t AS term,
               COUNT(*) * 1.0 / ANY_VALUE(n_toks) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t,
                     len(string_split(text, ' ')) AS n_toks
              FROM documents)
        GROUP BY doc_id, t
    ),
    df AS (SELECT term, COUNT(*) AS n_docs FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_total FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND(tf.tf * ln(n.n_total * 1.0 / df.n_docs), 6) AS score
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term, score,
           CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term) AS rnk
          FROM scored)
    WHERE rnk <= {TFIDF_TOPK}
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} TF-IDF terms per document — the classic keyword
    extractor (and the bag-of-words featurizer's scoring core). Term
    frequencies aggregate per (doc, term); document frequencies per
    term come from the same frame re-aggregated (small — vocabulary
    sized — and broadcast back); corpus size N broadcasts as one row.
    Shuffles on (doc, term) once; the top-k window partitions per doc.
    ln() is evaluated in IEEE double on both engines and the score is
    rounded to 6dp, insulating the comparison from libm ulp drift."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = _tokens()
    tf = (spread(t["documents"], "doc_id")
          .select("doc_id", F.size(toks).alias("n_toks"),
                  F.explode(toks).alias("term"))
          .groupBy("doc_id", "term")
          .agg((F.count("*") * 1.0 / F.first("n_toks")).alias("tf")))
    df_ = tf.groupBy("term").agg(F.count("*").alias("n_docs"))
    n_total = t["documents"].agg(F.count("*").alias("n_total"))
    scored = (tf.join(F.broadcast(df_), "term")
              .crossJoin(F.broadcast(n_total))
              .select("doc_id", "term",
                      F.round(F.col("tf")
                              * F.log(F.col("n_total") * 1.0
                                      / F.col("n_docs")), 6)
                      .alias("score")))
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= TFIDF_TOPK)
            .select("doc_id", "term", "score", "rank"))


# ---------------------------------------------------------------------------
# BM25 retrieval scoring + sequence-length distribution
# ---------------------------------------------------------------------------

#: fixed query term set for the BM25 demo query (terms present at
#: moderate frequency in the synthetic corpus vocabulary)
BM25_QUERY = ("join", "window", "hash")
BM25_K1 = 1.2
BM25_B = 0.75


@register(
    "bm25_doc_scores",
    survey="LLM-text,A6,J1,W6",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl,
               unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, dl, COUNT(*) AS tf
        FROM tok
        WHERE term IN {BM25_QUERY!r}
        GROUP BY 1, 2, 3
    ),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               SUM(len(string_split(text, ' '))) * 1.0 / COUNT(*) AS avgdl
        FROM documents
    )
    SELECT tf.doc_id,
           CAST(COUNT(*) AS INT) AS n_hit_terms,
           ROUND(SUM(
             ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * (tf.tf * ({BM25_K1} + 1.0))
             / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                     + {BM25_B} * tf.dl / stats.avgdl))
           ), 6) AS bm25
    FROM tf JOIN df USING (term) CROSS JOIN stats
    GROUP BY tf.doc_id
    """,
)
def bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 scoring of every document against a fixed query term
    set (Robertson & Zaragoza 2009: idf = ln((N−df+0.5)/(df+0.5)+1),
    tf saturation k1=1.2, length normalization b=0.75) — the sparse
    half of a retrieval/contamination-check stack, complementing the
    dense ANN operators. Plan: token explode filtered to the query
    terms BEFORE any shuffle (predicate on the exploded stream, so only
    query-term postings move), per-(doc, term) tf aggregate, tiny df
    and corpus-stats frames broadcast back, one (doc_id) shuffle for
    the final sum. At 100 TB this is the inverted-posting shape: the
    scan streams, only postings for the query vocabulary shuffle.
    Score rounded to 6dp on both engines (float SUM over ≤3 terms)."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = _tokens()
    tok = (spread(t["documents"], "doc_id")
           .select("doc_id", F.size(toks).alias("dl"),
                   F.explode(toks).alias("term"))
           .filter(F.col("term").isin(*BM25_QUERY)))
    tf = tok.groupBy("doc_id", "term", "dl").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    stats = t["documents"].agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.size(toks)) * 1.0 / F.count("*")).alias("avgdl"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    score = (idf * (F.col("tf") * (BM25_K1 + 1.0))
             / (F.col("tf") + BM25_K1 * (1.0 - BM25_B
                                         + BM25_B * F.col("dl")
                                         / F.col("avgdl"))))
    return (tf.join(F.broadcast(df_), "term")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(F.count("*").cast("int").alias("n_hit_terms"),
                 F.round(F.sum(score), 6).alias("bm25")))


SEQLEN_BIN = 16  # tokens per histogram bucket (integer math — exact)


@register(
    "seq_length_histogram",
    survey="LLM-text,A15,W1",
    oracle=f"""
    WITH lens AS (
        SELECT CAST(FLOOR(len(string_split(text, ' ')) / {SEQLEN_BIN})
                    AS BIGINT) AS bin
        FROM documents
    ),
    hist AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs
             FROM lens GROUP BY bin)
    SELECT bin,
           bin * {SEQLEN_BIN} AS bin_lo,
           (bin + 1) * {SEQLEN_BIN} - 1 AS bin_hi,
           n_docs,
           ROUND(SUM(n_docs) OVER (ORDER BY bin
                                   ROWS UNBOUNDED PRECEDING) * 1.0
                 / SUM(n_docs) OVER (), 6) AS cum_share
    FROM hist
    """,
)
def seq_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length distribution for packing/curriculum planning:
    fixed-width token-count buckets with document counts and the
    cumulative share of documents up to each bucket (the curve that
    picks a packing budget covering e.g. 95% of documents unsplit).
    Integer bucket math is exact on both engines; only the final share
    ratio is floating (rounded 6dp). The histogram aggregate shuffles
    bin ids only; the cumulative sum is a ≤-self-join over the
    bin-count-sized aggregate (NOT a global window — the registry pins
    zero unpartitioned windows; a dozen bins make the triangular join
    trivial at any corpus scale) and the corpus total is a broadcast
    1-row crossJoin."""
    t = load_tables(spark, sf_dir, ("documents",))
    hist = (t["documents"]
            .select(F.floor(F.size(_tokens()) / SEQLEN_BIN).alias("bin"))
            .groupBy("bin").agg(F.count("*").alias("n_docs")))
    total = hist.agg(F.sum("n_docs").alias("n_total"))
    cum = (hist.alias("h")
           .join(F.broadcast(hist.alias("p")),
                 F.col("p.bin") <= F.col("h.bin"))
           .groupBy(F.col("h.bin").alias("bin"))
           .agg(F.first(F.col("h.n_docs")).alias("n_docs"),
                F.sum(F.col("p.n_docs")).alias("n_cum")))
    return (cum.crossJoin(F.broadcast(total))
            .select(
                "bin",
                (F.col("bin") * SEQLEN_BIN).alias("bin_lo"),
                ((F.col("bin") + 1) * SEQLEN_BIN - 1).alias("bin_hi"),
                "n_docs",
                F.round(F.col("n_cum") * 1.0 / F.col("n_total"), 6)
                 .alias("cum_share"),
            ))


HASH_DIM = 64  # hashed-feature buckets (2^6 — tiny for test visibility;
               # 2^18-2^20 in a real pipeline, the math is identical)


@register(
    "hashed_bow_features",
    survey="LLM-text,A6,F11",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    )
    SELECT doc_id,
           CAST(CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % {HASH_DIM}
                AS BIGINT) AS bucket,
           COUNT(*) AS tf
    FROM toks
    GROUP BY 1, 2
    """,
)
def hashed_bow_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the 'hashing trick'): sparse bag-of-words where
    each token maps to bucket = md5(token) mod {HASH_DIM} — no
    vocabulary pass, no dictionary to broadcast, collisions accepted by
    design (Weinberger et al. 2009; `HashingTF` in Spark ML is the same
    idea with murmur3). md5 is used instead of Spark's native hash()/
    xxhash64 solely because both engines implement it identically, so
    the oracle can verify bucket assignment bit-for-bit; swapping in
    xxhash64 changes one expression and nothing structural.

    Plan shape: explode tokens → two-column groupBy((doc_id, bucket)).
    The aggregate is map-side combinable and the shuffle carries only
    (id, bucket, count) triples — at 100 TB this is the standard
    featurization pass, one shuffle, no driver state. Output rows are
    the sparse (doc, bucket, tf) triples a downstream trainer consumes
    directly."""
    t = load_tables(spark, sf_dir, ("documents",))
    tok = (t["documents"]
           .select("doc_id", F.explode(_tokens()).alias("tok")))
    bucket = md5_int("tok", 8) % HASH_DIM
    return (tok.select("doc_id", bucket.alias("bucket"))
            .groupBy("doc_id", "bucket")
            .agg(F.count("*").alias("tf")))


VOCAB_SIZE = 16  # top-V vocabulary (the corpus has ~30 distinct tokens,
                 # so V=16 leaves a real OOV tail to measure)


@register(
    "vocab_coverage",
    survey="LLM-text,A6,W6,J1",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), cnt AS (
        SELECT tok, COUNT(*) AS n FROM tok GROUP BY 1
    ), vocab AS (
        SELECT tok FROM cnt ORDER BY n DESC, tok LIMIT {VOCAB_SIZE}
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_in_vocab,
           ROUND(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS coverage
    FROM tok t LEFT JOIN vocab v USING (tok)
    GROUP BY 1
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction + coverage audit: build the top-{VOCAB_SIZE}
    token vocabulary by corpus frequency (count ties broken by token
    string, so the cut is deterministic on both engines), then score
    every document's out-of-vocabulary rate — the audit a tokenizer
    team runs before freezing a vocab (documents with low coverage are
    the ones a fixed vocab will shred into bytes).

    Plan: token-count aggregate (one map-combinable shuffle), top-V via
    TakeOrderedAndProject (V rows to the driver, V is vocab-sized by
    definition), broadcast the vocab back over the token stream, one
    per-doc aggregate. At 100 TB the only full-data passes are the two
    aggregates; the vocab join is a broadcast hash join against a table
    that fits in L2 cache."""
    t = load_tables(spark, sf_dir, ("documents",))
    tok = t["documents"].select("doc_id", F.explode(_tokens()).alias("tok"))
    vocab = (tok.groupBy("tok").agg(F.count("*").alias("n"))
             .orderBy(F.desc("n"), F.asc("tok")).limit(VOCAB_SIZE)
             .select("tok", F.lit(1).alias("in_vocab")))
    return (tok.join(F.broadcast(vocab), "tok", "left")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"),
                 F.sum(F.coalesce("in_vocab", F.lit(0)).cast("long"))
                  .alias("n_in_vocab"))
            .select("doc_id", "n_tokens", "n_in_vocab",
                    F.round(F.col("n_in_vocab") * 1.0 / F.col("n_tokens"), 6)
                     .alias("coverage")))


@register(
    "bpe_merge_step",
    survey="LLM-text,A6,J1",
    oracle="""
    WITH wc AS (
        SELECT tok AS word, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY 1
    ), pairs AS (
        SELECT unnest(list_transform(range(1, length(word)),
                      i -> substr(word, i, 2))) AS pair,
               cnt
        FROM wc WHERE length(word) >= 2
    ), pc AS (
        SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
        FROM pairs GROUP BY 1
    )
    SELECT p.pair, p.pair_count,
           CAST(1 + (SELECT COUNT(*) FROM pc q
                     WHERE q.pair_count > p.pair_count
                        OR (q.pair_count = p.pair_count AND q.pair < p.pair))
                AS BIGINT) AS merge_rank
    FROM pc p
    """,
)
def bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training step (Sennrich et al. 2016): corpus-weighted
    counts of adjacent symbol pairs, ranked so merge_rank=1 is the pair
    the next merge would fuse. Runs the way fast BPE trainers do: the
    corpus is scanned ONCE into a word-frequency table (Zipf-bounded),
    and pair extraction works over the VOCABULARY weighted by counts —
    per-merge cost is O(vocab), not O(corpus), which is exactly why
    50k-merge tokenizers are trainable. Symbols here are characters
    (merge 0); after a merge the same plan re-runs over the re-segmented
    vocab without shape changes.

    Ranking avoids a global window (the registry pins zero unpartitioned
    windows): rank = 1 + |pairs strictly ahead in (count desc, pair)|
    via a broadcast triangular self-join over the pair table, which is
    alphabet²-bounded — trivial at any corpus scale. The length≥2
    filter guards Spark's descending-sequence trap (sequence(1,0) is
    [1,0], not empty — the ADVICE r3 lesson on gopher signals)."""
    t = load_tables(spark, sf_dir, ("documents",))
    wc = (spread(t["documents"], "doc_id")
          .select(F.explode(_tokens()).alias("word"))
          .groupBy("word").agg(F.count("*").alias("cnt")))
    pair_list = F.expr(
        "transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")
    pc = (wc.filter(F.length("word") >= 2)
          .select(F.explode(pair_list).alias("pair"), "cnt")
          .groupBy("pair").agg(F.sum("cnt").alias("pair_count")))
    p, q = pc.alias("p"), pc.alias("q")
    ahead = ((F.col("q.pair_count") > F.col("p.pair_count"))
             | ((F.col("q.pair_count") == F.col("p.pair_count"))
                & (F.col("q.pair") < F.col("p.pair"))))
    return (p.join(F.broadcast(q), ahead, "left")
            .groupBy(F.col("p.pair").alias("pair"),
                     F.col("p.pair_count").alias("pair_count"))
            .agg((F.count(F.col("q.pair")) + 1).alias("merge_rank")))


#: full BPE training: merge budget and the minimum pair frequency a
#: merge must clear (standard trainer floor; also the loop's natural
#: stopping condition on tiny corpora).
BPE_TRAIN_MERGES = 12
BPE_MIN_PAIR_COUNT = 2


def _bpe_init_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-0 BPE state: every corpus word split to characters, with
    its corpus frequency — the (word, syms, cnt) frame the merge
    rounds evolve."""
    t = load_tables(spark, sf_dir, ("documents",))
    wc = (spread(t["documents"], "doc_id")
          .select(F.explode(_tokens()).alias("word"))
          .groupBy("word").agg(F.count("*").alias("cnt")))
    chars = F.expr("transform(sequence(1, length(word)), "
                   "i -> substr(word, i, 1))")
    return wc.select("word", chars.alias("syms"), "cnt").localCheckpoint(eager=False)


def _bpe_rounds(vocab: DataFrame, first_idx: int, max_rounds: int):
    """Up to ``max_rounds`` BPE merge rounds over a ``(word, syms,
    cnt)`` state frame, merge indices starting at ``first_idx`` —
    the resumable round kernel shared by scratch training and
    continued training (state in = state out, so
    rounds(rounds(v0, 1, m), m+1, k) == rounds(v0, 1, m+k); the
    `bpe_continue_train` oracle hash-proves this cross-engine).
    Returns ``(merges, vocab)``; stops early when no pair clears
    BPE_MIN_PAIR_COUNT."""
    pair_expr = bigram_pairs("syms", "l", "r")
    merges: list[tuple[int, str, str, int]] = []
    for idx in range(first_idx, first_idx + max_rounds):
        pc = (vocab.select(F.explode(pair_expr).alias("p"), "cnt")
              .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
              .agg(F.sum("cnt").alias("c")))
        top = pc.orderBy(F.col("c").desc(), "l", "r").first()
        if top is None or top["c"] < BPE_MIN_PAIR_COUNT:
            break
        a, b = top["l"], top["r"]
        merges.append((idx, a, b, int(top["c"])))
        old = vocab
        vocab = old.select("word", _bpe_fold(a, b).alias("syms"),
                           "cnt").localCheckpoint()
        old.unpersist()
    return merges, vocab


def _train_bpe(spark: SparkSession, sf_dir: str):
    """Shared BPE training loop: returns ``(merges, vocab)`` where
    ``merges`` is the ordered merge list ``(idx, left, right, count)``
    and ``vocab`` is the FINAL word segmentation frame
    ``(word, syms, cnt)`` — i.e. every corpus word already encoded
    under the full merge sequence (sequential greedy application,
    exactly what an encoder replays at tokenization time)."""
    return _bpe_rounds(_bpe_init_vocab(spark, sf_dir), 1,
                       BPE_TRAIN_MERGES)


def _bpe_fold(a: str, b: str):
    """Greedy left-to-right BPE merge application over a `syms`
    array column ("aaa" + merge(a,a) -> [aa, a]) — the one fold rule
    shared by the trainer and the budget-replay eval."""
    la, lb = F.lit(a), F.lit(b)
    return F.aggregate(
        F.col("syms"), F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == la)
            & (s == lb),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.concat(la, lb)))
        ).otherwise(F.concat(acc, F.array(s))))


def bpe_paths(sf_dir: str) -> "tuple[str, str]":
    """Warehouse locations of the trained BPE merges and vocab."""
    algo = f"m{BPE_TRAIN_MERGES}c{BPE_MIN_PAIR_COUNT}"
    return (artifact_path(sf_dir, "bpe_merges", algo),
            artifact_path(sf_dir, "bpe_vocab", algo))


def ensure_bpe_artifacts(spark: SparkSession, sf_dir: str):
    """The trained BPE tokenizer as a train-once warehouse artifact
    pair — the model a tokenizer SHIPS: the ordered merge table and
    the final word→symbols segmentation of the training vocabulary.
    Trained on first touch of a corpus (the 12-round loop runs once,
    ever), read from the warehouse thereafter — so the three BPE
    queries (train / encode / fertility) bench artifact reads, not
    three retrainings (the ivf/pq codebook seam, verdict r8 #2).
    Keyed by corpus content fingerprint + the training constants.
    Returns the merges list (the 12-row model header) and the vocab
    DataFrame."""
    def build(mp: str, vp: str) -> None:
        merges, vocab = _train_bpe(spark, sf_dir)
        (driver.local_frame(
            spark, merges,
            "merge_idx int, left string, right string, pair_count long")
            .coalesce(1).write.mode("overwrite").parquet(mp))
        vocab.write.mode("overwrite").parquet(vp)

    def load(mp: str, vp: str) -> list:
        return [(r["merge_idx"], r["left"], r["right"], r["pair_count"])
                for r in sorted(read_parquet(spark, mp).collect(),
                                key=lambda r: r["merge_idx"])]

    paths = bpe_paths(sf_dir)
    return ensure(paths, build, load), read_parquet(spark, paths[1])


def _bpe_st_ctes(max_rounds: int = BPE_TRAIN_MERGES) -> str:
    """Shared recursive-CTE replay of the full BPE training loop (the
    DuckDB twin of `_train_bpe`): state rows (round, word, syms, cnt)
    plus the merge (l, r, c) that produced each round. The greedy
    left-to-right re-segmentation is expressed as leftmost
    non-overlapping string REPLACE over \x1f-BOUNDARY-WRAPPED symbols
    (pattern \x1fL\x1f\x1fR\x1f -> \x1fLR\x1f): wrapping makes a
    symbol-boundary false substring match impossible, and REPLACE's
    continue-after-replacement scan IS the BPE greedy fold ("aaa" +
    merge(a,a) -> [aa, a]). Assumes \x1f never occurs in corpus
    tokens (space-split printable text). The winner subquery keeps
    only pairs clearing BPE_MIN_PAIR_COUNT, so an empty `win` ends
    the recursion exactly where the Spark loop breaks."""
    d = chr(0x1F)
    wrapped = f"'{d}' || array_to_string(cur.syms, '{d}{d}') || '{d}'"
    replaced = (f"replace({wrapped}, "
                f"'{d}' || win.l || '{d}{d}' || win.r || '{d}', "
                f"'{d}' || win.l || win.r || '{d}')")
    return f"""
    wc AS MATERIALIZED (
        SELECT tok AS word, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY 1
    ),
    st(round, word, syms, cnt, l, r, c) AS (
        SELECT 0, word,
               list_transform(range(1, length(word) + 1),
                              i -> substr(word, i, 1)),
               cnt, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
        FROM wc
        UNION ALL
        (WITH cur AS (SELECT * FROM st),
         pc AS (
            SELECT p.l AS l, p.r AS r, CAST(SUM(cnt) AS BIGINT) AS c
            FROM (SELECT unnest(list_transform(range(1, len(syms)),
                           i -> struct_pack(l := syms[i],
                                            r := syms[i+1]))) AS p,
                         cnt
                  FROM cur WHERE len(syms) >= 2) x
            GROUP BY 1, 2
         ),
         win AS (
            SELECT l, r, c FROM pc
            WHERE c >= {BPE_MIN_PAIR_COUNT}
            ORDER BY c DESC, l ASC, r ASC LIMIT 1
         )
         SELECT cur.round + 1, cur.word,
                string_split(substr({replaced}, 2,
                                    length({replaced}) - 2), '{d}{d}'),
                cur.cnt, win.l, win.r, win.c
         FROM cur, win
         WHERE cur.round < {max_rounds})
    )"""


def _bpe_vocab_oracle() -> str:
    return f"""
    WITH RECURSIVE {_bpe_st_ctes()}
    SELECT CAST(round AS INT) AS merge_idx,
           any_value(l) AS left, any_value(r) AS right,
           CAST(any_value(c) AS BIGINT) AS pair_count
    FROM st WHERE round >= 1
    GROUP BY 1
    """


def _bpe_encode_oracle() -> str:
    from covid_weather_etl_spark.functions.numeric import fround_sql
    ratio = fround_sql("SUM(k * w_chars) * 1e0 / SUM(k * w_syms)")
    return f"""
    WITH RECURSIVE {_bpe_st_ctes()},
    fin AS (
        SELECT word, CAST(len(syms) AS INT) AS w_syms,
               CAST(length(word) AS INT) AS w_chars
        FROM st WHERE round = (SELECT MAX(round) FROM st)
    ),
    dw AS (
        SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents)
        GROUP BY 1, 2
    )
    SELECT dw.doc_id,
           CAST(SUM(k) AS BIGINT) AS n_tokens,
           CAST(SUM(k * w_syms) AS BIGINT) AS n_bpe_syms,
           CAST(SUM(k * w_chars) AS BIGINT) AS n_chars,
           {ratio} AS chars_per_sym
    FROM dw JOIN fin ON dw.word = fin.word
    GROUP BY 1
    """


@register("bpe_vocab_train", survey="LLM-text,A6,U2",
          oracle=_bpe_vocab_oracle())
def bpe_vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL BPE tokenizer training (Sennrich et al. 2016) — the
    iterative closure of bpe_merge_step: up to BPE_TRAIN_MERGES (12)
    merges, each round counting corpus-weighted adjacent symbol pairs
    over the WORD-FREQUENCY table (per-merge cost O(vocab), never
    O(corpus) — the property that makes 50k-merge tokenizers
    trainable), picking the winner (count desc, then pair — fully
    deterministic), and re-segmenting every word's symbol array with a
    greedy left-to-right fold (`aggregate` higher-order function:
    "aaa" + merge(a,a) → [aa, a], standard BPE scanning). Returns the
    merge table (idx, left, right, pair_count) — the artifact a
    tokenizer ships.

    Spark-first iteration shape, same as pagerank/Lloyd: per-round
    state is the (word, syms, cnt) vocab frame, localCheckpoint
    truncates lineage each merge so round N doesn't replay rounds
    1..N−1; the only driver traffic per round is ONE (pair, count)
    scalar row. Stops early when no pair clears BPE_MIN_PAIR_COUNT
    (2). GRADUATED to a full DuckDB oracle (r7): the whole training
    loop is integer/string algebra, so a recursive CTE replays it
    exactly — see _bpe_st_ctes for the boundary-wrapped-REPLACE
    re-segmentation trick. The merge sequence is additionally pinned
    against a pure-python BPE trainer in tests/test_text.py."""
    merges, _ = ensure_bpe_artifacts(spark, sf_dir)
    return driver.local_frame(
        spark, merges,
        "merge_idx int, left string, right string, pair_count long")


@register("bpe_encode_documents", survey="LLM-text,U1,J1,A6",
          oracle=_bpe_encode_oracle())
def bpe_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — the apply side of `bpe_vocab_train`, closing the
    tokenizer loop (train → encode → count): per document, the number
    of whitespace tokens, the number of BPE symbols those tokens
    encode to under the trained merge sequence, total characters, and
    the chars-per-symbol compression ratio — the per-document token
    accounting a training-data pipeline needs for sequence packing and
    compute budgeting with the REAL tokenizer, not a regex proxy
    (`bpe_token_stats`).

    Encodes the VOCABULARY, not the corpus: training already produced
    the final segmentation of every distinct word (the same greedy
    left-to-right fold an encoder replays, applied merge-by-merge in
    rank order), so encoding is one join of per-document word counts
    against that word→n_syms table — per-document cost O(distinct
    words), the trick that makes corpus-scale tokenization a
    vocabulary problem. An OOV word at serving time would take the
    identical fold path over the persisted merge table. GRADUATED to
    a full DuckDB oracle (r7) together with the trainer: the shared
    recursive CTE's final-round segmentation is the encode table.

    Scale: one corpus scan into (doc_id, word) counts (map-side
    combinable), one join against the Zipf-bounded vocab (broadcast
    at any realistic vocab size), one doc-keyed aggregate. Rows-only
    driver check (depends on the iterative trainer); per-document
    totals are pinned against a pure-python BPE encoder in
    tests/test_text.py."""
    _, vocab = ensure_bpe_artifacts(spark, sf_dir)
    enc = vocab.select("word", F.size("syms").alias("w_syms"),
                       F.length("word").alias("w_chars"))
    t = load_tables(spark, sf_dir, ("documents",))
    doc_words = (spread(t["documents"], "doc_id")
                 .select("doc_id", F.explode(_tokens()).alias("word"))
                 .groupBy("doc_id", "word").agg(F.count("*").alias("k")))
    return (doc_words.join(F.broadcast(enc), "word")
            .groupBy("doc_id")
            .agg(F.sum("k").alias("n_tokens"),
                 F.sum(F.col("k") * F.col("w_syms")).alias("n_bpe_syms"),
                 F.sum(F.col("k") * F.col("w_chars")).alias("n_chars"),
                 fround(F.sum(F.col("k") * F.col("w_chars")) * 1.0
                        / F.sum(F.col("k") * F.col("w_syms")))
                 .alias("chars_per_sym")))


#: continued-training extension budget: merges added on top of the
#: persisted BPE_TRAIN_MERGES-round artifact by bpe_continue_train.
BPE_EXTEND_MERGES = 4


def _bpe_continue_oracle() -> str:
    total = BPE_TRAIN_MERGES + BPE_EXTEND_MERGES
    fert_base = fround_sql("SUM(k * s_base) * 1e0 / SUM(k)")
    fert_ext = fround_sql("SUM(k * s_ext) * 1e0 / SUM(k)")
    return f"""
    WITH RECURSIVE {_bpe_st_ctes(total)},
    mr AS (SELECT MAX(round) AS mx FROM st),
    base AS (
        SELECT word, CAST(len(syms) AS BIGINT) AS s_base
        FROM st, mr WHERE round = LEAST({BPE_TRAIN_MERGES}, mx)
    ),
    ext AS (
        SELECT word, CAST(len(syms) AS BIGINT) AS s_ext
        FROM st, mr WHERE round = mx
    ),
    dw AS (
        SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
              FROM documents)
        GROUP BY 1, 2
    )
    SELECT lang,
           CAST(SUM(k) AS BIGINT) AS n_tokens,
           CAST(SUM(k * s_base) AS BIGINT) AS n_syms_base,
           CAST(SUM(k * s_ext) AS BIGINT) AS n_syms_ext,
           {fert_base} AS fertility_base,
           {fert_ext} AS fertility_ext,
           CAST(SUM(k * (s_base - s_ext)) AS BIGINT) AS syms_saved
    FROM dw JOIN base USING (word) JOIN ext USING (word)
    GROUP BY 1
    """


@register("bpe_continue_train", survey="LLM-text,U2,A6,J1",
          oracle=_bpe_continue_oracle())
def bpe_continue_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUED BPE training — the maintain→verify closure of the
    tokenizer seam (the ivf_rebalance_apply / dedup_state_compaction_
    apply pattern, verdict r10 #6 applied to the third persisted
    artifact): resume the merge loop FROM the persisted round-12
    artifact pair (never from scratch — the maintenance a production
    tokenizer does when its vocab budget grows), run
    BPE_EXTEND_MERGES more rounds, persist the extended artifact, and
    verify by re-encoding the corpus under both — per-lang token /
    symbol accounting, fertility before/after, and symbols saved.

    The oracle replays all {{12+K}} rounds from scratch in one
    recursive CTE, so the driver hash-check IS the resumability
    proof: resume(persisted-12, +K) == scratch(12+K), cross-engine —
    the property that makes checkpoint-resume training trustworthy.
    The same identity is pinned Spark-side in tests/test_text.py
    (merge-sequence equality, scratch vs resumed).

    Scale: continuation cost is K rounds over the Zipf-bounded
    (word, syms, cnt) vocab frame — O(vocab) per round, never
    O(corpus), exactly the persisted-seam contract (the corpus is
    touched once, by the verify encode: one scan into (lang, word)
    counts, one broadcast join per segmentation table)."""
    merges, vocab = ensure_bpe_artifacts(spark, sf_dir)
    algo = (f"m{BPE_TRAIN_MERGES}c{BPE_MIN_PAIR_COUNT}"
            f"x{BPE_EXTEND_MERGES}")

    def build(vp: str) -> None:
        _, vocab_ext = _bpe_rounds(vocab, len(merges) + 1,
                                   BPE_EXTEND_MERGES)
        vocab_ext.write.mode("overwrite").parquet(vp)

    vocab_ext = read_parquet(
        spark, ensure(artifact_path(sf_dir, "bpe_vocab_ext", algo), build))

    base = vocab.select("word", F.size("syms").cast("long").alias("s_base"))
    ext = vocab_ext.select("word",
                           F.size("syms").cast("long").alias("s_ext"))
    t = load_tables(spark, sf_dir, ("documents",))
    dw = (spread(t["documents"], "doc_id")
          .select("lang", F.explode(_tokens()).alias("word"))
          .groupBy("lang", "word").agg(F.count("*").alias("k")))
    return (dw.join(F.broadcast(base), "word")
            .join(F.broadcast(ext), "word")
            .groupBy("lang")
            .agg(F.sum("k").cast("long").alias("n_tokens"),
                 F.sum(F.col("k") * F.col("s_base")).cast("long")
                 .alias("n_syms_base"),
                 F.sum(F.col("k") * F.col("s_ext")).cast("long")
                 .alias("n_syms_ext"),
                 fround(F.sum(F.col("k") * F.col("s_base")) * F.lit(1.0)
                        / F.sum("k")).alias("fertility_base"),
                 fround(F.sum(F.col("k") * F.col("s_ext")) * F.lit(1.0)
                        / F.sum("k")).alias("fertility_ext"),
                 F.sum(F.col("k") * (F.col("s_base") - F.col("s_ext")))
                 .cast("long").alias("syms_saved")))


#: collocation mining: minimum bigram support and report size.
PMI_MIN_CNT = 5
PMI_TOP = 50


@register(
    "pmi_collocations",
    survey="LLM-text,A6,J1,W6",
    oracle=f"""
    WITH toks AS (
        SELECT string_split(text, ' ') AS ts FROM documents
    ), big AS (
        SELECT unnest(list_transform(range(1, len(ts)), i -> ts[i])) AS w1,
               unnest(list_transform(range(1, len(ts)), i -> ts[i + 1])) AS w2
        FROM toks WHERE len(ts) >= 2
    ), pc AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pair_cnt
        FROM big GROUP BY 1, 2
    ), uc AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS tok_cnt
        FROM (SELECT unnest(ts) AS tok FROM toks) GROUP BY 1
    ), nb AS (SELECT CAST(SUM(pair_cnt) AS BIGINT) AS n_big FROM pc),
       nu AS (SELECT CAST(SUM(tok_cnt) AS BIGINT) AS n_tok FROM uc)
    SELECT w1, w2, pair_cnt,
           ROUND(LN((pair_cnt * 1.0 / n_big)
                    / ((u1.tok_cnt * 1.0 / n_tok)
                       * (u2.tok_cnt * 1.0 / n_tok))), 6) AS pmi
    FROM pc
    JOIN uc u1 ON pc.w1 = u1.tok
    JOIN uc u2 ON pc.w2 = u2.tok
    CROSS JOIN nb CROSS JOIN nu
    WHERE pair_cnt >= {PMI_MIN_CNT}
    ORDER BY pmi DESC, w1, w2
    LIMIT {PMI_TOP}
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by pointwise mutual information — the
    classic phrase-mining signal (Church & Hanks 1990) a tokenizer/
    phrase-vocab pipeline runs before deciding what deserves a single
    token. PMI(a,b) = ln(P(ab) / (P(a)P(b))) with bigram and unigram
    probabilities from the same one-pass scan: explode adjacent pairs
    via arrays_zip over two slices (no index UDF), count pairs and
    tokens in two map-combinable aggregates, then join the (Zipf-
    bounded) unigram table onto the bigram table twice. Support filter
    first (pair_cnt ≥ PMI_MIN_CNT), so the PMI join only sees the surviving
    pairs; final ordering is (rounded pmi DESC, w1, w2) — a total
    order, so the LIMIT cut is deterministic on both engines and
    compiles to TakeOrderedAndProject, never a global sort.

    Scale: both count tables are vocabulary-bounded, not corpus-
    bounded; the two enrichment joins broadcast the unigram side. At
    100 TB raise PMI_MIN_CNT with corpus size (support ∝ N) — the
    plan is unchanged. Reference parity: no text ops in the reference;
    this extends the engine's tokenizer-training pack
    (bpe_merge_step / vocab_coverage)."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = (spread(t["documents"], "doc_id")
            .select(_tokens().alias("ts")))
    n = F.size("ts")
    pairs = (toks.filter(n >= 2)
             .select(F.explode(F.arrays_zip(
                 F.slice("ts", 1, n - 1).alias("w1"),
                 F.expr("slice(ts, 2, size(ts) - 1)").alias("w2"),
             )).alias("p"))
             .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")))
    # vocabulary-bounded count tables, each reused downstream —
    # materialize so the corpus-sized explode runs exactly twice
    # (bigrams + unigrams), never per consumer
    pc_all = (pairs.groupBy("w1", "w2").agg(F.count("*").alias("pair_cnt"))
              .localCheckpoint(eager=False))
    pc = pc_all.filter(F.col("pair_cnt") >= PMI_MIN_CNT)
    uc = (toks.select(F.explode("ts").alias("tok"))
          .groupBy("tok").agg(F.count("*").alias("tok_cnt"))
          .localCheckpoint(eager=False))
    nb = pc_all.agg(F.sum("pair_cnt").alias("n_big"))
    nu = uc.agg(F.sum("tok_cnt").alias("n_tok"))
    u1 = uc.select(F.col("tok").alias("w1"), F.col("tok_cnt").alias("c1"))
    u2 = uc.select(F.col("tok").alias("w2"), F.col("tok_cnt").alias("c2"))
    pmi = F.round(F.log(
        (F.col("pair_cnt") * 1.0 / F.col("n_big"))
        / ((F.col("c1") * 1.0 / F.col("n_tok"))
           * (F.col("c2") * 1.0 / F.col("n_tok")))), 6)
    return (pc.join(F.broadcast(u1), "w1").join(F.broadcast(u2), "w2")
            .crossJoin(F.broadcast(nb)).crossJoin(F.broadcast(nu))
            .select("w1", "w2", "pair_cnt", pmi.alias("pmi"))
            .orderBy(F.col("pmi").desc(), "w1", "w2")
            .limit(PMI_TOP))


#: naive Bayes holdout: doc_id % NB_TEST_MOD == 0 is the test fold.
NB_TEST_MOD = 5


@register(
    "naive_bayes_lang_eval",
    survey="LLM-text,U3,U5,A6,J1",
    oracle=f"""
    WITH doc_toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), train AS (
        SELECT * FROM doc_toks WHERE doc_id % {NB_TEST_MOD} != 0
    ), ct AS (
        SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM train GROUP BY 1, 2
    ), tc AS (
        SELECT lang, CAST(SUM(cnt) AS BIGINT) AS t_c FROM ct GROUP BY 1
    ), vv AS (
        SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM train
    ), tr_docs AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_c
        FROM documents WHERE doc_id % {NB_TEST_MOD} != 0 GROUP BY 1
    ), ntot AS (SELECT CAST(SUM(n_c) AS BIGINT) AS n FROM tr_docs),
    pri AS (
        SELECT lang, CAST(ROUND(LN(n_c * 1.0 / n), 9) AS DECIMAL(25,9))
                 AS logprior
        FROM tr_docs CROSS JOIN ntot
    ), tk AS (
        SELECT doc_id, lang AS lang_true, tok,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM doc_toks WHERE doc_id % {NB_TEST_MOD} = 0 GROUP BY 1, 2, 3
    ), scored AS (
        SELECT tk.doc_id, tk.lang_true, c.lang AS cls,
               SUM(tk.k * CAST(ROUND(LN((COALESCE(ct.cnt, 0) + 1.0)
                                        / (tc.t_c + vv.v)), 9)
                               AS DECIMAL(25,9))) AS s_tok
        FROM tk
        CROSS JOIN (SELECT lang FROM tr_docs) c
        JOIN tc ON tc.lang = c.lang
        CROSS JOIN vv
        LEFT JOIN ct ON ct.lang = c.lang AND ct.tok = tk.tok
        GROUP BY 1, 2, 3
    ), full_score AS (
        SELECT s.doc_id, s.lang_true, s.cls,
               s.s_tok + p.logprior AS score
        FROM scored s JOIN pri p ON p.lang = s.cls
    ), best AS (
        SELECT doc_id, MAX(score) AS m FROM full_score GROUP BY 1
    ), pred AS (
        SELECT f.doc_id, f.lang_true, MIN(f.cls) AS pred_lang
        FROM full_score f
        JOIN best b ON f.doc_id = b.doc_id AND f.score = b.m
        GROUP BY 1, 2
    )
    SELECT lang_true, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
    """,
)
def naive_bayes_lang_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language identification, trained AND
    evaluated inside the engine with an EXACT DuckDB oracle — the
    learned counterpart of the rule-based `lang_id`, and the one
    classifier in the registry whose full train→score→argmax→confusion
    pipeline is hash-checked value-for-value (the Spark-ML models are
    rows-only by nature). Deterministic holdout: doc_id % 5 == 0 is
    the test fold; training is pure count algebra — per-class token
    counts, Laplace(+1) smoothing over the shared train vocabulary V,
    log prior from class document counts.

    Cross-engine exactness is the interesting part: every log term is
    rounded to 9dp and accumulated in DECIMAL (the kaplan_meier
    convention), so per-document scores are bit-identical regardless
    of join order or partitioning on either engine; argmax ties break
    to the alphabetically first class. OOV tokens contribute the
    smoothed floor k·ln(1/(T_c+V)) via a left join's COALESCE(cnt,0),
    never a dropped row.

    Scale: training is one (lang, tok) aggregate — vocabulary-bounded,
    map-side combinable. Scoring joins test token counts against the
    class-conditional table on (tok, class): candidate classes fan out
    by a 5-row broadcast, the count join shuffles on tok (Zipf-
    distributed, well-spread), and everything after is test-doc-
    bounded. No UDFs, no driver-side model object — the 'model' IS a
    DataFrame, which is what makes the 100 TB version (shard the count
    table, broadcast the priors) the same plan."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = spread(t["documents"], "doc_id")
    toks = docs.select("doc_id", "lang", F.explode(_tokens()).alias("tok"))
    is_test = F.col("doc_id") % NB_TEST_MOD == 0
    train = toks.filter(~is_test)

    ct = (train.groupBy("lang", "tok").agg(F.count("*").alias("cnt"))
          .localCheckpoint(eager=False))  # class-conditional counts; reused
    tc = ct.groupBy("lang").agg(F.sum("cnt").alias("t_c"))
    vv = ct.select("tok").distinct().agg(F.count("*").alias("v"))
    tr_docs = (docs.filter(~is_test).groupBy("lang")
               .agg(F.count("*").alias("n_c")))
    ntot = tr_docs.agg(F.sum("n_c").alias("n"))
    pri = (tr_docs.crossJoin(F.broadcast(ntot))
           .select("lang", F.round(F.log(F.col("n_c") * 1.0 / F.col("n")), 9)
                   .cast("decimal(25,9)").alias("logprior")))

    tk = (toks.filter(is_test)
          .groupBy("doc_id", F.col("lang").alias("lang_true"), "tok")
          .agg(F.count("*").alias("k")))
    cls = tr_docs.select(F.col("lang").alias("cls"))
    cond = ct.select(F.col("lang").alias("cls"), "tok", "cnt")
    term = (F.round(F.log((F.coalesce("cnt", F.lit(0)) + 1.0)
                          / (F.col("t_c") + F.col("v"))), 9)
            .cast("decimal(25,9)"))
    scored = (tk.crossJoin(F.broadcast(cls))
              .join(F.broadcast(tc.withColumnRenamed("lang", "cls")), "cls")
              .crossJoin(F.broadcast(vv))
              .join(cond, ["cls", "tok"], "left")
              .groupBy("doc_id", "lang_true", "cls")
              .agg(F.sum(F.col("k") * term).alias("s_tok")))
    full = (scored.join(F.broadcast(pri.withColumnRenamed("lang", "cls")),
                        "cls")
            .select("doc_id", "lang_true", "cls",
                    (F.col("s_tok") + F.col("logprior")).alias("score")))
    best = full.groupBy("doc_id").agg(F.max("score").alias("m"))
    pred = (full.join(best, "doc_id")
            .filter(F.col("score") == F.col("m"))
            .groupBy("doc_id", "lang_true")
            .agg(F.min("cls").alias("pred_lang")))
    return (pred.groupBy("lang_true", "pred_lang")
            .agg(F.count("*").alias("n")))


@register(
    "zipf_law_fit",
    survey="LLM-text,A6,F10",
    oracle="""
    WITH tc AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY 1
    ), ranked AS (
        SELECT p.tok, p.cnt,
               CAST(1 + (SELECT COUNT(*) FROM tc q
                         WHERE q.cnt > p.cnt
                            OR (q.cnt = p.cnt AND q.tok < p.tok))
                    AS BIGINT) AS rk
        FROM tc p
    ), pts AS (
        SELECT CAST(ROUND(LN(rk), 9) AS DECIMAL(15,9)) AS x,
               CAST(ROUND(LN(cnt), 9) AS DECIMAL(15,9)) AS y
        FROM ranked
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(y * y) AS DOUBLE) AS syy
        FROM pts
    )
    SELECT n AS vocab_size,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n, 6) AS intercept,
           ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    """,
)
def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law diagnostic of the corpus token distribution: OLS fit
    of ln(frequency) against ln(rank) — slope ≈ −1 on natural-language
    corpora; a corpus whose slope drifts far from −1 (too flat:
    templated/boilerplate text; too steep: tiny effective vocabulary)
    fails the standard health check run before tokenizer training, so
    this belongs beside bpe_vocab_train / vocab_coverage in the
    tokenizer pack.

    Count table and ranks are VOCABULARY-bounded (the Zipf frame is
    never corpus-sized): one map-combinable token count, rank by
    (count desc, token) via the broadcast triangular self-join
    bpe_merge_step uses (no global window — registry pin), then the
    five OLS moments in one aggregate. Exactness discipline: each log
    point is rounded to 9dp and carried as DECIMAL(15,9); the moment
    sums are exact DECIMAL (products at scale 18 — above DuckDB's
    int64 width so both engines run int128); the closed-form
    slope/intercept/r² are a handful of scalar double ops rounded 6dp
    — identical bits on both engines regardless of partitioning."""
    t = load_tables(spark, sf_dir, ("documents",))
    tc = (spread(t["documents"], "doc_id")
          .select(F.explode(_tokens()).alias("tok"))
          .groupBy("tok").agg(F.count("*").alias("cnt"))
          .localCheckpoint(eager=False))   # vocab-bounded; both join sides
    p, q = tc.alias("p"), tc.alias("q")
    ahead = ((F.col("q.cnt") > F.col("p.cnt"))
             | ((F.col("q.cnt") == F.col("p.cnt"))
                & (F.col("q.tok") < F.col("p.tok"))))
    ranked = (p.join(F.broadcast(q), ahead, "left")
              .groupBy(F.col("p.tok").alias("tok"),
                       F.col("p.cnt").alias("cnt"))
              .agg((F.count(F.col("q.tok")) + 1).alias("rk")))
    pts = ranked.select(
        F.round(F.log("rk"), 9).cast("decimal(15,9)").alias("x"),
        F.round(F.log("cnt"), 9).cast("decimal(15,9)").alias("y"))
    s = pts.agg(F.count("*").alias("n"),
                F.sum("x").cast("double").alias("sx"),
                F.sum("y").cast("double").alias("sy"),
                F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
                F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
                F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.alias("vocab_size"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        .alias("r2"))


#: prefix-filtered similarity join threshold (tighter than the 0.2
#: shared-shingle near-dup report: prefix filtering pays off when tau
#: is high enough to shrink prefixes well below full sets).
PREFIX_JACCARD_TAU = 0.5


@register(
    "prefix_filter_jaccard_join",
    survey="LLM-dedup,J7,A5,W6",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d,
             UNNEST(generate_series(1, len(t) - 2)) AS u(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    raw_pairs AS (
        SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_id_1, doc_id_2, n_common,
           ROUND(n_common * 1.0 / (s1.n + s2.n - n_common), 6) AS jaccard
    FROM raw_pairs
    JOIN sizes s1 ON doc_id_1 = s1.doc_id
    JOIN sizes s2 ON doc_id_2 = s2.doc_id
    WHERE n_common * 1.0 / (s1.n + s2.n - n_common)
          >= {PREFIX_JACCARD_TAU}
    """,
)
def prefix_filter_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity join with PREFIX FILTERING (AllPairs/PPJoin,
    Bayardo et al. 2007 / Xiao et al. 2008): exact 3-gram-shingle
    Jaccard >= 0.5 pairs, but candidates are generated ONLY from each
    document's prefix — its (n − ⌈τ·n⌉ + 1) rarest shingles under one
    global frequency order — instead of every shingle. The prefix
    lemma makes this LOSSLESS: two sets with J ≥ τ must collide inside
    their prefixes, so the oracle (the full shared-shingle join) and
    the filtered plan return identical pairs, which the driver
    hash-checks. This is the third candidate-pruning strategy in the
    dedup pack, orthogonal to MinHash banding (probabilistic) and
    IVF/SemDeDup cells (geometric) — it is exact AND pruned.

    Plan: one shingle explode (the corpus-sized pass, shared with the
    near-dup report), a global shingle document-frequency aggregate
    (vocabulary-bounded), per-doc rarity ranks from a doc-partitioned
    window, the candidate self-join keyed on PREFIX shingles only —
    at τ=0.5 half of each set never enters the join, and the rarity
    ordering makes surviving keys the LOW-frequency ones, which is
    exactly what bounds join fan-out — then one exact verify per
    candidate pair via array_intersect on the per-doc shingle arrays
    (JVM higher-order function, no UDF). Skew: the hottest shingles
    live in nobody's prefix — prefix filtering is also a skew guard."""
    t = load_tables(spark, sf_dir, ("documents",))
    # ONE pipeline, one action (r11): shingle df comes from a COUNT()
    # OVER (PARTITION BY s) window on the exploded frame (one exchange
    # on s) instead of a groupBy+re-join (two), and everything
    # downstream — prefixes, candidate keys AND the exact-verify doc
    # arrays — derives from the doc-partitioned `ranked` frame, so the
    # docsets aggregate rides the window's existing doc_id
    # partitioning with NO new exchange and the r10 eager checkpoint
    # (a full corpus-sized materialization + its scheduler jobs) is
    # gone: 11 -> ~7 scheduled jobs at sf0.1 (SCALE.md §13).
    shingled = shingled_rows(spread(t["documents"], "doc_id"))
    w = W.partitionBy("doc_id").orderBy("df", "s")
    ranked = (shingled
              .withColumn("df", F.count("*").over(W.partitionBy("s")))
              .select("doc_id", "s", "df",
                      F.row_number().over(w).alias("pos"),
                      F.count("*").over(W.partitionBy("doc_id")).alias("n")))
    prefix_len = (F.col("n")
                  - F.ceil(F.lit(PREFIX_JACCARD_TAU) * F.col("n")) + 1)
    pref = (ranked.filter(F.col("pos") <= prefix_len)
            .select("doc_id", "s", "pos", "n"))
    # PPJoin's two further LOSSLESS prunes before the exact verify
    # (r11 — ported from corpus_curation_funnel, where they cut the
    # verify set ~2.5x): (a) length filter in the join condition —
    # J >= 1/2 forces max(n1,n2) <= 2*min(n1,n2); (b) positional
    # filter — prefixes share the global (df, s) order, so the
    # lexicographically FIRST collision at 1-based (pa, pb) bounds the
    # true overlap by 1 + min(na-pa, nb-pb); pairs whose bound already
    # fails |∩| >= (na+nb)/3 (Jaccard >= 1/2 in intersection form)
    # never reach array_intersect.
    a, b = pref.alias("a"), pref.alias("b")
    first = F.min(F.struct(F.col("a.pos").alias("pa"),
                           F.col("b.pos").alias("pb"),
                           F.col("a.n").alias("na"),
                           F.col("b.n").alias("nb"))).alias("m")
    ub = F.lit(1) + F.least(F.col("m.na") - F.col("m.pa"),
                            F.col("m.nb") - F.col("m.pb"))
    cand = (a.join(b, (F.col("a.s") == F.col("b.s"))
                   & (F.col("a.doc_id") < F.col("b.doc_id"))
                   & (F.col("a.n") * 2 >= F.col("b.n"))
                   & (F.col("b.n") * 2 >= F.col("a.n")))
            .groupBy(F.col("a.doc_id").alias("doc_id_1"),
                     F.col("b.doc_id").alias("doc_id_2"))
            .agg(first)
            .filter(ub * 3 >= F.col("m.na") + F.col("m.nb"))
            .select("doc_id_1", "doc_id_2"))
    docsets = (ranked.groupBy("doc_id")
               .agg(F.array_sort(F.collect_list("s")).alias("set"),
                    F.count("*").alias("n")))
    j = (cand
         .join(docsets.select(F.col("doc_id").alias("doc_id_1"),
                              F.col("set").alias("set1"),
                              F.col("n").alias("n1")), "doc_id_1")
         .join(docsets.select(F.col("doc_id").alias("doc_id_2"),
                              F.col("set").alias("set2"),
                              F.col("n").alias("n2")), "doc_id_2")
         .withColumn("n_common",
                     F.size(F.array_intersect("set1", "set2"))
                     .cast("bigint")))
    jac = (F.col("n_common") * 1.0
           / (F.col("n1") + F.col("n2") - F.col("n_common")))
    return (j.filter(jac >= PREFIX_JACCARD_TAU)
            .select("doc_id_1", "doc_id_2", "n_common",
                    F.round(jac, 6).alias("jaccard")))


# ---------------------------------------------------------------------------
# containment (overlap-coefficient) near-dup — catches subset duplicates
# ---------------------------------------------------------------------------

#: containment acceptance threshold (|A∩B| / min(|A|,|B|)).
CONTAINMENT_TAU = 0.8
#: Jaccard below which a high-containment pair is a true SUBSET case
#: (small doc swallowed by a large one) rather than a near-identical
#: pair the Jaccard pass already reports.
CONTAINMENT_JACCARD_CAP = 0.5


@register(
    "containment_near_dup",
    survey="LLM-dedup,J7,A5,P7",
    oracle=f"""
    WITH {NGRAM_PAIRS_CTES}
    SELECT doc_id_1, doc_id_2, n_common,
           n_common * 1e0 / LEAST(s1.n, s2.n) AS containment,
           n_common * 1e0 / (s1.n + s2.n - n_common) AS jaccard,
           CASE WHEN s1.n <= s2.n THEN doc_id_1 ELSE doc_id_2 END
               AS contained_doc,
           n_common * 1e0 / (s1.n + s2.n - n_common)
               < {CONTAINMENT_JACCARD_CAP} AS is_subset_case
    FROM raw_pairs
    JOIN sizes s1 ON doc_id_1 = s1.doc_id
    JOIN sizes s2 ON doc_id_2 = s2.doc_id
    WHERE n_common * 1e0 / LEAST(s1.n, s2.n) >= {CONTAINMENT_TAU}
    """,
)
def containment_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subset-duplicate detection by CONTAINMENT (overlap coefficient,
    |A∩B| / min(|A|,|B|)) — the dedup case Jaccard structurally
    misses: a short document wholly embedded in a much longer one
    (quoted articles, concatenated crawls, doc+boilerplate wrappers)
    has Jaccard ≈ |A|/|B| → 0 as the host grows, but containment ≈ 1.
    Reports every pair with containment ≥ {CONTAINMENT_TAU}, which
    side is the contained (strike-candidate) document, and an
    `is_subset_case` flag (Jaccard < {CONTAINMENT_JACCARD_CAP}) that
    isolates the asymmetric cases the `ngram_jaccard_near_dup` pass
    does NOT emit. (The synthetic corpus's planted duplicates are all
    symmetric — subset rows appear exactly when a real corpus has
    them, and the flag keeps the two populations separable.)

    Plan: identical machinery to the Jaccard pass (shingle explode →
    shingle-keyed self-join → per-pair intersection counts → size
    join), one more derived column — at 100 TB it rides the SAME
    LSH-bounded candidate set; only the acceptance predicate differs.
    All ratios are exact-integer divisions, identical on both
    engines."""
    t = load_tables(spark, sf_dir, ("documents",))
    shingled = (
        shingled_rows(spread(t["documents"], "doc_id"))
        .localCheckpoint(eager=False))
    sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = shingled.alias("a"), shingled.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id_1"),
                 F.col("b.doc_id").alias("doc_id_2"))
        .agg(F.count("*").alias("n_common")))
    containment = (F.col("n_common") * F.lit(1.0)
                   / F.least(F.col("n1"), F.col("n2")))
    jaccard = (F.col("n_common") * F.lit(1.0)
               / (F.col("n1") + F.col("n2") - F.col("n_common")))
    return (
        pairs
        .join(sizes.select(F.col("doc_id").alias("doc_id_1"),
                           F.col("n").alias("n1")), "doc_id_1")
        .join(sizes.select(F.col("doc_id").alias("doc_id_2"),
                           F.col("n").alias("n2")), "doc_id_2")
        .filter(containment >= CONTAINMENT_TAU)
        .select("doc_id_1", "doc_id_2", "n_common",
                containment.alias("containment"),
                jaccard.alias("jaccard"),
                F.when(F.col("n1") <= F.col("n2"), F.col("doc_id_1"))
                 .otherwise(F.col("doc_id_2")).alias("contained_doc"),
                (jaccard < CONTAINMENT_JACCARD_CAP)
                .alias("is_subset_case")))


# ---------------------------------------------------------------------------
# shingle document-frequency spectrum (corpus boilerplate profile)
# ---------------------------------------------------------------------------

#: spectrum cap: DF values at or above this collapse into one bucket.
SPECTRUM_CAP = 10


@register(
    "shingle_df_spectrum",
    survey="LLM-text,A6,A15",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d,
             UNNEST(generate_series(1, len(t) - 2)) AS u(i)
    ), df AS (
        SELECT s, COUNT(*) AS df FROM sh GROUP BY 1
    )
    SELECT CAST(LEAST(df, {SPECTRUM_CAP}) AS INT) AS df_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(df) AS BIGINT) AS occurrence_mass
    FROM df GROUP BY 1
    """,
)
def shingle_df_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency spectrum of 3-gram shingles — the corpus
    boilerplate-health read that decides every dedup threshold above:
    DF=1 mass is unique content, DF=2..k mass is the near-dup signal
    the Jaccard/MinHash passes feed on, and the ≥{SPECTRUM_CAP}
    bucket is boilerplate (`dup_chunk_removal`'s target). Watching
    this spectrum drift between crawl snapshots is how a pipeline
    notices template pollution BEFORE the dedup bill arrives —
    `occurrence_mass` per bucket is exactly the row count each dedup
    stage will have to move.

    Plan: the standard shingle explode, a shingle-keyed DF aggregate
    (vocabulary-sized output), then a {SPECTRUM_CAP + 1}-row histogram
    — both aggregates map-side combinable, no joins, integer-exact
    everywhere. At 100 TB this is the cheapest whole-corpus health
    query in the text pack (one pass, two combine trees)."""
    t = load_tables(spark, sf_dir, ("documents",))
    sh = shingled_rows(spread(t["documents"], "doc_id"))
    df = sh.groupBy("s").agg(F.count("*").alias("df"))
    return (df.groupBy(F.least("df", F.lit(SPECTRUM_CAP)).cast("int")
                       .alias("df_bucket"))
            .agg(F.count("*").alias("n_shingles"),
                 F.sum("df").cast("bigint").alias("occurrence_mass")))


# ---------------------------------------------------------------------------
# exact duplicated-span coverage (ExactSubstr dedup)
# ---------------------------------------------------------------------------

#: duplicated-span length in tokens. Lee et al. 2022 use 50 BPE tokens
#: on web corpora; the driver corpus averages ~54 whitespace tokens per
#: doc, so 8 keeps the same "span ≪ document" geometry.
SPAN_L = 8


@register(
    "exact_substring_spans",
    survey="LLM-dedup,A2,A6,J1",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), base AS (
        SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, tk
        FROM toks WHERE len(tk) >= {SPAN_L}
    ), spans AS (
        SELECT doc_id, n_tokens, g.i AS pos,
               array_to_string(tk[g.i : g.i + {SPAN_L - 1}], ' ') AS span
        FROM base, LATERAL (
            SELECT unnest(generate_series(1, CAST(n_tokens AS INT)
                                             - {SPAN_L - 1})) AS i) g
    ), dup AS (
        SELECT span FROM spans
        GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    ), cov AS (
        SELECT DISTINCT s.doc_id, s.n_tokens, t.j
        FROM spans s JOIN dup USING (span), LATERAL (
            SELECT unnest(generate_series(s.pos, s.pos + {SPAN_L - 1})) AS j) t
    )
    SELECT doc_id, n_tokens,
           CAST(COUNT(*) AS BIGINT) AS dup_tokens,
           FLOOR(COUNT(*) * 1.0 / n_tokens * 1000000.0 + 0.5) / 1000000.0
               AS dup_fraction
    FROM cov GROUP BY 1, 2
    """,
)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr deduplication report (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for
    every document, the fraction of its tokens covered by some
    SPAN_L-token span that also appears VERBATIM in at least one OTHER
    document — the span-level duplication signal that doc-level
    (docs_exact_dedup) and set-level (ngram_jaccard, minhash) dedup
    both miss: two long documents sharing one boilerplate paragraph
    are near-zero Jaccard yet exactly what span dedup exists to cut.
    Within-doc repeats are deliberately excluded (cross-doc spans
    only); self-repetition is gopher_repetition_signals' job.

    Plan: token arrays once per doc, the span list as a narrow
    transform+slice (no per-token explode until the span explode
    itself), ONE shuffle to group spans (map-side combinable distinct
    doc count), a semi-join of spans against the duplicated set, and
    an interval-union coverage count via position explode + distinct.
    Scale: at 100 TB you group by xxhash64(span) instead of the span
    string (8-byte shuffle keys, exact-verify the few hash buckets
    that collide) and cap per-span fan-out by doc-frequency (hot
    boilerplate spans are top-k reported, not joined back) — same
    plan shape, documented here because the driver-SF form groups the
    string directly so the DuckDB oracle can replay it exactly."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = (spread(t["documents"], "doc_id")
            .select("doc_id", F.split("text", " ").alias("tk"))
            .withColumn("n_tokens", F.size("tk").cast("long")))
    spans = toks.select(
        "doc_id", "n_tokens",
        F.posexplode(ngrams("tk", SPAN_L)).alias("pos", "span"))
    dup = (spans.groupBy("span")
           .agg(F.countDistinct("doc_id").alias("n_docs"))
           .filter(F.col("n_docs") >= 2)
           .select("span"))
    cov = (spans.join(dup, "span", "semi")
           .select("doc_id", "n_tokens",
                   F.explode(F.sequence(
                       F.col("pos"), F.col("pos") + SPAN_L - 1)).alias("j"))
           .distinct())
    frac = F.col("dup_tokens") * 1.0 / F.col("n_tokens")
    return (cov.groupBy("doc_id", "n_tokens")
            .agg(F.count("*").alias("dup_tokens"))
            .select("doc_id", "n_tokens", "dup_tokens",
                    (F.floor(frac * 1e6 + F.lit(0.5)) / F.lit(1e6))
                    .alias("dup_fraction")))


# ---------------------------------------------------------------------------
# benchmark decontamination (train/eval n-gram overlap)
# ---------------------------------------------------------------------------

DECON_NGRAM = 8     #: verbatim n-gram length that counts as a hit
DECON_EVAL_MOD = 7  #: doc_id % MOD == 0 plays the held-out benchmark


@register(
    "benchmark_decontamination",
    survey="LLM-text,J7,A5,A6",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, source, string_split(text, ' ') AS tk
        FROM documents
    ), base AS (
        SELECT doc_id, lang, source, tk
        FROM toks WHERE len(tk) >= {DECON_NGRAM}
    ), grams AS (
        SELECT DISTINCT doc_id, lang, source,
               array_to_string(tk[g.i : g.i + {DECON_NGRAM - 1}], ' ')
                   AS gram
        FROM base, LATERAL (
            SELECT unnest(generate_series(1, len(tk)
                                             - {DECON_NGRAM - 1})) AS i) g
    ), ev AS (
        SELECT DISTINCT gram FROM grams WHERE doc_id % {DECON_EVAL_MOD} = 0
    ), tr AS (
        SELECT * FROM grams WHERE doc_id % {DECON_EVAL_MOD} <> 0
    ), doc AS (
        SELECT tr.doc_id, tr.lang, tr.source,
               COUNT(*) AS total_grams,
               COUNT(ev.gram) AS shared
        FROM tr LEFT JOIN ev ON tr.gram = ev.gram
        GROUP BY 1, 2, 3
    ), scored AS (
        SELECT lang, source, shared,
               FLOOR(CAST(shared AS DOUBLE) / total_grams * 1000000.0
                     + 0.5) / 1000000.0 AS contam
        FROM doc
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN shared > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS contaminated_docs,
           CAST(SUM(shared) AS BIGINT) AS shared_grams,
           FLOOR(CAST(SUM(CAST(contam AS DECIMAL(25,6))) AS DOUBLE)
                 / COUNT(*) * 1000000.0 + 0.5) / 1000000.0
               AS mean_contamination,
           MAX(contam) AS max_contamination
    FROM scored
    GROUP BY 1, 2
    """,
)
def benchmark_decontamination(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Train/eval contamination report — the decontamination gate every
    serious pre-training pipeline runs before the data ships (GPT-3
    appendix C's 13-gram rule, Gopher's n-gram overlap filter): with
    doc_id % {DECON_EVAL_MOD} == 0 standing in for the held-out
    benchmark, a training document is CONTAMINATED when any of its
    {DECON_NGRAM}-token n-grams appears verbatim in the benchmark set.
    Per (lang, source) cohort: document counts, verbatim-hit counts,
    and the mean/max per-doc contaminated-n-gram fraction — the
    numbers that decide whether a cohort is quarantined or shipped.

    Plan shape (and the 100 TB story): n-gram lists are a narrow
    transform+slice per doc (no per-token explode), the benchmark
    gram set is DISTINCT-reduced then BROADCAST into a left-semi probe
    (benchmarks are model-sized next to a training corpus — exactly
    the asymmetry the broadcast exploits; at 100 TB you'd hash the
    grams to 8-byte keys first, same shape), and the report is one
    map-combinable aggregate. Per-doc fractions are 6dp-floor-rounded
    BEFORE the decimal mean accumulation so both engines sum identical
    grid values. Companion of exact_substring_spans (this module):
    that one finds intra-corpus boilerplate, this one finds train/eval
    leakage."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = (spread(t["documents"], "doc_id")
            .select("doc_id", "lang", "source",
                    F.split("text", " ").alias("tk")))
    grams = (toks.select(
        "doc_id", "lang", "source",
        F.explode(ngrams("tk", DECON_NGRAM)).alias("gram"))
        .distinct())
    ev = (grams.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
          .select("gram").distinct()
          .withColumn("hit", F.lit(1)))
    tr = grams.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
    # ONE broadcast left join tags each train gram with its benchmark
    # membership, so total and shared come out of a single per-doc
    # aggregate — no separate semi-join aggregate + per-doc rejoin
    # (one fewer shuffle, audited in PLANS.md)
    doc = (tr.join(F.broadcast(ev), "gram", "left")
           .groupBy("doc_id", "lang", "source")
           .agg(F.count("*").alias("total_grams"),
                F.sum(F.coalesce("hit", F.lit(0))).alias("shared")))
    contam = (F.floor(F.col("shared").cast("double")
                      / F.col("total_grams") * 1e6 + F.lit(0.5))
              / F.lit(1e6))
    scored = doc.select("lang", "source", "shared",
                        contam.alias("contam"))
    mean_c = (F.sum(F.col("contam").cast("decimal(25,6)")).cast("double")
              / F.count("*"))
    return (scored.groupBy("lang", "source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum((F.col("shared") > 0).cast("int")).cast("long")
                 .alias("contaminated_docs"),
                 F.sum("shared").cast("long").alias("shared_grams"),
                 (F.floor(mean_c * 1e6 + F.lit(0.5)) / F.lit(1e6))
                 .alias("mean_contamination"),
                 F.max("contam").alias("max_contamination")))


# ---------------------------------------------------------------------------
# n-gram novelty profile (first-occurrence attribution per source)
# ---------------------------------------------------------------------------

NOVELTY_N = 5  #: n-gram length for the novelty attribution


@register(
    "ngram_novelty_profile",
    survey="LLM-text,A2,A6,J1",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS tk
        FROM documents
    ), base AS (
        SELECT doc_id, source, tk
        FROM toks WHERE len(tk) >= {NOVELTY_N}
    ), grams AS (
        SELECT DISTINCT doc_id, source,
               array_to_string(tk[g.i : g.i + {NOVELTY_N - 1}], ' ')
                   AS gram
        FROM base, LATERAL (
            SELECT unnest(generate_series(1, len(tk)
                                             - {NOVELTY_N - 1})) AS i) g
    ), owner AS (
        SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram
    ), doc AS (
        SELECT g.doc_id, g.source,
               COUNT(*) AS n_grams,
               SUM(CASE WHEN o.first_doc = g.doc_id THEN 1 ELSE 0 END)
                   AS n_novel
        FROM grams g JOIN owner o ON g.gram = o.gram
        GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_grams) AS BIGINT) AS total_grams,
           CAST(SUM(n_novel) AS BIGINT) AS novel_grams,
           FLOOR(CAST(SUM(n_novel) AS DOUBLE) / SUM(n_grams)
                 * 1000000.0 + 0.5) / 1000000.0 AS novelty_rate
    FROM doc
    GROUP BY source
    """,
)
def ngram_novelty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-growth novelty curve per source — for every document,
    which of its distinct {NOVELTY_N}-gram shingles appear HERE FIRST
    (global first-occurrence by doc_id order)? A source whose
    novelty_rate is low adds mostly content the corpus already has —
    the acquisition-priority signal dedup reports don't give (a doc
    can be 0.3 Jaccard to everything yet contribute zero new
    shingles). First-occurrence attribution is deterministic by the
    doc_id total order.

    Plan: distinct grams per doc (narrow transform + one explode),
    ONE shuffle to elect each gram's first owner (map-combinable
    MIN), the ownership join re-uses the same gram partitioning
    (Catalyst keeps the hash partitioning across the join), then one
    aggregate. Integer-exact until the final 6dp ratio. At 100 TB the
    gram key becomes xxhash64(gram) (8-byte shuffle keys; collisions
    only merge novelty conservatively) — same plan shape."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = (spread(t["documents"], "doc_id")
            .select("doc_id", "source", F.split("text", " ").alias("tk")))
    grams = (toks.select(
        "doc_id", "source",
        F.explode(ngrams("tk", NOVELTY_N)).alias("gram"))
        .distinct())
    owner = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    doc = (grams.join(owner, "gram")
           .groupBy("doc_id", "source")
           .agg(F.count("*").alias("n_grams"),
                F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
                .alias("n_novel")))
    rate = F.col("novel_grams").cast("double") / F.col("total_grams")
    return (doc.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_grams").cast("long").alias("total_grams"),
                 F.sum("n_novel").cast("long").alias("novel_grams"))
            .select("source", "n_docs", "total_grams", "novel_grams",
                    (F.floor(rate * 1e6 + F.lit(0.5)) / F.lit(1e6))
                    .alias("novelty_rate")))


# ---------------------------------------------------------------------------
# regex (BPE-style pre-tokenizer) token profile
# ---------------------------------------------------------------------------

#: simplified GPT-2-style pre-tokenization classes: letter runs,
#: digit runs, single punctuation marks. Same RE2/Java-regex text on
#: both engines (verified token-for-token identical). Whitespace is an
#: EXPLICIT character class, not \s: Java's \s includes \x0B (vertical
#: tab) while RE2's does not, so a document containing \x0B would
#: classify it as punct in DuckDB but whitespace in Spark and break
#: hash parity (advice r5).
_RX_WS = r" \t\n\r\f\x0B"
_RX_TOKEN = rf"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{_RX_WS}]"
_RX_LETTER = r"[A-Za-z]+"
_RX_NUMBER = r"[0-9]+"
_RX_PUNCT = rf"[^A-Za-z0-9{_RX_WS}]"


@register(
    "regex_token_profile",
    survey="LLM-text,A6,A7,F9",
    oracle=f"""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{_RX_TOKEN}')))
                AS BIGINT) AS regex_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{_RX_LETTER}')))
                AS BIGINT) AS letter_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{_RX_NUMBER}')))
                AS BIGINT) AS number_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{_RX_PUNCT}')))
                AS BIGINT) AS punct_tokens,
           FLOOR(SUM(len(regexp_extract_all(text, '{_RX_TOKEN}'))) * 1.0
                 / SUM(len(string_split(text, ' '))) * 1000000.0 + 0.5)
               / 1000000.0 AS fertility
    FROM documents
    GROUP BY 1, 2
    """,
)
def regex_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenizer token accounting per (lang, source) cohort — the
    'BPE-ish regex' counting half of the token-stats pair (whitespace
    half: token_stats): a simplified GPT-2 pre-tokenization (letter
    runs | digit runs | single punctuation) whose token count is what
    a subword tokenizer's merge loop actually starts from, plus the
    class mix and the regex/whitespace fertility ratio — the
    pre-training budget numbers (how many trainable tokens a cohort
    yields per 'word') that raw whitespace counts misstate on
    punctuation-heavy or numeric text.

    One narrow map (four JVM regex passes per doc, no explode — counts
    only, so the token arrays never materialize into a shuffle), one
    map-combinable aggregate; integer-exact everywhere, one fround
    ratio. The SAME regex text runs on both engines (Java regex vs
    RE2 agree on this class-only pattern; verified token-identical)."""
    t = load_tables(spark, sf_dir, ("documents",))
    cnt = lambda pat: F.size(F.regexp_extract_all(F.col("text"),
                                                  F.lit(pat), F.lit(0)))
    per_doc = spread(t["documents"], "doc_id").select(
        "lang", "source",
        F.size(F.split("text", " ")).alias("ws"),
        cnt(_RX_TOKEN).alias("rx"),
        cnt(_RX_LETTER).alias("lt"),
        cnt(_RX_NUMBER).alias("nm"),
        cnt(_RX_PUNCT).alias("pn"))
    fert = F.col("regex_tokens") * 1.0 / F.col("ws_tokens")
    return (per_doc.groupBy("lang", "source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("ws").cast("long").alias("ws_tokens"),
                 F.sum("rx").cast("long").alias("regex_tokens"),
                 F.sum("lt").cast("long").alias("letter_tokens"),
                 F.sum("nm").cast("long").alias("number_tokens"),
                 F.sum("pn").cast("long").alias("punct_tokens"))
            .select("lang", "source", "n_docs", "ws_tokens",
                    "regex_tokens", "letter_tokens", "number_tokens",
                    "punct_tokens",
                    (F.floor(fert * 1e6 + F.lit(0.5)) / F.lit(1e6))
                    .alias("fertility")))


def _bpe_fertility_oracle() -> str:
    from covid_weather_etl_spark.functions.numeric import fround_sql
    fert = fround_sql("SUM(k * w_syms) * 1e0 / SUM(k)")
    cps = fround_sql("SUM(k * w_chars) * 1e0 / SUM(k * w_syms)")
    return f"""
    WITH RECURSIVE {_bpe_st_ctes()},
    fin AS (
        SELECT word, CAST(len(syms) AS INT) AS w_syms,
               CAST(length(word) AS INT) AS w_chars
        FROM st WHERE round = (SELECT MAX(round) FROM st)
    ),
    lw AS (
        SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
              FROM documents)
        GROUP BY 1, 2
    )
    SELECT lang,
           CAST(SUM(k) AS BIGINT) AS n_words,
           CAST(SUM(k * w_syms) AS BIGINT) AS n_syms,
           {fert} AS fertility,
           {cps} AS chars_per_sym
    FROM lw JOIN fin ON lw.word = fin.word
    GROUP BY 1
    """


@register("bpe_fertility_by_lang", survey="LLM-text,A5,A6,J1",
          oracle=_bpe_fertility_oracle())
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language — BPE symbols emitted per
    whitespace word, the standard cross-lingual tokenizer-equity
    metric (a language with 2x fertility pays 2x the context budget
    per sentence, the imbalance mT5/XLM-R's temperature mixing and
    modern vocab allocation both correct for). Uses the SAME trained
    merge sequence as bpe_vocab_train, so the number is the real
    tokenizer's, not a proxy; chars-per-symbol per language comes
    along for free.

    Spark-first: training already produced the final segmentation of
    every distinct word, so fertility is one corpus scan into
    (lang, word) counts joined against the broadcast Zipf-bounded
    vocab — per-language cost O(distinct words). Full DuckDB oracle
    via the shared recursive-CTE trainer replay (_bpe_st_ctes)."""
    _, vocab = ensure_bpe_artifacts(spark, sf_dir)
    enc = vocab.select("word", F.size("syms").alias("w_syms"),
                       F.length("word").alias("w_chars"))
    t = load_tables(spark, sf_dir, ("documents",))
    lw = (spread(t["documents"], "doc_id")
          .select("lang", F.explode(_tokens()).alias("word"))
          .groupBy("lang", "word").agg(F.count("*").alias("k")))
    return (lw.join(F.broadcast(enc), "word")
            .groupBy("lang")
            .agg(F.sum("k").alias("n_words"),
                 F.sum(F.col("k") * F.col("w_syms")).alias("n_syms"),
                 fround(F.sum(F.col("k") * F.col("w_syms")) * 1.0
                        / F.sum("k")).alias("fertility"),
                 fround(F.sum(F.col("k") * F.col("w_chars")) * 1.0
                        / F.sum(F.col("k") * F.col("w_syms")))
                 .alias("chars_per_sym")))


# ---------------------------------------------------------------------------
# serving-side corpus economics: prefix caching + speculative decoding
# ---------------------------------------------------------------------------

#: prompt-prefix lengths (tokens) evaluated by the cache-reuse report.
PCR_KS = (4, 8, 16)


@register(
    "prefix_cache_reuse_stats",
    survey="LLM-text,A6,A2,F1",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    ks(k) AS (VALUES {", ".join(f"({k})" for k in PCR_KS)}),
    pref AS (
        SELECT ks.k, d.doc_id, len(d.t) AS n_tok,
               md5(array_to_string(d.t[1:ks.k], ' ')) AS ph
        FROM docs d JOIN ks ON len(d.t) >= ks.k
    ),
    grp AS (
        SELECT k, ph, CAST(COUNT(*) AS BIGINT) AS c
        FROM pref GROUP BY k, ph
    ),
    tot AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens
        FROM pref GROUP BY k
    )
    SELECT g.k AS prefix_len,
           t.n_docs, t.total_tokens,
           CAST(SUM(CASE WHEN g.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS shared_groups,
           CAST(SUM(CASE WHEN g.c >= 2 THEN g.c ELSE 0 END) AS BIGINT)
               AS docs_sharing,
           CAST(SUM(CASE WHEN g.c >= 2 THEN (g.c - 1) * g.k ELSE 0 END)
                AS BIGINT) AS tokens_saved,
           {fround_sql("SUM(CASE WHEN g.c >= 2 THEN (g.c - 1) * g.k "
                       "ELSE 0 END) * 1e0 / MIN(t.total_tokens)")}
               AS save_ratio
    FROM grp g JOIN tot t ON t.k = g.k
    GROUP BY g.k, t.n_docs, t.total_tokens
    """,
)
def prefix_cache_reuse_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROMPT-PREFIX CACHE reuse accounting — the serving-side twin of
    dedup: KV-cache prefix caching only pays when requests share their
    leading tokens, so before provisioning a prefix cache you measure,
    per candidate prefix length k, how many documents share their
    first-k tokens with at least one other document and how many
    prefill tokens a shared-prefix cache would skip
    (Σ over shared groups of (count−1)·k). Reported per k in PCR_KS
    with the save ratio against total prompt tokens.

    Plan: one corpus scan fans out over the |PCR_KS| lengths (a
    broadcast literal join, not re-scans), the prefix key is the md5
    of the joined first-k slice — 16 bytes shuffle instead of the
    prefix text, the docs_exact_dedup hash-first discipline — then
    two integer aggregates. Everything is integer/string algebra; the
    one ratio is fround-snapped. At 100 TB: group cardinality is
    bounded by doc count, no stage is corpus-cross-product."""
    t = load_tables(spark, sf_dir, ("documents",))
    ks = driver.local_frame(spark, [(k,) for k in PCR_KS], "k int")
    pref = (spread(t["documents"], "doc_id")
            .select("doc_id", _tokens().alias("t"))
            .select("doc_id", F.size("t").alias("n_tok"), "t")
            .join(F.broadcast(ks), F.size("t") >= F.col("k"))
            .select("k", "doc_id", "n_tok",
                    F.md5(F.array_join(F.slice("t", 1, F.col("k")), " "))
                    .alias("ph")))
    grp = pref.groupBy("k", "ph").agg(F.count("*").alias("c"))
    tot = (pref.groupBy("k")
           .agg(F.count("*").alias("n_docs"),
                F.sum("n_tok").alias("total_tokens")))
    shared = F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0))
    saved = F.when(F.col("c") >= 2,
                   (F.col("c") - 1) * F.col("k")).otherwise(F.lit(0))
    agg = (grp.groupBy("k")
           .agg(F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
                .cast("long").alias("shared_groups"),
                F.sum(shared).cast("long").alias("docs_sharing"),
                F.sum(saved).cast("long").alias("tokens_saved")))
    return (agg.join(tot, "k")
            .select(F.col("k").alias("prefix_len"),
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.col("total_tokens").cast("long")
                    .alias("total_tokens"),
                    "shared_groups", "docs_sharing", "tokens_saved",
                    fround(F.col("tokens_saved") * F.lit(1.0)
                           / F.col("total_tokens")).alias("save_ratio")))


@register(
    "speculative_decoding_acceptance",
    survey="LLM-text,A5,A6,J1",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(t) AS tok,
               generate_subscripts(t, 1) AS i
        FROM (SELECT doc_id, source, string_split(text, ' ') AS t
              FROM documents) d
    ),
    big AS (
        SELECT a.source, a.tok AS w1, b.tok AS w2
        FROM toks a JOIN toks b
          ON b.doc_id = a.doc_id AND b.i = a.i + 1
    ),
    c12 AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        FROM big GROUP BY w1, w2
    ),
    c1 AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1
    ),
    uni AS (
        SELECT tok AS w2, CAST(COUNT(*) AS BIGINT) AS cu
        FROM toks GROUP BY tok
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
    srcb AS (
        SELECT source, w1, w2, CAST(COUNT(*) AS BIGINT) AS k
        FROM big GROUP BY source, w1, w2
    ),
    terms AS (
        SELECT s.source, s.k,
               CAST({fround_sql("LEAST(c12.c12 * 1e0 / c1.c1, "
                                "uni.cu * 1e0 / nn.n)")}
                    AS DECIMAL(25,6)) AS v
        FROM srcb s
        JOIN c12 ON c12.w1 = s.w1 AND c12.w2 = s.w2
        JOIN c1 ON c1.w1 = s.w1
        JOIN uni ON uni.w2 = s.w2
        CROSS JOIN nn
    )
    SELECT source,
           CAST(SUM(k) AS BIGINT) AS n_bigrams,
           {fround_sql("CAST(SUM(k * v) AS DOUBLE) / SUM(k)")} AS alpha,
           {fround_sql("1e0 + CAST(SUM(k * v) AS DOUBLE) / SUM(k)")}
               AS expected_tokens_per_step
    FROM terms GROUP BY source
    """,
)
def speculative_decoding_acceptance(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """SPECULATIVE-DECODING acceptance simulation over the corpus —
    before pairing a draft model with a target model you estimate the
    expected acceptance rate α = E[min(p_target, p_draft)] (the
    published speculative-sampling acceptance probability); here the
    target is the corpus bigram LM and the draft the unigram LM, both
    MLE, and the expectation runs over every bigram occurrence, so
    α_s per source says how "draftable" each slice of the mix is (and
    1+α is the expected tokens emitted per target step at draft
    length 1 — the serving speedup bound).

    Exactness: both conditional probabilities are single mirrored
    IEEE divides of exact integer counts, the min is LEAST of two
    identically-computed doubles, each term is fround-snapped to the
    1e-6 grid and carried as DECIMAL (§3a grid-snap-then-accumulate),
    and the per-source weighted mean divides two exact sums once.
    Plan: token counts are vocab-bounded map-side-combinable
    aggregates; the per-source bigram table joins the three count
    tables hash-keyed (broadcast-sized at any corpus: vocab², not
    corpus²)."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = (spread(t["documents"], "doc_id")
            .select("doc_id", "source",
                    F.posexplode(_tokens()).alias("i", "tok")))
    nxt = toks.select(F.col("doc_id").alias("d2"),
                      (F.col("i") - 1).alias("i2"),
                      F.col("tok").alias("w2"))
    big = (toks.join(nxt, (F.col("doc_id") == F.col("d2"))
                     & (F.col("i") == F.col("i2")))
           .select("source", F.col("tok").alias("w1"), "w2"))
    c12 = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    uni = toks.groupBy(F.col("tok").alias("w2")) \
              .agg(F.count("*").alias("cu"))
    n_total = toks.agg(F.count("*").alias("n"))
    srcb = big.groupBy("source", "w1", "w2").agg(F.count("*").alias("k"))
    v = fround(F.least(F.col("c12") * F.lit(1.0) / F.col("c1"),
                       F.col("cu") * F.lit(1.0) / F.col("n"))) \
        .cast("decimal(25,6)")
    terms = (srcb.join(c12, ["w1", "w2"])
             .join(c1, "w1")
             .join(uni, "w2")
             .crossJoin(F.broadcast(n_total))
             .select("source", "k", v.alias("v")))
    return (terms.groupBy("source")
            .agg(F.sum("k").cast("long").alias("n_bigrams"),
                 fround(F.sum(F.col("k") * F.col("v")).cast("double")
                        / F.sum("k")).alias("alpha"),
                 fround(F.lit(1.0)
                        + F.sum(F.col("k") * F.col("v")).cast("double")
                        / F.sum("k"))
                 .alias("expected_tokens_per_step")))


#: Heaps-law checkpoints: the corpus prefix is measured at 10 equal
#: doc_id-interval checkpoints (arrival order proxied by doc_id — a
#: deterministic integer rule, no global ranking window needed).
HEAPS_CHECKPOINTS = 10


@register(
    "heaps_law_fit",
    survey="LLM-text,A6,F10,W6",
    oracle=f"""
    WITH bounds AS (
        SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents
    ),
    cps AS (
        SELECT p.p,
               b.lo + ((b.hi - b.lo + 1) * p.p) // {HEAPS_CHECKPOINTS}
                   - 1 AS thr
        FROM range(1, {HEAPS_CHECKPOINTS} + 1) p(p), bounds b
    ),
    toks AS (
        SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS t
              FROM documents) d,
             UNNEST(generate_series(1, len(t) - 2)) AS u(i)
    ),
    firsts AS (
        SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok
    ),
    dlen AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM toks GROUP BY doc_id
    ),
    pts AS (
        SELECT c.p,
               (SELECT CAST(SUM(n) AS BIGINT) FROM dlen
                WHERE doc_id <= c.thr) AS n_tokens,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts
                WHERE first_doc <= c.thr) AS vocab
        FROM cps c
    ),
    lp AS (
        SELECT p, n_tokens, vocab,
               CAST(ROUND(LN(n_tokens), 9) AS DECIMAL(15,9)) AS x,
               CAST(ROUND(LN(vocab), 9) AS DECIMAL(15,9)) AS y
        FROM pts
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(y * y) AS DOUBLE) AS syy
        FROM lp
    )
    SELECT CAST(lp.p AS INT) AS checkpoint, lp.n_tokens, lp.vocab,
           ROUND((s.n * s.sxy - s.sx * s.sy)
                 / (s.n * s.sxx - s.sx * s.sx), 6) AS beta,
           ROUND((s.sy - (s.n * s.sxy - s.sx * s.sy)
                         / (s.n * s.sxx - s.sx * s.sx) * s.sx)
                 / s.n, 6) AS log_k,
           CASE WHEN (s.n * s.sxx - s.sx * s.sx)
                      * (s.n * s.syy - s.sy * s.sy) = 0 THEN 0.0
                ELSE ROUND(((s.n * s.sxy - s.sx * s.sy)
                            * (s.n * s.sxy - s.sx * s.sy))
                           / ((s.n * s.sxx - s.sx * s.sx)
                              * (s.n * s.syy - s.sy * s.sy)), 6)
           END AS r2
    FROM lp CROSS JOIN s
    """,
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS'-LAW diagnostic — vocabulary growth V(n) ≈ K·n^β as the
    corpus grows, the companion health check to zipf_law_fit (β ≈
    0.4–0.6 on natural language; β → 1 means near-unbounded novelty —
    OCR noise / random strings; β → 0 means a closed vocabulary —
    templates). Run before sizing a tokenizer vocab or projecting how
    much new data adds new types. Measured at {HEAPS_CHECKPOINTS}
    doc_id-interval checkpoints (arrival order proxied by doc_id — an
    integer rule, NO global ranking window), with ln V on ln N OLS in
    the zipf_law_fit discipline: 9dp-snapped log points carried as
    DECIMAL, exact moment sums, closed-form slope at the end.

    Plan: one corpus scan → vocab-bounded first-occurrence aggregate
    (MIN doc_id per token) + doc-bounded length aggregate; each
    checkpoint's (N, V) is a broadcast threshold join over those two
    small frames — the corpus is scanned ONCE no matter how many
    checkpoints."""
    t = load_tables(spark, sf_dir, ("documents",))
    arr = spread(t["documents"], "doc_id") \
        .select("doc_id", _tokens().alias("t"))
    toks = arr.select("doc_id", F.explode(ngrams("t", 3)).alias("tok"))
    bounds = t["documents"].agg(F.min("doc_id").alias("lo"),
                                F.max("doc_id").alias("hi"))
    cps = (spark.range(1, HEAPS_CHECKPOINTS + 1)
           .select(F.col("id").alias("p"))
           .crossJoin(F.broadcast(bounds))
           .select("p", (F.col("lo")
                         + F.floor((F.col("hi") - F.col("lo") + 1)
                                   * F.col("p") / HEAPS_CHECKPOINTS)
                         - 1).alias("thr")))
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    dlen = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    n_tok = (dlen.crossJoin(F.broadcast(cps))
             .filter(F.col("doc_id") <= F.col("thr"))
             .groupBy("p").agg(F.sum("n").alias("n_tokens")))
    vocab = (firsts.crossJoin(F.broadcast(cps))
             .filter(F.col("first_doc") <= F.col("thr"))
             .groupBy("p").agg(F.count("*").alias("vocab")))
    pts = (n_tok.join(vocab, "p")
           .select("p",
                   F.col("n_tokens").cast("long").alias("n_tokens"),
                   F.col("vocab").cast("long").alias("vocab"),
                   F.round(F.log("n_tokens"), 9).cast("decimal(15,9)")
                   .alias("x"),
                   F.round(F.log("vocab"), 9).cast("decimal(15,9)")
                   .alias("y")))
    s = pts.agg(F.count("*").alias("n"),
                F.sum("x").cast("double").alias("sx"),
                F.sum("y").cast("double").alias("sy"),
                F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
                F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
                F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return (pts.crossJoin(F.broadcast(s))
            .select(F.col("p").cast("int").alias("checkpoint"),
                    "n_tokens", "vocab",
                    F.round(slope, 6).alias("beta"),
                    F.round((sy - slope * sx) / n, 6).alias("log_k"),
                    F.when((n * sxx - sx * sx) * (n * syy - sy * sy) == 0,
                           F.lit(0.0))
                    .otherwise(
                        F.round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                                / ((n * sxx - sx * sx)
                                   * (n * syy - sy * sy)), 6))
                    .alias("r2")))


#: minimum successor mass for a context to enter the nucleus profile.
NUCLEUS_MIN_TOT = 5
#: nucleus mass threshold — top-p 0.9, compared in integers (cum*10
#: >= tot*9) so the cut is float-free on both engines.
NUCLEUS_P_NUM, NUCLEUS_P_DEN = 9, 10


@register(
    "nucleus_sampling_profile",
    survey="LLM-serving,A6,A8,W6,F9",
    oracle=f"""
    WITH tok AS (
        SELECT string_split(text, ' ') AS t FROM documents
    ), bgr AS (
        SELECT t[i] AS w1, t[i + 1] AS w2, COUNT(*) AS c
        FROM tok, UNNEST(generate_series(1, len(t) - 1)) u(i)
        GROUP BY 1, 2
    ), st AS (
        SELECT w1, c,
               ROW_NUMBER() OVER (PARTITION BY w1
                                  ORDER BY c DESC, w2) AS rn,
               SUM(c) OVER (PARTITION BY w1 ORDER BY c DESC, w2
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(c) OVER (PARTITION BY w1) AS tot
        FROM bgr
    ), k AS (
        SELECT w1,
               MIN(CASE WHEN cum * {NUCLEUS_P_DEN} >=
                             tot * {NUCLEUS_P_NUM} THEN rn END) AS k90,
               MAX(CASE WHEN rn = 1 THEN c END) AS top1,
               MAX(tot) AS tot
        FROM st GROUP BY 1
        HAVING MAX(tot) >= {NUCLEUS_MIN_TOT}
    )
    SELECT CAST(k90 AS INT) AS nucleus_size,
           CAST(COUNT(*) AS BIGINT) AS n_contexts,
           {fround_sql(dsum_sql(fround_sql("top1 * 1e0 / tot"))
                       + " / COUNT(*)")} AS mean_top1_share
    FROM k GROUP BY 1
    """,
)
def nucleus_sampling_profile(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TOP-P (nucleus) SAMPLING profile of the corpus bigram LM — the
    serving-side companion to speculative_decoding_acceptance: for
    every context token with ≥ {NUCLEUS_MIN_TOT} successor
    occurrences, the nucleus size k90 = the number of most-probable
    successors needed to reach {NUCLEUS_P_NUM}/{NUCLEUS_P_DEN} of the
    successor mass (Holtzman et al. 2020). The k90 histogram is what
    sizes a top-p sampler's candidate buffer and predicts how often
    nucleus sampling actually truncates (k90 = 1 contexts are the
    greedy-safe prefix_cache sweet spot; a fat right tail means the
    model stays genuinely uncertain and speculative drafting will
    reject more). mean_top1_share per bucket ties the histogram back
    to the acceptance-rate math.

    Replay discipline: the nucleus cut is INTEGER (cum·{NUCLEUS_P_DEN}
    ≥ tot·{NUCLEUS_P_NUM}), the per-context window is (count DESC,
    token ASC) — a total order both engines sort identically — and
    the only floats are grid-snapped top-1 shares averaged through an
    exact DECIMAL sum. Plan: one bigram aggregate (map-combinable),
    one context-partitioned window (never global — w1 carries the
    partition), two small aggregates. At 100 TB the window runs over
    the bigram VOCABULARY, not the corpus."""
    t = load_tables(spark, sf_dir, ("documents",))
    bgr = (spread(t["documents"], "doc_id")
           .select(F.split("text", " ").alias("tk"))
           .select(F.explode(bigram_pairs("tk")).alias("p"))
           .select("p.w1", "p.w2")
           .groupBy("w1", "w2").agg(F.count("*").alias("c")))
    win = W.partitionBy("w1").orderBy(F.desc("c"), "w2")
    st = bgr.select(
        "w1", "c",
        F.row_number().over(win).alias("rn"),
        F.sum("c").over(win.rowsBetween(W.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("c").over(W.partitionBy("w1")).alias("tot"))
    k = (st.groupBy("w1")
         .agg(F.min(F.when(F.col("cum") * NUCLEUS_P_DEN
                           >= F.col("tot") * NUCLEUS_P_NUM,
                           F.col("rn"))).alias("k90"),
              F.max(F.when(F.col("rn") == 1, F.col("c"))).alias("top1"),
              F.max("tot").alias("tot"))
         .filter(F.col("tot") >= NUCLEUS_MIN_TOT))
    return (k.groupBy(F.col("k90").cast("int").alias("nucleus_size"))
            .agg(F.count("*").alias("n_contexts"),
                 fround(dsum(fround(F.col("top1") * 1.0 / F.col("tot")))
                        / F.count("*")).alias("mean_top1_share")))


@register(
    "rouge_overlap_eval",
    survey="LLM-dedup,A5,A6,J1,F9",
    oracle=f"""
    WITH {{pairs_ctes}},
    tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents) x
        GROUP BY 1, 2
    ),
    lens AS (
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS len FROM tf GROUP BY 1
    ),
    ov AS (
        SELECT p.doc_id_1, p.doc_id_2,
               CAST(SUM(LEAST(t1.tf, t2.tf)) AS BIGINT) AS overlap
        FROM ngram_pairs p
        JOIN tf t1 ON t1.doc_id = p.doc_id_1
        JOIN tf t2 ON t2.doc_id = p.doc_id_2 AND t2.tok = t1.tok
        GROUP BY 1, 2
    )
    SELECT o.doc_id_1, o.doc_id_2, o.overlap,
           l1.len AS len_1, l2.len AS len_2,
           {{p_}} AS rouge1_p, {{r_}} AS rouge1_r, {{f_}} AS rouge1_f1
    FROM ov o
    JOIN lens l1 ON l1.doc_id = o.doc_id_1
    JOIN lens l2 ON l2.doc_id = o.doc_id_2
    """.format(
        pairs_ctes=NGRAM_PAIRS_CTES,
        p_=fround_sql("o.overlap * 1e0 / l2.len"),
        r_=fround_sql("o.overlap * 1e0 / l1.len"),
        f_=fround_sql("2e0 * o.overlap / (l1.len + l2.len)"),
    ),
)
def rouge_overlap_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 re-verification of the near-dup candidate pairs — the
    second-stage filter a production dedup runs before dropping a
    document: shingle Jaccard (the candidate rule) is order-sensitive
    and length-biased, so borderline pairs are re-scored with unigram
    multiset overlap (ROUGE-1: overlap = Σ_w min(tf₁, tf₂), precision
    against the candidate, recall against the reference, F1). A pair
    with high Jaccard but low ROUGE-1 recall is a CONTAINMENT case
    (one doc quotes part of the other) — drop-the-duplicate would
    delete original content; the P/R asymmetry is exactly what
    separates near-identity from containment.

    Plan: the pair set is the existing bounded candidate stage (never
    all-pairs); tf tables are one map-combinable aggregate; the
    overlap is a candidate-keyed join on (pair, token) — at 100 TB
    its size is Σ over candidate pairs of shared vocabulary, bounded
    by the candidate budget, and every count is integer-exact (floats
    only at the three final grid divisions)."""
    pairs = ngram_jaccard_near_dup(spark, sf_dir) \
        .select("doc_id_1", "doc_id_2").localCheckpoint(eager=False)
    t = load_tables(spark, sf_dir, ("documents",))
    tf = (spread(t["documents"], "doc_id")
          .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
          .groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
          .localCheckpoint(eager=False))    # read 2x (overlap + lens)
    lens = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("len"))
    t1 = tf.select(F.col("doc_id").alias("doc_id_1"), "tok",
                   F.col("tf").alias("tf1"))
    t2 = tf.select(F.col("doc_id").alias("doc_id_2"), "tok",
                   F.col("tf").alias("tf2"))
    ov = (pairs.join(t1, "doc_id_1")
          .join(t2, ["doc_id_2", "tok"])
          .groupBy("doc_id_1", "doc_id_2")
          .agg(F.sum(F.least("tf1", "tf2")).cast("long").alias("overlap")))
    l1 = lens.select(F.col("doc_id").alias("doc_id_1"),
                     F.col("len").alias("len_1"))
    l2 = lens.select(F.col("doc_id").alias("doc_id_2"),
                     F.col("len").alias("len_2"))
    return (ov.join(l1, "doc_id_1").join(l2, "doc_id_2")
            .select("doc_id_1", "doc_id_2", "overlap", "len_1", "len_2",
                    fround(F.col("overlap") * 1.0 / F.col("len_2"))
                    .alias("rouge1_p"),
                    fround(F.col("overlap") * 1.0 / F.col("len_1"))
                    .alias("rouge1_r"),
                    fround(2.0 * F.col("overlap")
                           / (F.col("len_1") + F.col("len_2")))
                    .alias("rouge1_f1")))


#: merge budgets evaluated by the vocab-budget curve (0 = characters).
BPE_BUDGETS = (0, 4, 8, 12)


@register(
    "bpe_vocab_budget_eval",
    survey="LLM-text,U1,A6,F9",
    oracle=f"""
    WITH RECURSIVE {{st}},
    bl(b) AS (VALUES {", ".join(f"({b})" for b in BPE_BUDGETS)}),
    mx AS (SELECT MAX(round) AS m FROM st),
    sel AS (
        SELECT bl.b, st.word, st.syms, st.cnt
        FROM bl CROSS JOIN mx
        JOIN st ON st.round = LEAST(bl.b, mx.m)
    )
    SELECT CAST(s.b AS INT) AS merge_budget,
           (SELECT CAST(LEAST(s.b, mx.m) AS BIGINT) FROM mx)
               AS n_merges,
           (SELECT CAST(COUNT(DISTINCT u.sym) AS BIGINT)
            FROM (SELECT unnest(syms) AS sym FROM sel s2
                  WHERE s2.b = s.b) u) AS n_symbol_types,
           CAST(SUM(s.cnt) AS BIGINT) AS corpus_tokens,
           CAST(SUM(s.cnt * len(s.syms)) AS BIGINT) AS corpus_syms,
           {{fert}} AS fertility
    FROM sel s
    GROUP BY s.b
    """.format(
        st=_bpe_st_ctes(),
        fert=fround_sql("SUM(s.cnt * len(s.syms)) * 1e0 / SUM(s.cnt)"),
    ),
)
def bpe_vocab_budget_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCAB-BUDGET curve for the trained BPE tokenizer — the "how
    many merges do I need" read that sizes a tokenizer before
    committing a vocab: for each merge budget in {BPE_BUDGETS}
    (clamped to the merges the corpus actually supports — early stop
    is part of the model), the corpus re-segmented under the FIRST b
    merges, its symbol-type count (the vocab the budget buys),
    symbols-per-word fertility, and total symbol volume (the
    compute/storage axis). The monotone corpus_syms drop against the
    rising n_symbol_types IS the compression/vocab trade-off curve.

    Replay discipline: the per-budget segmentation is the training
    trajectory itself — state at round b of the SAME greedy fold the
    trainer ran (`_bpe_fold`, read from the persisted merge artifact,
    never retrained), which the oracle replays via the shared
    recursive training CTE's round-b rows. All metrics are integer
    counts; the single float is the final fround fertility.

    Plan: one corpus scan into the word-frequency table, then
    vocabulary-sized folds (≤ {max(BPE_BUDGETS)} narrow maps over
    ~|vocab| rows) with stats at each budget checkpoint — at 100 TB
    the corpus is touched once; everything else is vocab-sized."""
    merges, _ = ensure_bpe_artifacts(spark, sf_dir)
    t = load_tables(spark, sf_dir, ("documents",))
    chars = F.expr("transform(sequence(1, length(word)), "
                   "i -> substr(word, i, 1))")
    seg = (spread(t["documents"], "doc_id")
           .select(F.explode(_tokens()).alias("word"))
           .groupBy("word").agg(F.count("*").alias("cnt"))
           .select("word", chars.alias("syms"), "cnt")
           .localCheckpoint(eager=False))
    applied = 0
    stats = []
    for bgt in BPE_BUDGETS:
        while applied < min(bgt, len(merges)):
            a, b = merges[applied][1], merges[applied][2]
            seg = seg.select("word", _bpe_fold(a, b).alias("syms"),
                             "cnt").localCheckpoint(eager=False)
            applied += 1
        core = seg.agg(
            F.sum("cnt").cast("long").alias("corpus_tokens"),
            F.sum(F.col("cnt") * F.size("syms")).cast("long")
            .alias("corpus_syms"),
            fround(F.sum(F.col("cnt") * F.size("syms")) * 1.0
                   / F.sum("cnt")).alias("fertility"))
        types = (seg.select(F.explode("syms").alias("sym"))
                 .agg(F.countDistinct("sym").cast("long")
                      .alias("n_symbol_types")))
        stats.append(
            core.crossJoin(F.broadcast(types))
            .select(F.lit(bgt).cast("int").alias("merge_budget"),
                    F.lit(min(bgt, len(merges))).cast("long")
                    .alias("n_merges"),
                    "n_symbol_types", "corpus_tokens", "corpus_syms",
                    "fertility"))
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


# ---------------------------------------------------------------------------
# distinct-n diversity — the repetitiveness metric for generated corpora
# ---------------------------------------------------------------------------

#: n-gram orders profiled by the diversity report.
DIVERSITY_ORDERS = (1, 2, 3)


def _distinct_n_oracle() -> str:
    parts = []
    for n in DIVERSITY_ORDERS:
        gram = ("t[g.i]" if n == 1
                else f"array_to_string(t[g.i : g.i + {n - 1}], ' ')")
        parts.append(f"""
    SELECT source, CAST({n} AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS total_ngrams,
           CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
           FLOOR(COUNT(DISTINCT gram) * 1e0 / COUNT(*) * 1e6 + 0.5)
               / 1e6 AS distinct_ratio
    FROM (
        SELECT d.source, {gram} AS gram
        FROM (SELECT source, string_split(text, ' ') AS t
              FROM documents) d,
        LATERAL (SELECT unnest(generate_series(1, len(t) - {n - 1}))
                 AS i) g
        WHERE len(t) >= {n}
    ) go GROUP BY source""")
    return " UNION ALL ".join(parts)


@register(
    "distinct_ngram_diversity",
    survey="ext-quality,A2,A6,D3,F9",
    oracle=_distinct_n_oracle(),
)
def distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT-n diversity per source (Li et al. 2016): the share of
    n-gram TOKENS that are distinct TYPES, for n ∈ {1,2,3} — the
    standard repetitiveness gauge for generated/synthetic corpora
    (mode-collapsed sources score low) and the aggregate twin of the
    per-document signals in `gopher_repetition_signals` (which flag
    individual docs; this ranks whole sources for mix decisions).
    Complements `heaps_law_fit` (type GROWTH curve) and
    `ngram_novelty_profile` (first-occurrence order): distinct-n is
    the order-free, single-number summary mix policies threshold on.

    Exactness: counts are integers; the ratio is one divide snapped
    to the 1e-6 grid. Plan: per order, explode→(source, gram) →
    one map-combinable count + one distinct-aggregate — the distinct
    runs (source, gram)-keyed, so it is a two-stage hash aggregate
    with no skew beyond the source key; the three orders union. A
    doc shorter than n has no n-grams (``textops.ngrams``), as in the
    oracle's empty generate_series."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = F.split("text", " ")
    outs = []
    base = spread(t["documents"], "doc_id") \
        .select("source", toks.alias("tk"))
    for n in DIVERSITY_ORDERS:
        g = base.select("source", F.explode(ngrams("tk", n)).alias("gram"))
        outs.append(g.groupBy("source").agg(
            F.lit(n).cast("long").alias("n"),
            F.count("*").alias("total_ngrams"),
            F.countDistinct("gram").alias("distinct_ngrams"),
            (F.floor(F.countDistinct("gram") * F.lit(1.0)
                     / F.count("*") * F.lit(1e6) + F.lit(0.5))
             / F.lit(1e6)).alias("distinct_ratio"))
            .select("source", "n", "total_ngrams", "distinct_ngrams",
                    "distinct_ratio"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# term burstiness — dispersion of term counts across documents
# ---------------------------------------------------------------------------

#: how many top-frequency terms the burstiness profile reports.
BURST_TOPN = 20


@register(
    "term_burstiness_profile",
    survey="ext-quality,A6,A8,W7,F9",
    oracle=f"""
    WITH tc AS (
        SELECT doc_id, tkn AS term, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tkn
              FROM documents) x
        GROUP BY 1, 2
    ), nd AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
    ), term AS (
        SELECT term,
               CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(c) AS BIGINT) AS cf,
               CAST(SUM(c * c) AS BIGINT) AS sumsq
        FROM tc GROUP BY term
    )
    SELECT term, df, cf,
           FLOOR(cf * 1e0 / n * 1e6 + 0.5) / 1e6 AS mean_rate,
           FLOOR((sumsq * 1e0 / n - (cf * 1e0 / n) * (cf * 1e0 / n))
                 / (cf * 1e0 / n) * 1e6 + 0.5) / 1e6 AS dispersion,
           FLOOR(cf * 1e0 / df * 1e6 + 0.5) / 1e6 AS mean_when_present
    FROM term CROSS JOIN nd
    ORDER BY cf DESC, term
    LIMIT {BURST_TOPN}
    """,
)
def term_burstiness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TERM BURSTINESS (Church & Gale 1995): for the corpus' top
    {BURST_TOPN} terms, the variance-to-mean DISPERSION of per-document
    counts (Poisson terms sit at D≈1; content-bearing terms are
    'bursty' — they arrive in clumps, D≫1) plus the mean count in the
    documents where the term appears. The statistic separates function
    words from topical words WITHOUT a stopword list, which is exactly
    what `tfidf_top_terms` assumes and `quality_score`'s stopword
    ratio hardcodes — and in synthetic-data QA, a generator that
    sprinkles keywords uniformly (D≈1 everywhere) is detectably
    unnatural corpus-statistically.

    Exactness: df/cf/Σc² are integer aggregates (zero-count docs
    contribute 0 to every sum, so the full-corpus variance needs only
    the docs containing the term plus the scalar doc count); mean,
    dispersion and mean-when-present are shared-text float
    expressions snapped to 1e-6. Plan: explode → (doc, term) count →
    term-keyed rollup (all map-combinable, Zipf-bounded), one
    broadcast scalar, one TakeOrdered({BURST_TOPN}) — no window."""
    t = load_tables(spark, sf_dir, ("documents",))
    tc = (spread(t["documents"], "doc_id")
          .select("doc_id",
                  F.explode(F.split("text", " ")).alias("term"))
          .groupBy("doc_id", "term").agg(F.count("*").alias("c")))
    nd = t["documents"].agg(F.count("*").alias("n"))
    term = (tc.groupBy("term")
            .agg(F.count("*").alias("df"),
                 F.sum("c").alias("cf"),
                 F.sum(F.col("c") * F.col("c")).alias("sumsq")))
    g6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    m = F.col("cf") * F.lit(1.0) / F.col("n")
    return (term.crossJoin(F.broadcast(nd))
            .select("term",
                    F.col("df").cast("long").alias("df"),
                    F.col("cf").cast("long").alias("cf"),
                    g6(m).alias("mean_rate"),
                    g6((F.col("sumsq") * F.lit(1.0) / F.col("n")
                        - m * m) / m).alias("dispersion"),
                    g6(F.col("cf") * F.lit(1.0) / F.col("df"))
                    .alias("mean_when_present"))
            .orderBy(F.col("cf").desc(), "term")
            .limit(BURST_TOPN))


# ---------------------------------------------------------------------------
# source-level similarity matrix — which corpus slices duplicate effort
# ---------------------------------------------------------------------------


@register(
    "source_similarity_matrix",
    survey="ext-quality,A6,J1,F10",
    oracle="""
    WITH tc AS (
        SELECT source, array_to_string(t[g.i : g.i + 2], ' ') AS term,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT source, string_split(text, ' ') AS t
              FROM documents) d,
        LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g
        WHERE len(t) >= 3
        GROUP BY 1, 2
    ), ns AS (
        SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n FROM tc
    ), dfs AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tc GROUP BY 1
    ), w AS (
        SELECT tc.source, tc.term,
               FLOOR(LN(1e0 + tc.c) * LN(ns.n * 1e0 / dfs.df)
                     * 1e6 + 0.5) / 1e6 AS w
        FROM tc JOIN dfs ON dfs.term = tc.term CROSS JOIN ns
        WHERE dfs.df < ns.n
    ), norms AS (
        SELECT source,
               CAST(SUM(CAST(ROUND(w * w, 9) AS DECIMAL(25,9)))
                    AS DOUBLE) AS nrm
        FROM w GROUP BY 1
    ), dots AS (
        SELECT a.source AS source_1, b.source AS source_2,
               CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
               CAST(SUM(CAST(ROUND(a.w * b.w, 9) AS DECIMAL(25,9)))
                    AS DOUBLE) AS dot
        FROM w a JOIN w b
          ON a.term = b.term AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT d.source_1, d.source_2, d.n_shared_terms,
           FLOOR(d.dot / (SQRT(na.nrm) * SQRT(nb.nrm)) * 1e6 + 0.5)
               / 1e6 AS cosine
    FROM dots d
    JOIN norms na ON na.source = d.source_1
    JOIN norms nb ON nb.source = d.source_2
    """,
)
def source_similarity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE-level tf-idf cosine matrix — which corpus slices cover
    the same ground: each source becomes a log-tf·idf vector over the
    TRIGRAM type space (unigrams saturate — on this corpus every word
    reaches every source, so a word-grain source-idf zeroes out; the
    ~16-27k trigram types stay discriminative at every SF), with idf
    at SOURCE grain so any gram present in all sources gets weight
    exactly 0 and drops out, and every source pair gets a cosine. The corpus-mix diagnostic upstream of `corpus_mix` /
    `domain_mix_kl_report`: two sources with cosine ≈ 1 are buying
    the same distribution twice, and the dedup budget
    (`cross_source_chunk_duplication`) should go to exactly those
    pairs first.

    Exactness: counts/df integer; each weight is two LNs of integer
    ratios in one shared text, snapped to 1e-6; pairwise products
    snap to 1e-9 and DECIMAL-sum (order-free); the final cosine is
    one shared divide-of-sqrts, snapped. Plan: (source, term) counts
    are map-combinable and Zipf-bounded; the pair dot-products come
    from a TERM-KEYED self-join (fan-out Σ_t sources(t)² ≤ vocab·s²,
    never docs²) — the same blocking argument as the prefix-filter
    joins; norms and the final matrix are |sources|-bounded."""
    t = load_tables(spark, sf_dir, ("documents",))
    tc = (spread(t["documents"], "doc_id")
          .select("source", F.split("text", " ").alias("tk"))
          .select("source", F.explode(ngrams("tk", 3)).alias("term"))
          .groupBy("source", "term").agg(F.count("*").alias("c")))
    ns = tc.agg(F.countDistinct("source").alias("n"))
    dfs = tc.groupBy("term").agg(F.count("*").alias("df"))
    g6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    w = (tc.join(dfs, "term")
         .crossJoin(F.broadcast(ns))
         .filter(F.col("df") < F.col("n"))
         .select("source", "term",
                 g6(F.log(F.lit(1.0) + F.col("c"))
                    * F.log(F.col("n") * F.lit(1.0) / F.col("df")))
                 .alias("w"))
         .localCheckpoint(eager=False))  # vocab-bounded, reused 3x
    r9 = lambda c: F.round(c, 9).cast("decimal(25,9)")  # noqa: E731
    norms = (w.groupBy("source")
             .agg(F.sum(r9(F.col("w") * F.col("w"))).cast("double")
                  .alias("nrm")))
    a, b = w.alias("a"), w.alias("b")
    dots = (a.join(b, (F.col("a.term") == F.col("b.term"))
                   & (F.col("a.source") < F.col("b.source")))
            .groupBy(F.col("a.source").alias("source_1"),
                     F.col("b.source").alias("source_2"))
            .agg(F.count("*").alias("n_shared_terms"),
                 F.sum(r9(F.col("a.w") * F.col("b.w"))).cast("double")
                 .alias("dot")))
    na = norms.withColumnRenamed("source", "source_1") \
        .withColumnRenamed("nrm", "na")
    nb = norms.withColumnRenamed("source", "source_2") \
        .withColumnRenamed("nrm", "nb")
    return (dots.join(F.broadcast(na), "source_1")
            .join(F.broadcast(nb), "source_2")
            .select("source_1", "source_2", "n_shared_terms",
                    g6(F.col("dot")
                       / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))))
                    .alias("cosine")))


# ---------------------------------------------------------------------------
# unigram-LM seed vocabulary — the SentencePiece counterpart to BPE
# ---------------------------------------------------------------------------

#: candidate substring lengths and the seed-vocab size reported.
UVS_MIN_LEN, UVS_MAX_LEN = 2, 4
UVS_TOPK = 30


def _uvs_oracle() -> str:
    parts = []
    for ln in range(UVS_MIN_LEN, UVS_MAX_LEN + 1):
        parts.append(f"""
        SELECT substr(w, g.i, {ln}) AS piece,
               CAST({ln} AS BIGINT) AS piece_len, c
        FROM wc, LATERAL (SELECT unnest(generate_series(1,
                          len(w) - {ln - 1})) AS i) g
        WHERE len(w) >= {ln}""")
    return f"""
    WITH wc AS (
        SELECT tkn AS w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS tkn
              FROM documents) x
        GROUP BY 1
    ), cand AS ({" UNION ALL ".join(parts)})
    SELECT piece, piece_len,
           CAST(SUM(c) AS BIGINT) AS freq,
           CAST(SUM(c) * piece_len AS BIGINT) AS score
    FROM cand GROUP BY piece, piece_len
    ORDER BY score DESC, piece
    LIMIT {UVS_TOPK}
    """


@register(
    "unigram_vocab_seed",
    survey="LLM-token,A6,W7,F1",
    oracle=_uvs_oracle(),
)
def unigram_vocab_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIGRAM-LM tokenizer SEED vocabulary (Kudo 2018, the
    SentencePiece algorithm's step 0 — the other major tokenizer
    family next to the BPE lifecycle already in the registry): harvest
    every within-word substring of length {UVS_MIN_LEN}–{UVS_MAX_LEN},
    score each candidate by frequency × length (the bytes-covered
    heuristic the seed step ranks with before EM pruning), and keep
    the top {UVS_TOPK}. BPE grows pieces bottom-up by merging; unigram
    starts from this over-complete seed and prunes — which is why a
    corpus-level seed table is the required first artifact.

    Exactness: pure integer counting (substring explosion is weighted
    by word-type counts, so the fan-out is VOCABULARY-sized, never
    corpus-sized — the same Zipf-bounding as the BPE ops); score =
    freq·len is integer; the cut is ORDER BY (score, piece) — total
    order, deterministic. Plan: one token count (map-combinable), a
    ≤3× vocab-sized explode, one piece-keyed aggregate, one
    TakeOrdered — no window, no join."""
    t = load_tables(spark, sf_dir, ("documents",))
    wc = (spread(t["documents"], "doc_id")
          .select(F.explode(F.split("text", " ")).alias("w"))
          .groupBy("w").agg(F.count("*").alias("c")))
    outs = []
    for ln in range(UVS_MIN_LEN, UVS_MAX_LEN + 1):
        pieces = F.expr(
            f"transform(sequence(1, length(w) - {ln - 1}), "
            f"i -> substring(w, i, {ln}))")
        outs.append(wc.filter(F.length("w") >= ln)
                    .select(F.explode(pieces).alias("piece"),
                            F.lit(ln).cast("long").alias("piece_len"),
                            "c"))
    cand = outs[0]
    for o in outs[1:]:
        cand = cand.unionByName(o)
    return (cand.groupBy("piece", "piece_len")
            .agg(F.sum("c").cast("long").alias("freq"),
                 (F.sum("c") * F.col("piece_len")).cast("long")
                 .alias("score"))
            .orderBy(F.col("score").desc(), "piece")
            .limit(UVS_TOPK))
