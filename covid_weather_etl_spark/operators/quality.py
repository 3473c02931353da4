"""Corpus quality-filtering operators (LLM-pipeline extension).

The document-quality stage of a large-scale training-data pipeline,
beyond the basic length/stopword router in operators/text.py: Gopher-
style repetition signals (Rae et al. 2021 §A1.1 — top-token fraction,
duplicate-n-gram fraction, word-shape bounds), PII redaction (the
regex-scrub every public corpus pass runs before training), and a
unigram language-model score (the CCNet-style perplexity proxy —
Wenzek et al. 2020 — with the KenLM stand-in expressed relationally:
corpus term frequencies ARE the model).

Everything here is declarative column algebra — per-document signals
are narrow transforms (zero shuffle); the unigram model adds one
vocabulary-sized aggregate that broadcasts back. All three queries are
oracle-checked against DuckDB list/lambda equivalents.

Reference provenance: the keep/filter routing mirrors the reference's
transform-stage validation router (`etl/transformer.py:35-57` routes
whole files by per-entry predicates); the signals themselves are the
north-star corpus additions (BASELINE.json north_star).

Scale notes (100 TB): repetition signals and redaction stream through
the scan with no state; the unigram vocabulary is Zipf-bounded (≪
corpus) and broadcast; at open-web vocabulary sizes you'd hash terms
to a bounded id space or train the model on a sample — the join shape
is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_weather_etl_spark.functions.numeric import (
    dsum, dsum_sql, fround, fround_sql,
)
from covid_weather_etl_spark.functions.textops import bigram_pairs, ngrams
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables, spread

# Gopher-style routing thresholds, tuned to the synthetic corpus's word
# distribution so both routes are exercised at every SF.
MIN_TOKENS = 20
MAX_TOP_TOKEN_FRAC = 0.12
MAX_DUP_BIGRAM_FRAC = 0.55
MEAN_WORD_LEN_BOUNDS = (2.0, 9.0)


def _toks() -> F.Column:
    return F.split(F.col("text"), " ")


@register(
    "gopher_repetition_signals",
    survey="LLM-quality,P7,F9",
    bench=True,
    oracle=f"""
    SELECT doc_id,
           n_tokens,
           ROUND(top_frac, 6)  AS top_token_frac,
           ROUND(dup_frac, 6)  AS dup_bigram_frac,
           ROUND(mean_wl, 6)   AS mean_word_len,
           CASE WHEN n_tokens >= {MIN_TOKENS}
                 AND top_frac <= {MAX_TOP_TOKEN_FRAC}
                 AND dup_frac <= {MAX_DUP_BIGRAM_FRAC}
                 AND mean_wl
                     BETWEEN {MEAN_WORD_LEN_BOUNDS[0]} AND {MEAN_WORD_LEN_BOUNDS[1]}
                THEN 'keep' ELSE 'filter' END                AS gopher_route
    FROM (
        SELECT doc_id, n_tokens,
               top_cnt * 1.0 / n_tokens                       AS top_frac,
               -- a 0/1-token document has no bigrams: define the dup
               -- fraction as 0 instead of dividing by zero (same guard
               -- as the Spark side)
               CASE WHEN n_bigrams = 0 THEN 0.0
                    ELSE 1.0 - n_dist_bg * 1.0 / n_bigrams END AS dup_frac,
               sum_word_len * 1.0 / n_tokens                  AS mean_wl
        FROM (
            SELECT doc_id,
                   CAST(len(toks) AS INT) AS n_tokens,
                   CAST(list_max(list_transform(list_distinct(toks),
                        x -> len(list_filter(toks, t -> t = x)))) AS INT) AS top_cnt,
                   CAST(len(bgs) AS INT)                AS n_bigrams,
                   CAST(len(list_distinct(bgs)) AS INT) AS n_dist_bg,
                   CAST(list_sum(list_transform(toks, t -> length(t))) AS INT)
                       AS sum_word_len
            FROM (SELECT doc_id, toks,
                         list_transform(range(1, len(toks)),
                                        i -> toks[i] || ' ' || toks[i+1]) AS bgs
                  FROM (SELECT doc_id, string_split(text, ' ') AS toks
                        FROM documents))
        )
    )
    """,
)
def gopher_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule repetition/shape signals per document: most-frequent-
    token fraction, duplicate-bigram fraction, mean word length, and the
    keep/filter route over all three plus a length floor. Entirely
    higher-order array functions over the token array — one narrow pass,
    zero shuffle, no UDFs; the per-row mode is O(distinct·n) on ~100-token
    documents, still cheaper than an explode + groupBy shuffle and
    embarrassingly parallel at corpus scale."""
    t = load_tables(spark, sf_dir, ("documents",))
    # split ONCE into a column: inline split(text) inside the lambdas
    # re-tokenizes the document per element (quadratic in doc length)
    toks = F.col("tk")
    # bigrams as "tok_i tok_{i+1}" strings; 0/1-token documents have
    # none (an empty array, so the sizes below count 0)
    bigrams = F.coalesce(ngrams(toks, 2), F.array().cast("array<string>"))
    top_cnt = F.array_max(F.transform(
        F.array_distinct(toks),
        lambda x: F.size(F.filter(toks, lambda t: t == x))))
    sum_len = F.aggregate(F.transform(toks, lambda t: F.length(t)),
                          F.lit(0), lambda acc, x: acc + x)
    sig = t["documents"].select(
        "doc_id", _toks().alias("tk")).select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        top_cnt.alias("top_cnt"),
        F.size(bigrams).alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).alias("n_dist_bg"),
        sum_len.alias("sum_word_len"),
    )
    top_frac = F.col("top_cnt") * 1.0 / F.col("n_tokens")
    dup_bg = F.when(F.col("n_bigrams") > 0,
                    1.0 - F.col("n_dist_bg") * 1.0 / F.col("n_bigrams")) \
              .otherwise(F.lit(0.0))
    mean_wl = F.col("sum_word_len") * 1.0 / F.col("n_tokens")
    lo, hi = MEAN_WORD_LEN_BOUNDS
    return sig.select(
        "doc_id", "n_tokens",
        F.round(top_frac, 6).alias("top_token_frac"),
        F.round(dup_bg, 6).alias("dup_bigram_frac"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.when((F.col("n_tokens") >= MIN_TOKENS)
               & (top_frac <= MAX_TOP_TOKEN_FRAC)
               & (dup_bg <= MAX_DUP_BIGRAM_FRAC)
               & mean_wl.between(lo, hi), "keep")
         .otherwise("filter").alias("gopher_route"),
    )


# Deterministic synthetic PII derived from doc_id: the driver corpus
# carries no natural PII, so the query plants it identically on both
# engines, then proves the scrubber removes exactly what was planted.
# Regex subset chosen to mean the same thing in Java regex (Spark) and
# RE2 (DuckDB): character classes, +, {n}, alternation — no lookaround.
_EMAIL_RE = "[a-z0-9.]+@[a-z0-9.]+[.][a-z]+"
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
_IP_RE = "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"


@register(
    "pii_redaction",
    survey="LLM-quality,F1,F9",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(aug, '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g'),
             '{_IP_RE}', '<IP>', 'g')                           AS redacted,
           CAST(len(regexp_extract_all(aug, '{_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(aug, '{_PHONE_RE}')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(
                 regexp_replace(aug, '{_PHONE_RE}', '<PHONE>', 'g'),
                 '{_IP_RE}')) AS INT)                               AS n_ips
    FROM (
        SELECT doc_id,
               substr(text, 1, 40)
               || ' contact user' || doc_id || '@mail' || doc_id % 7 || '.com'
               || ' tel ' || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0')
                  || '-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               || ' from 10.' || doc_id % 256 || '.' || doc_id % 256 || '.1'
               AS aug
        FROM documents
    )
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: plant deterministic doc_id-derived email / phone /
    IPv4 strings into each document prefix, then redact them with the
    standard regex cascade and count matches per class. Phones are
    scrubbed before IPs so the dotted-quad pattern can't bite into
    phone fragments — same cascade order on both engines. Narrow
    per-row regexp_replace: streams through the scan at any scale."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = F.col("doc_id")
    aug = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"), d, F.lit("@mail"), d % 7, F.lit(".com"),
        F.lit(" tel "), F.lpad((d % 900 + 100).cast("string"), 3, "0"),
        F.lit("-555-"), F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."), d % 256, F.lit("."), d % 256, F.lit(".1"),
    )
    df = t["documents"].select("doc_id", aug.alias("aug"))
    phone_scrubbed = F.regexp_replace("aug", _PHONE_RE, "<PHONE>")
    return df.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("aug", _EMAIL_RE, "<EMAIL>"),
                _PHONE_RE, "<PHONE>"),
            _IP_RE, "<IP>").alias("redacted"),
        F.size(F.regexp_extract_all("aug", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("aug", F.lit(_PHONE_RE), 0)).alias("n_phones"),
        F.size(F.regexp_extract_all(phone_scrubbed, F.lit(_IP_RE), 0)).alias("n_ips"),
    )


@register(
    "unigram_logprob_score",
    survey="LLM-quality,A6,J1,F9",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    vocab AS (
        SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term
    ),
    totals AS (
        SELECT SUM(cnt) AS n_corpus,
               COUNT(*) AS v_size
        FROM vocab
    ),
    scored AS (
        SELECT tok.doc_id,
               ln((vocab.cnt + 1.0) / (totals.n_corpus + totals.v_size))
                   AS logp
        FROM tok JOIN vocab USING (term) CROSS JOIN totals
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT)            AS n_tokens,
           ROUND(-AVG(logp), 6)             AS avg_neg_logprob,
           CASE WHEN -AVG(logp) <= 6.0 THEN 'keep' ELSE 'filter' END
                                            AS lm_route
    FROM scored
    GROUP BY doc_id
    """,
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document scoring (the CCNet perplexity-proxy filter):
    train add-one-smoothed unigram probabilities on the corpus itself,
    then score each document by mean negative log-probability — high
    scores mark out-of-distribution junk. The vocabulary aggregate is
    Zipf-small and broadcast back onto the token stream; one shuffle on
    (doc_id) for the final mean. AVG's accumulation order is not
    IEEE-deterministic across partitionings, so the score is rounded to
    6dp on both engines (the route threshold sits far from any 6dp
    boundary at every SF)."""
    t = load_tables(spark, sf_dir, ("documents",))
    tok = t["documents"].select(
        "doc_id", F.explode(F.split("text", " ")).alias("term"))
    vocab = tok.groupBy("term").agg(F.count("*").alias("cnt"))
    totals = vocab.agg(F.sum("cnt").alias("n_corpus"),
                       F.count("*").alias("v_size"))
    logp = F.log((F.col("cnt") + 1.0)
                 / (F.col("n_corpus") + F.col("v_size")))
    scored = (tok.join(F.broadcast(vocab), "term")
              .crossJoin(F.broadcast(totals))
              .select("doc_id", logp.alias("logp")))
    neg = -F.avg("logp")
    return (scored.groupBy("doc_id")
            .agg(F.count("*").cast("int").alias("n_tokens"),
                 F.round(neg, 6).alias("avg_neg_logprob"),
                 F.when(neg <= 6.0, "keep").otherwise("filter")
                  .alias("lm_route")))


@register(
    "bigram_logprob_score",
    survey="LLM-quality,A6,J1,F9",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    bg AS (
        SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS prefix
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i+1])) AS bigram
              FROM tok WHERE len(toks) >= 2)
    ),
    bgc AS (SELECT bigram, COUNT(*) AS cbg FROM bg GROUP BY 1),
    pfc AS (SELECT prefix, COUNT(*) AS cpf FROM bg GROUP BY 1),
    voc AS (
        SELECT COUNT(DISTINCT tkn) AS v
        FROM (SELECT unnest(toks) AS tkn FROM tok)
    ),
    scored AS (
        SELECT bg.doc_id,
               ln((bgc.cbg + 1.0) / (pfc.cpf + voc.v)) AS logp
        FROM bg JOIN bgc USING (bigram) JOIN pfc USING (prefix)
        CROSS JOIN voc
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT)  AS n_bigrams,
           ROUND(-AVG(logp), 6)   AS avg_neg_logprob,
           CASE WHEN -AVG(logp) <= 3.45 THEN 'keep' ELSE 'filter' END
                                  AS lm_route
    FROM scored GROUP BY doc_id
    """,
)
def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document scoring — the order-2 upgrade of
    unigram_logprob_score (one step closer to CCNet's KenLM 5-gram):
    P(v|u) = (c(uv)+1) / (c(u·)+V), add-one smoothed, trained on the
    corpus itself; documents scored by mean negative log-probability
    over their bigrams (docs under 2 tokens have no bigrams and are
    excluded on both engines). Shape: one narrow bigram explode, two
    Zipf-bounded count aggregates broadcast back onto the bigram
    stream, one (doc_id) shuffle for the mean. At open-web scale the
    bigram vocabulary outgrows broadcast — hash bigrams to a bounded
    id space or count-min them; the join shape is unchanged. AVG is
    rounded to 6dp on both engines (threshold far from any 6dp
    boundary at every SF)."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = F.split("text", " ")
    # bigrams over a pre-split tk column (inline split re-tokenizes
    # the document per element)
    bg = (spread(t["documents"], "doc_id")
          .select("doc_id", toks.alias("tk"))
          .select("doc_id", F.explode(ngrams("tk", 2)).alias("bigram"))
          .withColumn("prefix", F.split("bigram", " ")[0]))
    # checkpointed: the bigram-vocabulary frame (Zipf-bounded,
    # model-sized) is used twice — broadcast into the scoring join AND
    # folded into the prefix counts below; without it each use re-runs
    # the corpus-sized explode+aggregate. A local checkpoint, not
    # .cache(): the returned plan would pin a cache entry nobody frees.
    bgc = (bg.groupBy("bigram").agg(F.count("*").alias("cbg"))
           .localCheckpoint(eager=False))
    # prefix counts FOLD OUT of the bigram counts (Σ over bigrams that
    # share a prefix) — aggregating the vocabulary-sized bgc instead of
    # re-running the corpus-sized explode a second time
    pfc = (bgc.groupBy(F.split("bigram", " ")[0].alias("prefix"))
           .agg(F.sum("cbg").alias("cpf")))
    voc = (t["documents"]
           .select(F.explode(toks).alias("tkn"))
           .agg(F.countDistinct("tkn").alias("v")))
    logp = F.log((F.col("cbg") + 1.0) / (F.col("cpf") + F.col("v")))
    scored = (bg.join(F.broadcast(bgc), "bigram")
              .join(F.broadcast(pfc), "prefix")
              .crossJoin(F.broadcast(voc))
              .select("doc_id", logp.alias("logp")))
    neg = -F.avg("logp")
    return (scored.groupBy("doc_id")
            .agg(F.count("*").cast("int").alias("n_bigrams"),
                 F.round(neg, 6).alias("avg_neg_logprob"),
                 F.when(neg <= 3.45, "keep").otherwise("filter")
                  .alias("lm_route")))


# ---------------------------------------------------------------------------
# character-entropy quality signal
# ---------------------------------------------------------------------------

@register(
    "char_entropy_quality",
    survey="ext-quality,A6,F10,P10",
    oracle=f"""
    WITH chars AS (
        SELECT doc_id, n_chars,
               substring(text, CAST(unnest(range(1, length(text) + 1))
                               AS INT), 1) AS ch
        FROM documents
    ), freq AS (
        SELECT doc_id, n_chars, ch, COUNT(*) AS cnt
        FROM chars GROUP BY 1, 2, 3
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
           {fround_sql("-" + dsum_sql("(cnt / CAST(n_chars AS DOUBLE))"
                                      " * log2(cnt / CAST(n_chars AS DOUBLE))",
                                      "decimal(25,12)"))}
               AS char_entropy_bits
    FROM freq
    GROUP BY doc_id, n_chars
    """,
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy in bits — the
    cheap degenerate-text detector every pretraining filter stack
    carries: boilerplate, repeated-character spam, and base64 blobs
    all sit far from natural text's ~4.0-4.5 bits/char, so a band
    filter on this one number removes whole failure classes before
    any model-based scoring. (Quality signals beyond the reference's
    scope; complements `gopher_repetition_signals`' token-level view
    with a sub-token one.)

    Plan: explode the text into single characters (JVM-side
    `split`), count per (doc, char), then fold -Σp·log2(p) in a
    second doc-keyed aggregate. Each p·log2(p) term is one
    deterministic IEEE expression; terms accumulate as
    DECIMAL(25,12) — ~dozens of distinct-char terms per doc would
    otherwise sum in partition order and diverge engines at the
    1e-15 level — and the final value is fround-rounded onto the
    1e-6 grid.

    Scale: two shuffles, both on keys whose cardinality grows with
    the corpus ((doc,char) then doc) — no hot key, no driver-side
    work, no UDF. The char explosion is |total characters| rows of a
    3-column projection; at 100 TB that is exactly the corpus size
    again, the same cost class as any tokenizing pass."""
    t = load_tables(spark, sf_dir, ("documents",))
    chars = (t["documents"]
             .select("doc_id", "n_chars",
                     F.explode(F.split("text", "")).alias("ch"))
             .filter(F.col("ch") != ""))
    freq = chars.groupBy("doc_id", "n_chars", "ch").agg(
        F.count("*").alias("cnt"))
    p = F.col("cnt") / F.col("n_chars").cast("double")
    return (freq.groupBy("doc_id", "n_chars")
            .agg(F.count("*").alias("n_distinct_chars"),
                 fround(-dsum(p * F.log2(p), "decimal(25,12)"))
                 .alias("char_entropy_bits"))
            .select("doc_id", "n_distinct_chars", "char_entropy_bits"))


# ---------------------------------------------------------------------------
# weak supervision: labeling-function diagnostics (data-centric AI)
# ---------------------------------------------------------------------------

#: votes are {+1, -1, 0=abstain} for a latent "high-quality document"
#: label; thresholds are INTEGER rules so both engines agree exactly.
LF_LONG_POS = 50    #: lf_length: +1 at >= LONG_POS tokens
LF_LONG_NEG = 25    #: lf_length: -1 below LONG_NEG tokens
LF_REP_NEG = 5      #: lf_repetition: -1 when top_cnt * 5 > n_tok
LF_REP_POS = 9      #: lf_repetition: +1 when top_cnt * 9 <= n_tok
LF_KEYWORD = "spark"  #: lf_keyword: +1 when the token appears


@register(
    "labeling_function_report",
    survey="ext-quality,A1,A3,A6,F8",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS tk,
               len(string_split(text, ' ')) AS n_tok
        FROM documents
    ), tcnt AS (
        SELECT doc_id, MAX(c) AS top_cnt FROM (
            SELECT doc_id, tok, COUNT(*) AS c
            FROM (SELECT doc_id, UNNEST(tk) AS tok FROM base) x
            GROUP BY 1, 2) y
        GROUP BY 1
    ), votes AS (
        SELECT b.doc_id,
               CASE WHEN b.n_tok >= {LF_LONG_POS} THEN 1
                    WHEN b.n_tok < {LF_LONG_NEG} THEN -1
                    ELSE 0 END AS lf_length,
               CASE WHEN t.top_cnt * {LF_REP_NEG} > b.n_tok THEN -1
                    WHEN t.top_cnt * {LF_REP_POS} <= b.n_tok THEN 1
                    ELSE 0 END AS lf_repetition,
               CASE WHEN list_contains(b.tk, '{LF_KEYWORD}') THEN 1
                    ELSE 0 END AS lf_keyword
        FROM base b JOIN tcnt t ON t.doc_id = b.doc_id
    ), long_votes AS (
        SELECT doc_id, 'lf_length' AS rule, lf_length AS v,
               lf_repetition AS o1, lf_keyword AS o2 FROM votes
        UNION ALL
        SELECT doc_id, 'lf_repetition', lf_repetition,
               lf_length, lf_keyword FROM votes
        UNION ALL
        SELECT doc_id, 'lf_keyword', lf_keyword,
               lf_length, lf_repetition FROM votes
    ), tot AS (SELECT COUNT(*) AS n_docs FROM votes)
    SELECT rule,
           CAST(SUM(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_labeled,
           CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
           CAST(SUM(CASE WHEN v = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_neg,
           CAST(SUM(CASE WHEN v <> 0 AND (o1 <> 0 OR o2 <> 0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
           CAST(SUM(CASE WHEN v <> 0 AND (v = -o1 AND o1 <> 0
                                          OR v = -o2 AND o2 <> 0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_conflict,
           CAST(SUM(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT)
               * 1e0 / t.n_docs AS coverage
    FROM long_votes CROSS JOIN tot t
    GROUP BY rule, t.n_docs
    """,
)
def labeling_function_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snorkel-style labeling-function diagnostics — the report a
    weak-supervision pipeline reads before training a label model:
    per rule, how much of the corpus it labels (coverage), how often
    it fires alongside another rule (overlap), and how often it
    DISAGREES with another non-abstaining rule (conflict — the signal
    that a rule is noisy or the latent label is ambiguous). Three
    rules vote +1/-1/0 (abstain) on a latent "high-quality document" label:
    length (>= 50 tokens up / < 25 down), repetition (top-token share
    via integer rules: *5 > n down, *9 <= n up), and a keyword
    indicator.

    All votes and counts are integer arithmetic; coverage is one
    division by the corpus size — the oracle is exact. Plan: one
    token-count aggregate (the only shuffle), per-row vote
    expressions, a 3-way unpivot of (vote, other-votes) triples, and
    one grouped aggregate over 3·N rows; the corpus-size total joins
    as a broadcast literal row. At 100 TB this is the shape of every
    rule-ensemble quality audit: per-row expressions plus one
    map-combinable rollup."""
    t = load_tables(spark, sf_dir, ("documents",))
    base = (spread(t["documents"], "doc_id")
            .select("doc_id", F.split("text", " ").alias("tk"))
            .withColumn("n_tok", F.size("tk")))
    top_cnt = F.array_max(F.transform(
        F.array_distinct(F.col("tk")),
        lambda tok: F.size(F.filter(F.col("tk"), lambda x: x == tok))))
    votes = base.select(
        "doc_id",
        F.when(F.col("n_tok") >= LF_LONG_POS, 1)
         .when(F.col("n_tok") < LF_LONG_NEG, -1)
         .otherwise(0).alias("lf_length"),
        F.when(top_cnt * LF_REP_NEG > F.col("n_tok"), -1)
         .when(top_cnt * LF_REP_POS <= F.col("n_tok"), 1)
         .otherwise(0).alias("lf_repetition"),
        F.when(F.array_contains("tk", LF_KEYWORD), 1)
         .otherwise(0).alias("lf_keyword"),
    ).localCheckpoint(eager=False)

    def row(rule: str, others: tuple[str, str]) -> DataFrame:
        return votes.select(
            F.lit(rule).alias("rule"), F.col(rule).alias("v"),
            F.col(others[0]).alias("o1"), F.col(others[1]).alias("o2"))

    lv = (row("lf_length", ("lf_repetition", "lf_keyword"))
          .unionByName(row("lf_repetition", ("lf_length", "lf_keyword")))
          .unionByName(row("lf_keyword", ("lf_length", "lf_repetition"))))
    labeled = (F.col("v") != 0).cast("long")
    return (lv.crossJoin(F.broadcast(
                votes.agg(F.count("*").alias("n_docs"))))
            .groupBy("rule", "n_docs")
            .agg(F.sum(labeled).alias("n_labeled"),
                 F.sum((F.col("v") == 1).cast("long")).alias("n_pos"),
                 F.sum((F.col("v") == -1).cast("long")).alias("n_neg"),
                 F.sum(((F.col("v") != 0)
                        & ((F.col("o1") != 0) | (F.col("o2") != 0)))
                       .cast("long")).alias("n_overlap"),
                 F.sum(((F.col("v") != 0)
                        & (((F.col("v") == -F.col("o1"))
                            & (F.col("o1") != 0))
                           | ((F.col("v") == -F.col("o2"))
                              & (F.col("o2") != 0))))
                       .cast("long")).alias("n_conflict"))
            .select("rule", "n_labeled", "n_pos", "n_neg",
                    "n_overlap", "n_conflict",
                    (F.col("n_labeled") * F.lit(1.0) / F.col("n_docs"))
                    .alias("coverage"))
            .orderBy("rule"))


#: held-out split for the perplexity eval (~20% eval docs by md5 —
#: the incremental-ingest convention).
PPLX_EVAL_CUT = "cc"
#: mean negative log-probability on the 1e-6 grid; perplexity is
#: EXP of this snapped value, snapped again (both bigram evals).
_AVG_NEG_LP_SQL = fround_sql("-CAST(SUM(k * lp) AS DOUBLE) / SUM(k)")


@register(
    "ngram_perplexity_eval",
    survey="ext-quality,A5,A6,F10,U5",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, source, string_split(text, ' ') AS t,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                   >= '{PPLX_EVAL_CUT}' AS is_eval
        FROM documents
    ),
    big AS (
        SELECT doc_id, source, is_eval,
               t[i] AS w1, t[i+1] AS w2
        FROM docs, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
    ),
    c12 AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        FROM big WHERE NOT is_eval GROUP BY w1, w2
    ),
    c1 AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1
    ),
    vv AS (
        SELECT CAST(COUNT(DISTINCT tkn) + 1 AS BIGINT) AS v
        FROM (SELECT unnest(t) AS tkn FROM docs WHERE NOT is_eval)
    ),
    ev AS (
        SELECT source, w1, w2, CAST(COUNT(*) AS BIGINT) AS k
        FROM big WHERE is_eval GROUP BY source, w1, w2
    ),
    terms AS (
        SELECT e.source, e.k,
               -- not the kernel: k-weighted, summed as SUM(k * lp)
               CAST({fround_sql("LN((COALESCE(c12.c12, 0) + 1e0)"
                                " / (COALESCE(c1.c1, 0) + vv.v))")}
                    AS DECIMAL(25,6)) AS lp
        FROM ev e
        LEFT JOIN c12 ON c12.w1 = e.w1 AND c12.w2 = e.w2
        LEFT JOIN c1 ON c1.w1 = e.w1
        CROSS JOIN vv
    )
    SELECT source,
           CAST(SUM(k) AS BIGINT) AS n_eval_bigrams,
           {_AVG_NEG_LP_SQL} AS avg_neg_logprob,
           {fround_sql(f"EXP({_AVG_NEG_LP_SQL})")} AS perplexity
    FROM terms GROUP BY source
    """,
)
def ngram_perplexity_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT perplexity of the bigram LM per source — the CCNet
    quality-filter primitive with the evaluation done properly:
    unigram/bigram_logprob_score train on the corpus they score (fine
    for relative ranking); this op trains add-one-smoothed bigrams on
    the ~80% md5 train split and measures GENERALIZATION on the
    held-out 20%, per source — the number that says which slice of
    the mix a perplexity filter can trust, and the shape every KenLM
    quality pipeline runs (train on clean, filter by held-out ppl).
    Unseen eval bigrams/contexts fall back to the smoothed floor
    ((0+1)/(0+V)) via left joins — the OOV path is part of the
    measurement, not an error.

    Exactness: one LN per distinct eval bigram TYPE (vocab-bounded),
    snapped to the 1e-6 grid immediately (PARITY §4 contract),
    k-weighted DECIMAL accumulation (§3a), one divide, and one EXP of
    the already-snapped average (snapped again) for the perplexity.
    Plan: train counts are map-combinable Zipf-bounded aggregates;
    eval types join them hash-keyed; nothing corpus².
    """
    t = load_tables(spark, sf_dir, ("documents",))
    is_eval = (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
               >= PPLX_EVAL_CUT)
    toks = F.split("text", " ")
    big = (spread(t["documents"], "doc_id")
           .select("doc_id", "source", is_eval.alias("is_eval"),
                   toks.alias("tk"))
           .select("doc_id", "source", "is_eval",
                   F.explode(bigram_pairs("tk")).alias("b"))
           .select("doc_id", "source", "is_eval",
                   F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")))
    c12 = (big.filter(~F.col("is_eval"))
           .groupBy("w1", "w2").agg(F.count("*").alias("c12")))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vv = (t["documents"].filter(~is_eval)
          .select(F.explode(toks).alias("tkn"))
          .agg((F.countDistinct("tkn") + 1).alias("v")))
    ev = (big.filter(F.col("is_eval"))
          .groupBy("source", "w1", "w2").agg(F.count("*").alias("k")))
    # not the kernel: k-weighted, summed as SUM(k * lp)
    lp = fround(F.log((F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1.0))
                      / (F.coalesce(F.col("c1"), F.lit(0))
                         + F.col("v")))) \
        .cast("decimal(25,6)")
    terms = (ev.join(c12, ["w1", "w2"], "left")
             .join(c1, "w1", "left")
             .crossJoin(F.broadcast(vv))
             .select("source", "k", lp.alias("lp")))
    avg_neg = fround(-F.sum(F.col("k") * F.col("lp")).cast("double")
                     / F.sum("k"))
    return (terms.groupBy("source")
            .agg(F.sum("k").cast("long").alias("n_eval_bigrams"),
                 avg_neg.alias("avg_neg_logprob"),
                 fround(F.exp(avg_neg)).alias("perplexity")))


# ---------------------------------------------------------------------------
# Kneser-Ney bigram perplexity — the production smoother, closed form
# ---------------------------------------------------------------------------

#: absolute discount (Kneser-Ney); 3/4 is the published default and an
#: exact binary float, so both engines subtract the identical constant.
KN_DISCOUNT = 0.75


@register(
    "kneser_ney_bigram_eval",
    survey="ext-quality,A2,A6,F10,U5",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, source, string_split(text, ' ') AS t,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                   >= '{PPLX_EVAL_CUT}' AS is_eval
        FROM documents
    ),
    big AS (
        SELECT doc_id, source, is_eval, t[i] AS w1, t[i+1] AS w2
        FROM docs, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
    ),
    c12 AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        FROM big WHERE NOT is_eval GROUP BY w1, w2
    ),
    ctx AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS n1f
        FROM c12 GROUP BY w1
    ),
    bw AS (
        SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b
        FROM c12 GROUP BY w2
    ),
    nbv AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM c12) AS nb,
               (SELECT CAST(COUNT(DISTINCT tkn) + 1 AS BIGINT)
                FROM (SELECT unnest(t) AS tkn FROM docs
                      WHERE NOT is_eval)) AS v
    ),
    ev AS (
        SELECT source, w1, w2, CAST(COUNT(*) AS BIGINT) AS k
        FROM big WHERE is_eval GROUP BY source, w1, w2
    ),
    terms AS (
        SELECT e.source, e.k,
               CASE WHEN ctx.c1 IS NULL THEN 1 ELSE 0 END AS oov_ctx,
               -- not the kernel: k-weighted, summed as SUM(k * lp)
               CAST({fround_sql(
                   "LN(CASE WHEN ctx.c1 IS NULL THEN"
                   " (COALESCE(bw.n1b, 0) + 1e0) / (nbv.nb + nbv.v)"
                   f" ELSE GREATEST(COALESCE(c12.c12, 0) - {KN_DISCOUNT},"
                   " 0e0) / ctx.c1"
                   f" + (({KN_DISCOUNT} * ctx.n1f) / ctx.c1)"
                   " * ((COALESCE(bw.n1b, 0) + 1e0) / (nbv.nb + nbv.v))"
                   " END)")} AS DECIMAL(25,6)) AS lp
        FROM ev e
        LEFT JOIN c12 ON c12.w1 = e.w1 AND c12.w2 = e.w2
        LEFT JOIN ctx ON ctx.w1 = e.w1
        LEFT JOIN bw ON bw.w2 = e.w2
        CROSS JOIN nbv
    )
    SELECT source,
           CAST(SUM(k) AS BIGINT) AS n_eval_bigrams,
           {fround_sql("SUM(k * oov_ctx) * 1e0 / SUM(k)")}
               AS oov_context_share,
           {_AVG_NEG_LP_SQL} AS avg_neg_logprob,
           {fround_sql(f"EXP({_AVG_NEG_LP_SQL})")} AS perplexity
    FROM terms GROUP BY source
    """,
)
def kneser_ney_bigram_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated KNESER-NEY bigram perplexity per source — the
    smoother production LMs (and KenLM, the CCNet filter model) ship,
    next to `ngram_perplexity_eval`'s add-one baseline on the same
    80/20 md5 split: absolute discount D={KN_DISCOUNT} off every seen
    bigram, the freed mass D·N1+(w1·)/c(w1) re-spent on the
    CONTINUATION probability (N1+(·w2)/N1+(··) — how many contexts a
    word completes, not how often it occurs: the estimator that stops
    'Francisco' outranking 'glasses' after unseen contexts), with an
    add-one floor over the vocab so OOV words stay finite. Unseen
    contexts back off to the continuation distribution directly;
    their share is reported (oov_context_share) because a filter
    calibrated on KN scores must know how much of its input rides the
    backoff path. Kneser-Ney is CLOSED-FORM — counts in, probabilities
    out — so unlike iterative fits it graduates to a full hash oracle
    with no replay machinery.

    Exactness: all counts integer; each eval bigram type's probability
    is one shared left-associative float expression over integers (÷
    and × are exactly-rounded IEEE ops — bit-identical on both
    engines), the single LN is snapped to the 1e-6 grid immediately,
    then k-weighted DECIMAL accumulation, one divide, one EXP of the
    snapped average (snapped again). Plan: identical to
    ngram_perplexity_eval — Zipf-bounded train aggregates, hash joins
    on eval types, nothing corpus²."""
    t = load_tables(spark, sf_dir, ("documents",))
    is_eval = (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
               >= PPLX_EVAL_CUT)
    toks = F.split("text", " ")
    big = (spread(t["documents"], "doc_id")
           .select("doc_id", "source", is_eval.alias("is_eval"),
                   toks.alias("tk"))
           .select("doc_id", "source", "is_eval",
                   F.explode(bigram_pairs("tk")).alias("b"))
           .select("doc_id", "source", "is_eval",
                   F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")))
    c12 = (big.filter(~F.col("is_eval"))
           .groupBy("w1", "w2").agg(F.count("*").alias("c12"))
           .localCheckpoint(eager=False))  # feeds ctx, bw, nb + the join
    ctx = (c12.groupBy("w1")
           .agg(F.sum("c12").alias("c1"), F.count("*").alias("n1f")))
    bw = c12.groupBy("w2").agg(F.count("*").alias("n1b"))
    nb = c12.agg(F.count("*").alias("nb"))
    vv = (t["documents"].filter(~is_eval)
          .select(F.explode(toks).alias("tkn"))
          .agg((F.countDistinct("tkn") + 1).alias("v")))
    ev = (big.filter(F.col("is_eval"))
          .groupBy("source", "w1", "w2").agg(F.count("*").alias("k")))
    d = F.lit(KN_DISCOUNT)
    pc = ((F.coalesce(F.col("n1b"), F.lit(0)) + F.lit(1.0))
          / (F.col("nb") + F.col("v")))
    seen = (F.greatest(F.coalesce(F.col("c12"), F.lit(0)) - d, F.lit(0.0))
            / F.col("c1")
            + ((d * F.col("n1f")) / F.col("c1")) * pc)
    p = F.when(F.col("c1").isNull(), pc).otherwise(seen)
    # not the kernel: k-weighted, summed as SUM(k * lp)
    lp = fround(F.log(p)).cast("decimal(25,6)")
    oov = F.when(F.col("c1").isNull(), 1).otherwise(0)
    terms = (ev.join(c12, ["w1", "w2"], "left")
             .join(ctx, "w1", "left")
             .join(bw, "w2", "left")
             .crossJoin(F.broadcast(nb))
             .crossJoin(F.broadcast(vv))
             .select("source", "k", oov.alias("oov_ctx"),
                     lp.alias("lp")))
    avg_neg = fround(-F.sum(F.col("k") * F.col("lp")).cast("double")
                     / F.sum("k"))
    return (terms.groupBy("source")
            .agg(F.sum("k").cast("long").alias("n_eval_bigrams"),
                 fround(F.sum(F.col("k") * F.col("oov_ctx")) * F.lit(1.0)
                        / F.sum("k")).alias("oov_context_share"),
                 avg_neg.alias("avg_neg_logprob"),
                 fround(F.exp(avg_neg)).alias("perplexity")))
