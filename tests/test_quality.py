"""Semantic pins for the corpus quality-filtering pack
(operators/quality.py) beyond the DuckDB parity check: the routes
actually split the corpus, and the scrubber removes every planted PII
string (no pattern survivors in the redacted text).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from covid_weather_etl_spark.operators import quality as Q
from covid_weather_etl_spark.queries.registry import all_queries
from tests.conftest import SF_DIR

QUERIES = all_queries()


def test_gopher_routes_split_corpus(spark):
    df = QUERIES["gopher_repetition_signals"].fn(spark, SF_DIR)
    routes = {r["gopher_route"] for r in df.select("gopher_route").distinct().collect()}
    assert routes == {"keep", "filter"}, routes
    # signals live in their mathematical ranges
    bad = df.filter(
        (F.col("top_token_frac") <= 0) | (F.col("top_token_frac") > 1)
        | (F.col("dup_bigram_frac") < 0) | (F.col("dup_bigram_frac") >= 1)
        | (F.col("mean_word_len") <= 0)).count()
    assert bad == 0


def test_pii_redaction_leaves_no_survivors(spark):
    df = QUERIES["pii_redaction"].fn(spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    email = re.compile(Q._EMAIL_RE)
    phone = re.compile(Q._PHONE_RE)
    ip = re.compile(Q._IP_RE)
    for r in rows:
        assert r["n_emails"] >= 1 and r["n_phones"] >= 1 and r["n_ips"] >= 1, r
        assert not email.search(r["redacted"]), r["redacted"]
        assert not phone.search(r["redacted"]), r["redacted"]
        assert not ip.search(r["redacted"]), r["redacted"]
        assert "<EMAIL>" in r["redacted"] and "<PHONE>" in r["redacted"] \
            and "<IP>" in r["redacted"]


def test_unigram_score_orders_ood_text(spark):
    """A document made of corpus-frequent words must score lower
    (more in-distribution) than the rarest-word documents."""
    df = QUERIES["unigram_logprob_score"].fn(spark, SF_DIR)
    stats = df.agg(F.min("avg_neg_logprob").alias("lo"),
                   F.max("avg_neg_logprob").alias("hi")).collect()[0]
    assert stats["lo"] < stats["hi"]
    # scores are positive (negative log-probs) and finite
    assert df.filter(~F.col("avg_neg_logprob").between(0.001, 50)).count() == 0


def test_labeling_function_report_matches_python(spark):
    """Pure-python replay of all three labeling functions and the
    coverage/overlap/conflict accounting."""
    from collections import Counter

    import pandas as pd

    from covid_weather_etl_spark.operators import quality as Q
    from covid_weather_etl_spark.queries.registry import all_queries

    got = {r["rule"]: r.asDict() for r in
           all_queries()["labeling_function_report"].fn(spark, SF_DIR)
           .collect()}

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    votes = {}
    for r in docs.itertuples():
        tk = r.text.split(" ")
        n, top = len(tk), max(Counter(tk).values())
        votes[r.doc_id] = {
            "lf_length": 1 if n >= Q.LF_LONG_POS
            else (-1 if n < Q.LF_LONG_NEG else 0),
            "lf_repetition": -1 if top * Q.LF_REP_NEG > n
            else (1 if top * Q.LF_REP_POS <= n else 0),
            "lf_keyword": 1 if Q.LF_KEYWORD in tk else 0,
        }
    rules = ("lf_length", "lf_repetition", "lf_keyword")
    for rule in rules:
        others = [x for x in rules if x != rule]
        vs = [(v[rule], v[others[0]], v[others[1]])
              for v in votes.values()]
        want = {
            "rule": rule,
            "n_labeled": sum(1 for v, *_ in vs if v != 0),
            "n_pos": sum(1 for v, *_ in vs if v == 1),
            "n_neg": sum(1 for v, *_ in vs if v == -1),
            "n_overlap": sum(1 for v, a, b in vs
                             if v != 0 and (a != 0 or b != 0)),
            "n_conflict": sum(1 for v, a, b in vs
                              if v != 0 and ((v == -a and a != 0)
                                             or (v == -b and b != 0))),
        }
        want["coverage"] = want["n_labeled"] / len(vs)
        assert got[rule] == want, rule


def test_ngram_perplexity_eval_recount(spark):
    """Held-out perplexity must equal a pure-python recount of the
    add-one bigram LM on the md5 split, on the exact fround grids."""
    import hashlib
    import math
    from collections import Counter, defaultdict

    import pandas as pd

    from covid_weather_etl_spark.operators.quality import PPLX_EVAL_CUT
    from covid_weather_etl_spark.queries.registry import all_queries

    got = {r["source"]: r for r in
           all_queries()["ngram_perplexity_eval"].fn(spark, SF_DIR)
           .collect()}
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    c12: Counter = Counter()
    c1: Counter = Counter()
    vocab = set()
    ev: dict[str, Counter] = defaultdict(Counter)
    for r in docs.itertuples():
        t = r.text.split(" ")
        is_eval = (hashlib.md5(str(r.doc_id).encode()).hexdigest()[:2]
                   >= PPLX_EVAL_CUT)
        bg = list(zip(t, t[1:]))
        if is_eval:
            ev[r.source].update(bg)
        else:
            c12.update(bg)
            vocab.update(t)
    for (w1, _), c in c12.items():
        c1[w1] += c
    v = len(vocab) + 1
    for src, r in got.items():
        num = tot = 0
        for (w1, w2), k in ev[src].items():
            lp = math.log((c12.get((w1, w2), 0) + 1.0)
                          / (c1.get(w1, 0) + v))
            num += k * math.floor(lp * 1e6 + 0.5)
            tot += k
        assert r["n_eval_bigrams"] == tot
        want_avg = math.floor(-num / 1e6 / tot * 1e6 + 0.5) / 1e6
        assert r["avg_neg_logprob"] == want_avg, (src,)
        assert r["perplexity"] == math.floor(
            math.exp(want_avg) * 1e6 + 0.5) / 1e6
        assert r["perplexity"] > 1.0
