"""Tests for the training-corpus preparation operators: independent
python reimplementations (union-find, pandas cumulative packing, hash
membership) pin the semantics the DuckDB oracles also check, plus the
determinism/stratification properties oracles can't express.
"""

from __future__ import annotations

import pytest

import hashlib

import pandas as pd

from covid_weather_etl_spark.operators import corpus as C
from covid_weather_etl_spark.operators.corpus import CDC_MOD
from covid_weather_etl_spark.operators import text as TX
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs_pdf() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_DIR}/documents.parquet")


def _md5_prefix(doc_id: int, n: int) -> str:
    return hashlib.md5(str(doc_id).encode()).hexdigest()[:n]


def test_sample_membership_is_pure_hash_function(spark, docs_pdf):
    got = {r["doc_id"] for r in C.hash_stratified_sample(spark, SF_DIR).collect()}
    want = {d for d in docs_pdf["doc_id"]
            if _md5_prefix(d, 2) < C.SAMPLE_CUT}
    assert got == want
    # ~10% target: md5 buckets put 26/256 ≈ 10.2% below '1a'
    assert 0.04 <= len(got) / len(docs_pdf) <= 0.18


def test_sample_rate_concentrates_per_language(spark, docs_pdf):
    pdf = C.hash_stratified_sample(spark, SF_DIR).toPandas()
    totals = docs_pdf.groupby("lang").size()
    sampled = pdf.groupby("lang").size().reindex(totals.index).fillna(0)
    for lang in totals.index:
        assert sampled[lang] / totals[lang] <= 0.30, lang


def test_sequence_packing_matches_pandas(spark, docs_pdf):
    got = (C.sequence_packing(spark, SF_DIR).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    pdf = docs_pdf.copy()
    pdf["n_tokens"] = pdf["text"].str.split(" ").str.len()
    pdf = pdf.sort_values(["lang", "doc_id"])
    pdf["offset"] = (pdf.groupby("lang")["n_tokens"].cumsum()
                     - pdf["n_tokens"])
    pdf["batch_id"] = pdf["offset"] // C.PACK_BUDGET
    want = (pdf[["doc_id", "lang", "n_tokens", "batch_id"]]
            .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got.astype({"batch_id": "int64", "n_tokens": "int64"}), want)


def test_packing_batches_are_contiguous_and_bounded(spark):
    pdf = C.sequence_packing(spark, SF_DIR).toPandas()
    for (lang, batch), grp in pdf.groupby(["lang", "batch_id"]):
        # a batch overflows the budget only via its last document's tail
        assert grp["n_tokens"].sum() < C.PACK_BUDGET + grp["n_tokens"].max()
    # batch ids per lang are dense from 0
    for lang, grp in pdf.groupby("lang"):
        ids = sorted(grp["batch_id"].unique())
        assert ids == list(range(len(ids)))


def test_contamination_only_flags_test_docs_with_real_overlap(spark):
    got = C.contamination_check(spark, SF_DIR).toPandas()
    assert len(got) > 0                      # the corpus has near-dups
    assert (got["n_shared"] > 0).all()
    assert (got["n_shared"] <= got["n_fps"]).all()
    assert got["doc_id"].apply(
        lambda d: _md5_prefix(d, 1) < C.TEST_CUT).all()
    # brute-force one flagged doc: its shared count equals the overlap
    # of its fingerprints with the union of train fingerprints
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    fps = TX.winnow_fps(docs).toPandas()
    fps["is_test"] = fps["doc_id"].apply(
        lambda d: _md5_prefix(d, 1) < C.TEST_CUT)
    train_fps = set(fps.loc[~fps["is_test"], "fp"])
    probe = got.iloc[0]
    mine = set(fps.loc[fps["doc_id"] == probe["doc_id"], "fp"])
    assert probe["n_fps"] == len(mine)
    assert probe["n_shared"] == len(mine & train_fps)


@pytest.mark.slow
def test_dedup_clusters_match_union_find(spark, docs_pdf):
    pairs = [(r["doc_id_1"], r["doc_id_2"]) for r in
             TX.ngram_jaccard_near_dup(spark, SF_DIR).collect()]
    parent = {int(d): int(d) for d in docs_pdf["doc_id"]}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {d: find(d) for d in parent}
    got = {r["doc_id"]: r["cluster_id"]
           for r in C.dedup_clusters(spark, SF_DIR).collect()}
    assert got == want
    canon = {r["doc_id"]: r["is_canonical"]
             for r in C.dedup_clusters(spark, SF_DIR).collect()}
    for d, c in got.items():
        assert canon[d] == (d == c)


def test_corpus_mix_proportions_and_determinism(spark, docs_pdf):
    a = C.corpus_mix(spark, SF_DIR).toPandas()
    b = C.corpus_mix(spark, SF_DIR).toPandas()
    key = ["doc_id", "grp"]
    pd.testing.assert_frame_equal(
        a.sort_values(key).reset_index(drop=True),
        b.sort_values(key).reset_index(drop=True))
    sizes = a.groupby("grp").size()
    total = sizes.sum()
    for g, w in C.MIX_WEIGHTS.items():
        # floor() rounding puts each family within 1 doc of exact
        assert abs(sizes.get(g, 0) - total * w) <= 1 + total * 0.01, g
    # the binding family is fully consumed up to floor
    grp_of = docs_pdf["source"].str.extract(r"src(\d+)")[0].astype(int) % 3
    n_by_grp = grp_of.map(lambda i: f"g{i}").value_counts()
    cap = min(n_by_grp[g] / w for g, w in C.MIX_WEIGHTS.items())
    for g, w in C.MIX_WEIGHTS.items():
        assert sizes.get(g, 0) == int(cap * w // 1), g


def test_quality_funnel_is_monotone_and_consistent(spark, docs_pdf):
    pdf = (C.quality_filter_funnel(spark, SF_DIR).toPandas()
           .sort_values("stage").reset_index(drop=True))
    assert list(pdf["stage"]) == [1, 2, 3, 4]
    assert pdf.loc[0, "n_in"] == len(docs_pdf)
    # each stage's input is the previous stage's output; counts shrink
    for i in range(1, 4):
        assert pdf.loc[i, "n_in"] == pdf.loc[i - 1, "n_out"]
        assert pdf.loc[i, "n_out"] <= pdf.loc[i, "n_in"]
    # stage-1 survivor count checks against pandas
    assert pdf.loc[0, "n_out"] == int((docs_pdf["n_chars"]
                                       >= C.MIN_CHARS).sum())


@pytest.mark.slow
def test_dsir_weights_favor_target_and_respect_quota(spark, docs_pdf):
    """DSIR invariants the oracle can't express: the target (en) slice
    must score higher on average than the non-target slice (its own
    n-grams define p_target), the selected fraction must sit at the
    quota up to ties, and membership must be a pure function of the
    corpus (rerun-identical)."""
    from covid_weather_etl_spark.queries.registry import all_queries
    q = all_queries()["dsir_importance_weights"]
    got = q.fn(spark, SF_DIR).toPandas().set_index("doc_id").sort_index()
    merged = got.join(docs_pdf.set_index("doc_id")[["lang"]])
    en = merged[merged["lang"] == "en"]["logw"]
    rest = merged[merged["lang"] != "en"]["logw"]
    if len(rest):
        assert en.mean() > rest.mean()
    frac = merged["selected"].mean()
    assert 1 - C.DSIR_CUT_Q - 0.05 <= frac <= 1 - C.DSIR_CUT_Q + 0.05
    # selection = weight above the scalar cutoff: every selected doc
    # outweighs every unselected doc
    assert (merged[merged["selected"] == 1]["logw"].min()
            >= merged[merged["selected"] == 0]["logw"].max())
    again = q.fn(spark, SF_DIR).toPandas().set_index("doc_id").sort_index()
    pd.testing.assert_frame_equal(got, again)


def test_weighted_sample_biases_toward_heavy_weights(spark):
    """A-Res sampling must (a) reproduce the exact numpy selection
    with the same md5 uniforms, and (b) over-represent heavy weights:
    the sampled mean o_totalprice exceeds the population mean."""
    import hashlib
    import math

    import numpy as np

    from covid_weather_etl_spark.operators.corpus import WSAMPLE_K
    from covid_weather_etl_spark.queries.registry import all_queries
    got = all_queries()["weighted_sample_topk"].fn(spark, SF_DIR).toPandas()
    od = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    u = np.array([
        (int(hashlib.md5(f"ws:{k}".encode()).hexdigest()[:13], 16) + 0.5)
        / 2 ** 52 for k in od.o_orderkey])
    key = np.round(np.log(u) / od.o_totalprice.to_numpy() * 1e6, 6)
    order = sorted(zip(-key, od.o_orderkey))[:WSAMPLE_K]
    want = {k for _, k in order}
    assert set(got.o_orderkey) == want
    assert len(got) == WSAMPLE_K
    assert got.o_totalprice.mean() > od.o_totalprice.mean()


def test_er_clusters_match_union_find_over_lev_pairs(spark):
    """ER clusters == union-find over the Levenshtein pair set; the
    canonical name is each cluster's lexicographic minimum."""
    from covid_weather_etl_spark.queries.registry import all_queries
    got = all_queries()["er_name_clusters"].fn(spark, SF_DIR).toPandas()
    pairs = (all_queries()["name_similarity_pairs"].fn(spark, SF_DIR)
             .toPandas())
    parent = {n: n for n in got.name}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.itertuples():
        ra, rb = find(r.name_1), find(r.name_2)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert {r.name: r.cluster_id for r in got.itertuples()} == want
    for r in got.itertuples():
        assert r.is_canonical == (r.name == r.cluster_id)


def test_dedup_keep_longest_survivorship(spark):
    """Exactly one keeper per cluster; the keeper is the longest
    member (tie -> lowest id); clusters match dedup_clusters."""
    from covid_weather_etl_spark.queries.registry import all_queries
    got = all_queries()["dedup_keep_longest"].fn(spark, SF_DIR).toPandas()
    base = all_queries()["dedup_clusters"].fn(spark, SF_DIR).toPandas()
    assert dict(zip(got.doc_id, got.cluster_id)) == \
        dict(zip(base.doc_id, base.cluster_id))
    for cid, g in got.groupby("cluster_id"):
        keepers = g[g.keep]
        assert len(keepers) == 1, cid
        best = g.sort_values(["n_tokens", "doc_id"],
                             ascending=[False, True]).iloc[0]
        assert keepers.iloc[0].doc_id == best.doc_id, cid


def test_token_budget_allocation_water_filling(spark, tmp_path):
    """Planted cohorts with a dominant language: water-filling must
    cap every boosted small cohort at EPOCH_CAP, give the head the
    remaining budget at a uniform fill level, and conserve the budget
    exactly (up to the 6dp grid)."""
    import math

    from covid_weather_etl_spark.operators.corpus import (
        BUDGET_X, EPOCH_CAP)
    from covid_weather_etl_spark.queries.registry import all_queries

    rows = []
    did = 1
    # one big cohort (60 docs x 50 tokens) + two small ones (10 x 50)
    for lang, n in (("en", 60), ("fr", 10), ("de", 10)):
        for _ in range(n):
            rows.append((did, " ".join(f"t{did}w{j}" for j in range(50)),
                         lang, "web"))
            did += 1
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf.text.str.len()
    spark.createDataFrame(pdf).write.parquet(f"{tmp_path}/documents.parquet")

    got = (all_queries()["token_budget_allocation"]
           .fn(spark, str(tmp_path)).toPandas()
           .set_index("lang"))
    total = int(got.avail_tokens.sum())
    budget = math.floor(BUDGET_X * total)
    # temperature boost caps the small cohorts; the head stays under
    assert got.loc["fr", "capped"] == 1 and got.loc["de", "capped"] == 1
    assert got.loc["en", "capped"] == 0
    assert abs(got.loc["fr", "epochs"] - EPOCH_CAP) < 1e-6
    assert got.loc["en", "epochs"] < EPOCH_CAP
    # exact budget conservation on the grid (one rounding per cohort)
    assert abs(got.alloc_tokens.sum() - budget) < len(got) * 1e-6 + 1e-9
    # fill level is uniform and consistent with the uncapped alloc
    lam = got.fill_level.iloc[0]
    assert (got.fill_level == lam).all()
    # fill_level is reported 6dp-rounded while the alloc used the
    # unrounded water level -> reconstruct within half a grid step
    # scaled by the weight
    en_w = got.loc["en", "weight"]
    en_alloc = math.floor(lam * en_w * 1e6 + 0.5) / 1e6
    assert abs(got.loc["en", "alloc_tokens"] - en_alloc) <= en_w * 1e-6


def test_context_packing_stats_planted(spark, tmp_path):
    """Planted cohort with hand-computable packing: 3 docs of 300
    tokens -> 900 total, 2 windows of 512, 124 pad tokens; the middle
    doc straddles the boundary at 512."""
    from covid_weather_etl_spark.queries.registry import all_queries

    rows = []
    for did in (1, 2, 3):
        rows.append((did, " ".join(f"x{did}_{j}" for j in range(300)),
                     "en", "web"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf.text.str.len()
    spark.createDataFrame(pdf).write.parquet(f"{tmp_path}/documents.parquet")

    got = (all_queries()["context_packing_stats"]
           .fn(spark, str(tmp_path)).collect())
    assert len(got) == 1
    r = got[0]
    assert r["n_docs"] == 3 and r["total_tokens"] == 900
    assert r["n_windows"] == 2 and r["pad_tokens"] == 2 * 512 - 900
    # doc 2 occupies [300, 600) -> crosses 512; docs 1 and 3 do not
    # (doc 3 occupies [600, 900), entirely inside window 2)
    assert r["docs_split"] == 1
    assert abs(r["pad_fraction"] - (124 / 1024)) < 1e-6


@pytest.mark.slow
def test_corpus_curation_funnel_matches_python_replay(spark):
    """Independent pure-python replay of all five funnel stages: the
    per-(stage, source) doc and token counts must match exactly, and
    the funnel must be monotonically non-increasing."""
    from collections import Counter

    got = {(r["stage"], r["source"]): (r["n_docs"], r["n_tokens"])
           for r in C.corpus_curation_funnel(spark, SF_DIR).collect()}

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    m, g = TX.DECON_EVAL_MOD, TX.DECON_NGRAM
    train = docs[docs.doc_id % m != 0].copy()
    ev = docs[docs.doc_id % m == 0]
    toks = {int(r.doc_id): r.text.split(" ") for r in train.itertuples()}

    def grams(t, n):
        return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}

    # stage 1: exact dedup (min doc_id per text)
    keep = set(train.groupby("text").doc_id.min())
    s1 = sorted(keep)
    # stage 2: pair-pruned near dedup, 3*|∩| >= |A|+|B|
    sh = {d: grams(toks[d], 3) for d in s1}
    dropped = set()
    for i, d1 in enumerate(s1):
        for d2 in s1[i + 1:]:
            c = len(sh[d1] & sh[d2])
            if 3 * c >= len(sh[d1]) + len(sh[d2]):
                dropped.add(d2)
    s2 = [d for d in s1 if d not in dropped]
    # stage 3: quality gates (integer rules)
    s3 = [d for d in s2
          if len(toks[d]) >= C.FUNNEL_MIN_TOKENS
          and max(Counter(toks[d]).values()) * C.FUNNEL_TOP_SHARE_DEN
          <= len(toks[d])]
    # stage 4: 8-gram decontamination vs the eval slice
    ev_g = set()
    for r in ev.itertuples():
        ev_g |= grams(r.text.split(" "), g)
    s4 = [d for d in s3 if not (grams(toks[d], g) & ev_g)]

    stages = {"0_train": list(toks), "1_exact_dedup": s1,
              "2_near_dedup": s2, "3_quality": s3,
              "4_decontaminated": s4}
    src = {int(r.doc_id): r.source for r in train.itertuples()}
    want = {}
    for label, ids in stages.items():
        per = {}
        for d in ids:
            nd, nt = per.get(src[d], (0, 0))
            per[src[d]] = (nd + 1, nt + len(toks[d]))
        for s, v in per.items():
            want[(label, s)] = v
    assert got == want
    totals = [sum(v[0] for k, v in got.items() if k[0] == lab)
              for lab in sorted(stages)]
    assert totals == sorted(totals, reverse=True)


def test_span_corruption_plan_matches_python_replay(spark):
    """hashlib replay of the deterministic span layout: per-source
    doc/span/masked-token/char totals and the realized mask ratio."""
    got = {r["source"]: r.asDict() for r in
           C.span_corruption_plan(spark, SF_DIR).collect()}

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    b, s = C.CORRUPT_BLOCK, C.CORRUPT_SPAN
    per = {}
    for r in docs.itertuples():
        tk = r.text.split(" ")
        n = len(tk)
        nb = n // b
        if nb < 1:
            continue
        spans = masked = chars = 0
        for i in range(nb):
            off = int(hashlib.md5(f"{r.doc_id}:{i}".encode())
                      .hexdigest()[:15], 16) % (b - s + 1)
            seg = tk[i * b + off: i * b + off + s]
            spans += 1
            masked += len(seg)
            chars += sum(len(t) for t in seg)
        d = per.setdefault(r.source, [0, 0, 0, 0, 0])
        d[0] += 1
        d[1] += spans
        d[2] += masked
        d[3] += chars
        d[4] += n
    for src, (nd, ns, nm, nc, nt) in per.items():
        g = got[src]
        assert (g["n_docs"], g["n_spans"], g["n_masked_tokens"],
                g["n_masked_chars"]) == (nd, ns, nm, nc), src
        assert g["mask_ratio"] == nm * 1.0 / nt, src
    assert set(got) == set(per)


def test_source_interleave_order_matches_python_replay(spark):
    """hashlib replay: within-source md5 shuffle, round-robin formula,
    head-of-order slice; consecutive positions rotate sources."""
    got = [(r["pos"], r["source"], r["doc_id"]) for r in
           C.source_interleave_order(spark, SF_DIR).collect()]

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    srcs = sorted(docs.source.unique())
    s_idx = {s: i for i, s in enumerate(srcs)}
    want = []
    for s, g in docs.groupby("source"):
        order = sorted(g.doc_id,
                       key=lambda d: (hashlib.md5(f"il:{d}".encode())
                                      .hexdigest(), d))
        for r, d in enumerate(order):
            want.append((r * len(srcs) + s_idx[s], s, int(d)))
    want = sorted(want)[:C.INTERLEAVE_HEAD]
    assert got == want
    # the head is perfectly source-balanced in rotation
    seen = [s for _, s, _ in got]
    assert seen[:len(srcs)] == srcs


def test_curation_funnel_short_docs_survive(spark, tmp_path):
    """Docs with <3 tokens (no 3-gram shingles) must flow through the
    near-dup stage unharmed instead of crashing the shingle transform
    (Spark's sequence(0, size-3) goes descending for size<3), and
    must still be counted in every stage they survive on merit."""
    rows = [
        (1, "solo", "en", "web"),                      # 1 token
        (2, "two tokens", "en", "web"),                # 2 tokens
        (3, " ".join(f"w{j}" for j in range(40)), "en", "web"),
        (4, " ".join(f"w{j}" for j in range(40)), "en", "web"),  # exact dup
        (6, " ".join(f"v{j}" for j in range(40)), "en", "web"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf.text.str.len()
    spark.createDataFrame(pdf).write.parquet(f"{tmp_path}/documents.parquet")
    got = {r["stage"]: r["n_docs"]
           for r in C.corpus_curation_funnel(spark, str(tmp_path)).collect()}
    assert got["0_train"] == 5
    assert got["1_exact_dedup"] == 4          # doc 4 deduped
    assert got["2_near_dedup"] == 4           # short docs NOT dropped
    # quality gate drops the two short docs (min-token rule), which is
    # the correct stage for them to exit at
    assert got["3_quality"] == 2


def test_minhash_shingles_short_doc_guard(spark):
    """shingles() must not throw on sub-n-token docs and must emit
    zero shingles for them (they can never be near-dup candidates).
    The kernel it is built on, textops.ngrams, gives NULL for a doc
    shorter than n and the in-order n-grams otherwise, at any n."""
    from pyspark.sql import functions as F

    from covid_weather_etl_spark.functions.textops import ngrams
    from covid_weather_etl_spark.operators.minhash import shingles

    pdf = pd.DataFrame(
        [(1, "a", "en", "web", 1), (2, "a b", "en", "web", 3),
         (3, "a b c d", "en", "web", 7)],
        columns=["doc_id", "text", "lang", "source", "n_chars"])
    out = shingles(spark.createDataFrame(pdf)).collect()
    ids = {r["doc_id"] for r in out}
    assert ids == {3}
    assert {r["token"] for r in out} == {"a b c", "b c d"}

    for n in (3, 8):
        toks = [[f"w{j}" for j in range(k)] for k in (0, 1, n - 1, n, n + 2)]
        df = spark.createDataFrame(list(enumerate(toks)),
                                   "id int, tk array<string>")
        got = {r["id"]: r["g"]
               for r in df.select("id", ngrams("tk", n).alias("g")).collect()}
        for i, tk in enumerate(toks):
            want = ([" ".join(tk[j:j + n]) for j in range(len(tk) - n + 1)]
                    if len(tk) >= n else None)
            assert got[i] == want, (n, len(tk))
        assert df.select(F.explode(ngrams("tk", n))).count() == 1 + 3


#: every query that shingles documents into word n-grams
SHINGLING_QUERIES = (
    "shingle_df_spectrum", "ngram_jaccard_near_dup",
    "prefix_filter_jaccard_join", "containment_near_dup",
    "exact_substring_spans", "benchmark_decontamination",
    "ngram_novelty_profile", "distinct_ngram_diversity",
    "source_similarity_matrix", "minhash_near_dup", "simhash_near_dup",
    "minhash_banding_calibration", "incremental_minhash_ingest",
    "corpus_curation_funnel",
)


@pytest.fixture(scope="module")
def short_doc_corpus(tmp_path_factory):
    """The SF_DIR tables with three short documents planted into
    `documents`: one 1-token doc and a 2-token doc that appears twice
    under different lang/source cohorts. Returns (dir, duckdb conn)."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from covid_weather_etl_spark.sources.catalog import TABLES

    d = tmp_path_factory.mktemp("short_docs")
    docs = pq.read_table(f"{SF_DIR}/documents.parquet")
    pdf = docs.to_pandas()
    top = int(pdf["doc_id"].max())
    l0, s0 = pdf["lang"].iloc[0], pdf["source"].iloc[0]
    other = pdf[(pdf["lang"] != l0) & (pdf["source"] != s0)].iloc[0]
    l1, s1 = other["lang"], other["source"]
    planted = pd.DataFrame(
        [(top + 1, "solo", l0, s0), (top + 2, "two words", l0, s0),
         (top + 3, "two words", l1, s1)],
        columns=["doc_id", "text", "lang", "source"])
    planted["n_chars"] = planted["text"].str.len()
    extra = pa.Table.from_pandas(planted, schema=docs.schema,
                                 preserve_index=False)
    pq.write_table(pa.concat_tables([docs, extra]),
                   f"{d}/documents.parquet")
    con = duckdb.connect()
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{SF_DIR}/{t}.parquet", f"{d}/{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{d}/{t}.parquet')")
    yield str(d), con
    con.close()


@pytest.mark.parametrize("name", SHINGLING_QUERIES)
def test_shingling_queries_match_oracle_with_short_docs(spark,
                                                        short_doc_corpus,
                                                        name):
    """A doc with fewer tokens than the shingle width yields no
    shingles on both engines (DuckDB's generate_series is empty; the
    Spark side goes through textops.ngrams), so every shingling query
    still matches its oracle when such docs are present."""
    from covid_weather_etl_spark.queries.registry import all_queries
    from tests.conftest import assert_parity

    sf_dir, duck = short_doc_corpus
    assert_parity(spark, duck, all_queries()[name], sf_dir=sf_dir)


def test_cdc_chunk_stats_planted_duplicates(spark, tmp_path):
    """Two docs sharing a long token run must dedupe every shared
    chunk except its first occurrence; chunk boundaries must be
    content-defined (identical runs chunk identically regardless of
    position), and totals must conserve tokens."""
    shared = " ".join(f"s{j}" for j in range(64))
    rows = [
        (1, "a0 a1 " + shared, "web"),
        (2, shared + " b0 b1 b2", "web"),     # shifted: CDC realigns
        (3, "c0 c1 c2 c3", "lab"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    pdf["lang"] = "en"
    pdf["n_chars"] = pdf.text.str.len()
    spark.createDataFrame(pdf).write.parquet(f"{tmp_path}/documents.parquet")
    got = {r["source"]: r
           for r in C.cdc_chunk_stats(spark, str(tmp_path)).collect()}
    # token conservation per source
    assert got["web"]["n_tokens"] == (64 + 2) + (64 + 3)
    assert got["lab"]["n_tokens"] == 4
    assert got["lab"]["dup_chunks"] == 0
    # the shared 64-token run yields interior chunks whose boundaries
    # depend only on content -> doc 2's copies of doc 1's interior
    # chunks are duplicates (the leading/trailing chunks differ
    # because of the distinct prefixes/suffixes)
    assert got["web"]["dup_chunks"] >= 1
    assert got["web"]["tokens_savable"] >= 1
    assert 0.0 < got["web"]["savable_share"] < 1.0


def test_domain_mix_kl_planted(spark, tmp_path):
    """A source whose unigram mix equals the global mix has KL 0; a
    disjoint-vocabulary source has KL = ln(total/own) exactly (its p/q
    ratio is the same constant for every token)."""
    import math

    # source A: 30 tokens of vocab {x, y}; source B: 10 tokens {z}
    rows = [
        (1, " ".join(["x"] * 15), "A"),
        (2, " ".join(["y"] * 15), "A"),
        (3, " ".join(["z"] * 10), "B"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    pdf["lang"] = "en"
    pdf["n_chars"] = pdf.text.str.len()
    spark.createDataFrame(pdf).write.parquet(f"{tmp_path}/documents.parquet")
    got = {r["source"]: r
           for r in C.domain_mix_kl_report(spark, str(tmp_path)).collect()}
    assert got["A"]["n_tokens"] == 30 and got["B"]["n_tokens"] == 10
    assert got["A"]["n_distinct_tokens"] == 2
    # B's every token: p = 1, q = 10/40 -> KL = ln(4)
    assert abs(got["B"]["kl_nats"] - math.log(4.0)) < 1e-8
    # A: p(x) = .5 vs q(x) = 15/40 -> KL = ln(4/3)
    assert abs(got["A"]["kl_nats"] - math.log(4.0 / 3.0)) < 1e-8


@pytest.mark.slow
def test_cdc_incremental_ingest_classification(spark, tmp_path):
    """Planted batch/store split (ids chosen on both sides of the md5
    cut): a new doc equal to a stored doc must be fully store-hit
    (zero tokens written); two identical new docs must write only the
    first copy's chunks (batch hits on the second); totals conserve."""
    import hashlib

    from covid_weather_etl_spark.operators.corpus import CDC_INC_CUT

    def is_new(i):
        return hashlib.md5(str(i).encode()).hexdigest()[:2] >= CDC_INC_CUT

    olds = [i for i in range(200) if not is_new(i)]
    news = [i for i in range(200) if is_new(i)]
    assert len(olds) >= 1 and len(news) >= 3
    text_a = " ".join(f"a{j}" for j in range(30))
    text_b = " ".join(f"b{j}" for j in range(30))
    rows = [
        (olds[0], text_a, "en", "web"),   # store holds A's chunks
        (news[0], text_a, "en", "web"),   # new copy of stored doc
        (news[1], text_b, "en", "web"),   # fresh content, first copy
        (news[2], text_b, "en", "web"),   # duplicate within the batch
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf.text.str.len()
    spark.createDataFrame(pdf).write.parquet(f"{tmp_path}/documents.parquet")
    got = {r["doc_id"]: r
           for r in C.cdc_incremental_ingest(spark, str(tmp_path)).collect()}
    assert set(got) == {news[0], news[1], news[2]}
    r0 = got[news[0]]                      # copy of stored doc
    assert r0["hits_store"] == r0["n_chunks"]
    assert r0["tokens_written"] == 0 and r0["dedup_ratio"] == 1.0
    first, second = sorted((news[1], news[2]))
    r1, r2 = got[first], got[second]       # batch-first wins by doc_id
    assert r1["tokens_written"] == r1["n_tokens"] and r1["hits_batch"] == 0
    assert r2["hits_batch"] == r2["n_chunks"]
    assert r2["tokens_written"] == 0 and r2["dedup_ratio"] == 1.0
    for r in got.values():
        assert (r["hits_store"] + r["hits_batch"] + r["chunks_written"]
                == r["n_chunks"])


def test_cross_source_chunk_duplication_recount(spark):
    """Directed containment must match a pure-python CDC replay:
    same md5-mod boundary rule, distinct (source, chunk-hash) sets,
    shared/|A| on the 1e-6 grid; and containment must be in (0, 1]."""
    import hashlib
    import math

    import pandas as pd

    from covid_weather_etl_spark.operators.corpus import CDC_MOD
    from covid_weather_etl_spark.queries.registry import all_queries
    from tests.conftest import SF_DIR

    rows = all_queries()["cross_source_chunk_duplication"] \
        .fn(spark, SF_DIR).collect()
    assert rows
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    sets: dict[str, set] = {}
    for _, r in docs.iterrows():
        toks = r["text"].split(" ")
        chunk, out = [], []
        for tk in toks:
            chunk.append(tk)
            h15 = int(hashlib.md5(tk.encode()).hexdigest()[:15], 16)
            if h15 % CDC_MOD == 0:
                out.append(" ".join(chunk))
                chunk = []
        if chunk:
            out.append(" ".join(chunk))
        sets.setdefault(r["source"], set()).update(
            hashlib.md5(c.encode()).hexdigest() for c in out)
    for r in rows:
        shared = len(sets[r["src_a"]] & sets[r["src_b"]])
        assert r["n_chunks_a"] == len(sets[r["src_a"]])
        assert r["n_shared"] == shared and shared > 0
        want = math.floor(shared / len(sets[r["src_a"]]) * 1e6 + 0.5) / 1e6
        assert r["containment"] == want
        assert 0.0 < r["containment"] <= 1.0


def test_dedup_chain_audit_recount(spark):
    """Cluster audit must match a pure-python recount: union-find over
    the J >= 0.2 shingle pairs, per-cluster edge/violation accounting,
    and density/min/mean on the exact grids."""
    import math
    from collections import defaultdict

    import pandas as pd

    from covid_weather_etl_spark.queries.registry import all_queries
    from tests.conftest import SF_DIR

    rows = {r["cluster_id"]: r for r in
            all_queries()["dedup_chain_audit"].fn(spark, SF_DIR)
            .collect()}
    assert rows
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    sh = {r.doc_id: {" ".join(t[i:i+3])
                     for i in range(len(t) - 2)}
          for r in docs.itertuples()
          for t in [r.text.split(" ")]}
    ids = sorted(sh)
    pairs = {}
    inv = defaultdict(set)
    for d, s in sh.items():
        for g in s:
            inv[g].add(d)
    cand = {(a, b) for g, ds in inv.items()
            for a in ds for b in ds if a < b}
    for a, b in cand:
        inter = len(sh[a] & sh[b])
        j = inter / (len(sh[a]) + len(sh[b]) - inter)
        if j >= 0.2:
            pairs[(a, b)] = j
    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = defaultdict(list)
    for d in ids:
        clusters[find(d)].append(d)
    want = {c: ms for c, ms in clusters.items() if len(ms) >= 2}
    assert set(rows) == set(want)
    for c, ms in want.items():
        r = rows[c]
        n = len(ms)
        edges = [(a, b) for (a, b) in pairs if find(a) == c]
        assert r["n_members"] == n
        assert r["n_pairs"] == n * (n - 1) // 2
        assert r["n_edges"] == len(edges)
        assert r["chain_violations"] == n * (n - 1) // 2 - len(edges)
        j6 = [math.floor(pairs[e] * 1e6 + 0.5) for e in edges]
        assert r["min_edge_jaccard"] == min(j6) / 1e6
        assert r["mean_edge_jaccard"] == math.floor(
            sum(j6) / 1e6 / len(j6) * 1e6 + 0.5) / 1e6
        assert 0.0 < r["density"] <= 1.0


def test_bucketing_efficiency_recount_and_monotone(spark):
    """Waste must match a python replay of the (lang, bucket) batch
    formation, and tighter buckets must never pad more."""
    import math
    from collections import defaultdict

    import pandas as pd

    from covid_weather_etl_spark.operators.corpus import (
        BKT_BATCH, BKT_WIDTHS)
    from covid_weather_etl_spark.queries.registry import all_queries
    from tests.conftest import SF_DIR

    rows = {r["bucket_width"]: r for r in
            all_queries()["bucketing_efficiency_eval"].fn(spark, SF_DIR)
            .collect()}
    assert set(rows) == set(BKT_WIDTHS)
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    lens = [(r.doc_id, r.lang, len(r.text.split(" ")))
            for r in docs.itertuples()]
    for w in BKT_WIDTHS:
        groups = defaultdict(list)
        for doc_id, lang, n in sorted(lens):
            groups[(lang, 0 if w == 0 else n // w)].append(n)
        padded = real = batches = 0
        for ns in groups.values():
            for i in range(0, len(ns), BKT_BATCH):
                b = ns[i:i + BKT_BATCH]
                padded += max(b) * len(b)
                real += sum(b)
                batches += 1
        r = rows[w]
        assert r["n_batches"] == batches
        assert r["real_tokens"] == real
        assert r["padded_tokens"] == padded
        assert r["waste_ratio"] == math.floor(
            (1.0 - real / padded) * 1e6 + 0.5) / 1e6
    assert (rows[16]["padded_tokens"] <= rows[64]["padded_tokens"]
            <= rows[0]["padded_tokens"])


@pytest.mark.slow
def test_incremental_dedup_clusters_equals_full_rebuild(spark):
    """The incremental path (old label star + batch-incident edges)
    must produce EXACTLY the labels of the full-rebuild twin, and the
    md5 batch split must actually split."""
    import hashlib

    from covid_weather_etl_spark.operators.corpus import ICC_INC_CUT
    from covid_weather_etl_spark.queries.registry import all_queries
    from tests.conftest import SF_DIR

    inc = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
           for r in all_queries()["incremental_dedup_clusters"]
           .fn(spark, SF_DIR).collect()}
    full = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
            for r in all_queries()["dedup_clusters_star"]
            .fn(spark, SF_DIR).collect()}
    assert inc == full
    n_new = sum(
        1 for d in inc
        if hashlib.md5(str(d).encode()).hexdigest()[:2] >= ICC_INC_CUT)
    assert 0 < n_new < len(inc)


@pytest.mark.slow
def test_cc_single_task_equals_star_components(spark, monkeypatch):
    """The single-task union-find kernel (the batch-merge fast path in
    incremental_dedup_clusters) must return EXACTLY star_components'
    (node, lbl) rows — same component minima, same canonical-node
    omission — on a graph with chains, a star, a cycle, singleton
    absence, and out-of-order edge arrival."""
    from covid_weather_etl_spark.functions import driver
    from covid_weather_etl_spark.operators.corpus import (
        cc_single_task, star_components)

    edges = [(5, 9), (1, 5), (9, 12),          # chain merged out of order
             (20, 21), (20, 22), (20, 23),     # star
             (30, 31), (31, 32), (30, 32),     # cycle
             (40, 41)]                         # pair
    df = spark.createDataFrame(edges, "a long, b long")
    a = {(r["node"], r["lbl"])
         for r in cc_single_task(df).collect()}
    # force the distributed contraction (star_components is itself
    # gated onto cc_single_task since r12 — without the switch this
    # test would compare the kernel to itself)
    monkeypatch.setattr(driver, "FORCE_DISTRIBUTED", True)
    b = {(r["node"], r["lbl"])
         for r in star_components(df, op_name="test").collect()}
    assert a == b
    assert (12, 1) in a and (23, 20) in a and (32, 30) in a
    # canonical nodes omitted, exactly like star_components
    assert all(n != l for n, l in a)


@pytest.mark.slow
def test_cc_kernels_agree_on_random_graphs(spark, monkeypatch):
    """Property pin for the gated CC pair: on arbitrary random graphs
    (not just corpus- or fixture-shaped ones) the single-task
    union-find kernel and the distributed star contraction return the
    identical (node, lbl) set. Hypothesis drives the edge sets; a
    pure-python union-find is the third, independent referee."""
    from hypothesis import given, settings, strategies as st

    from covid_weather_etl_spark.functions import driver
    from covid_weather_etl_spark.operators.corpus import (
        cc_single_task, star_components)

    # star_components takes its distributed loop; cc_single_task is
    # called directly
    monkeypatch.setattr(driver, "FORCE_DISTRIBUTED", True)

    @settings(max_examples=6, deadline=None)
    @given(st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1, max_size=40))
    def check(raw):
        edges = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
        if not edges:
            return
        df = spark.createDataFrame(edges, "a long, b long")
        got_one = {(r["node"], r["lbl"])
                   for r in cc_single_task(df).collect()}
        got_star = {(r["node"], r["lbl"])
                    for r in star_components(df, op_name="prop").collect()}
        parent: dict = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {n for e in edges for n in e}
        want = {(n, find(n)) for n in nodes if find(n) != n}
        assert got_one == want
        assert got_star == want

    check()


@pytest.mark.slow
def test_cc_single_task_string_keys_equal_loop(spark, monkeypatch):
    """r12: the key-type-generic union-find kernel on STRING node ids
    (the er_name_clusters shape) returns exactly the distributed
    contraction's rows — minima compared as UTF-8 bytes, matching the
    engines' binary string order; includes a non-ASCII pair to pin
    the encode/decode roundtrip on the kernel path."""
    from covid_weather_etl_spark.functions import driver
    from covid_weather_etl_spark.operators.corpus import (
        cc_single_task, star_components)

    edges = [("m", "z"), ("a", "m"),           # chain out of order
             ("x1", "x2"),                     # pair
             ("é", "Ａ")]             # non-ASCII pair
    df = spark.createDataFrame(edges, "a string, b string")
    got = {(r["node"], r["lbl"]) for r in cc_single_task(df).collect()}
    monkeypatch.setattr(driver, "FORCE_DISTRIBUTED", True)
    want = {(r["node"], r["lbl"])
            for r in star_components(df, op_name="s").collect()}
    assert got == want
    assert ("z", "a") in got and ("m", "a") in got
