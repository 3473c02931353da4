"""Semantic pins for the warehouse/corpus session-2 operators (exact
engine/oracle parity is covered by test_oracle_parity; these pin the
invariants that make each result MEANINGFUL): incremental-MV merge
identity, Z-order skipping advantage, hashing-trick mass conservation,
dup-chunk reconstruction, and vocabulary coverage bounds.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from covid_weather_etl_spark.operators.corpus import (
    CHUNK_DUP_DF, CHUNK_TOKENS,
)
from covid_weather_etl_spark.operators.text import HASH_DIM, VOCAB_SIZE
from covid_weather_etl_spark.operators.warehouse import ZBITS, ZFILES
from covid_weather_etl_spark.queries.registry import all_queries
from covid_weather_etl_spark.sources.catalog import load_tables
from tests.conftest import SF_DIR

QUERIES = all_queries()


def test_incremental_merge_equals_oneshot(spark):
    """The core MV identity: merge(partial(base), partial(delta)) must
    equal the one-shot aggregate computed directly in Spark (the oracle
    already checks vs DuckDB; this checks the merge against the SAME
    engine, so a Spark-side aggregation quirk can't hide)."""
    got = (QUERIES["incremental_agg_maintenance"].fn(spark, SF_DIR)
           .toPandas().set_index("month").sort_index())
    t = load_tables(spark, SF_DIR, ("orders",))
    oneshot = (t["orders"]
               .groupBy(F.date_trunc("month", "o_orderdate").cast("date")
                        .alias("month"))
               .agg(F.count("*").alias("order_cnt"),
                    F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
                     .cast("double").alias("revenue"),
                    F.max("o_totalprice").alias("max_price"))
               .toPandas().set_index("month").sort_index())
    pd.testing.assert_frame_equal(got, oneshot, check_exact=True)


def test_zorder_envelopes_beat_single_column_sort(spark):
    """The point of the Z-curve: per-file min/max envelopes are tight
    on BOTH dimensions — every file's envelope fits its quad-tree
    tile, so NEITHER dimension is ever full-width. A single-column
    layout (cluster by cust_bucket only) leaves the date dimension's
    envelope at full width in every file. The density-independent
    claims (at high SF both layouts saturate their bounds, so raw
    AREA comparison degenerates to a coin flip): (a) z envelopes obey
    the tile bound on both dims, (b) z's date envelopes are far
    tighter than the single-column layout's, (c) z's area never
    exceeds the tile area the single-column layout can only match,
    not beat."""
    z = QUERIES["zorder_layout"].fn(spark, SF_DIR).toPandas()
    assert len(z) <= ZFILES
    assert (z["n_rows"] > 0).all()
    # ZBITS-wide plane cut into ZFILES quad-tree cells → per-dim tile
    # width = 2^(ZBITS - ZFILE_BITS//2) (advice r4: derive from ZBITS,
    # not a literal 8, so a ZBITS change keeps the bound honest)
    tile_w = 1 << (ZBITS - (ZFILES.bit_length() - 1) // 2)
    z_cust_w = z["max_cust_bucket"] - z["min_cust_bucket"] + 1
    z_date_w = z["max_date_bucket"] - z["min_date_bucket"] + 1
    assert (z_cust_w <= tile_w).all()
    assert (z_date_w <= tile_w).all()
    z_area = z_cust_w * z_date_w

    t = load_tables(spark, SF_DIR, ("orders",))
    cb = (F.col("o_custkey") % 256).cast("int").alias("cust_bucket")
    db = (F.datediff(F.col("o_orderdate").cast("date"),
                     F.to_date(F.lit("1992-01-01"))) % 256
          ).cast("int").alias("date_bucket")
    single = (t["orders"].select(cb, db)
              # cluster by cust_bucket only: file = cust_bucket / 4
              .withColumn("file_id", (F.col("cust_bucket") / 4).cast("int"))
              .groupBy("file_id")
              .agg(F.min("cust_bucket").alias("c0"),
                   F.max("cust_bucket").alias("c1"),
                   F.min("date_bucket").alias("d0"),
                   F.max("date_bucket").alias("d1"))
              .toPandas())
    s_area = (single["c1"] - single["c0"] + 1) * (single["d1"] - single["d0"] + 1)
    s_date_w = single["d1"] - single["d0"] + 1
    # the dimension the single-column layout abandons: z bounds it by
    # the tile, single-column leaves it near full-width
    assert z_date_w.mean() < s_date_w.mean() / 2
    # and z never pays MORE area than the tile bound single-column can
    # at best match at saturation
    assert z_area.max() <= tile_w * tile_w
    assert z_area.mean() <= s_area.mean() + 6  # ties at saturation only


def test_hashed_bow_conserves_token_mass(spark):
    """Feature hashing drops no tokens: per-doc sum(tf) == token count,
    and every bucket is in [0, HASH_DIM)."""
    got = QUERIES["hashed_bow_features"].fn(spark, SF_DIR).toPandas()
    assert got["bucket"].between(0, HASH_DIM - 1).all()
    per_doc = got.groupby("doc_id")["tf"].sum()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    expect = docs.set_index("doc_id")["text"].str.split(" ").str.len()
    pd.testing.assert_series_equal(
        per_doc.sort_index(), expect.sort_index(),
        check_names=False, check_dtype=False)


def test_dup_chunk_removal_reconstructs(spark):
    """Clean documents survive verbatim; boilerplate is actually
    removed somewhere (the threshold is real on this corpus); kept_text
    token counts match n_kept chunks."""
    got = QUERIES["dup_chunk_removal"].fn(spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    joined = got.merge(docs[["doc_id", "text"]], on="doc_id")
    clean = joined[joined["n_kept"] == joined["n_chunks"]]
    assert len(clean) and (clean["kept_text"] == clean["text"]).all()
    assert (joined["n_kept"] < joined["n_chunks"]).any(), (
        f"threshold DF>{CHUNK_DUP_DF} removed nothing — corpus drifted?")
    # chunk partition arithmetic: n_chunks = ceil(tokens / CHUNK_TOKENS)
    ntok = joined["text"].str.split(" ").str.len()
    import numpy as np
    assert (joined["n_chunks"] == np.ceil(ntok / CHUNK_TOKENS)).all()


def test_vocab_coverage_bounds(spark):
    got = QUERIES["vocab_coverage"].fn(spark, SF_DIR).toPandas()
    assert (got["n_in_vocab"] <= got["n_tokens"]).all()
    assert got["coverage"].between(0.0, 1.0).all()
    # V tokens can't cover everything here (corpus vocab > VOCAB_SIZE),
    # but the top-V must cover the majority of token mass
    assert (got["n_in_vocab"].sum() / got["n_tokens"].sum()) > 0.5
    assert (got["coverage"] < 1.0).any(), \
        f"every doc fully covered by top-{VOCAB_SIZE} — vocab too large"


def test_bpe_merge_step_matches_numpy(spark):
    """Independent recount: corpus-weighted adjacent char-pair counts
    from raw python, and the rank-1 pair is the true argmax under
    (count desc, pair asc)."""
    got = (QUERIES["bpe_merge_step"].fn(spark, SF_DIR)
           .toPandas().set_index("pair").sort_index())
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    from collections import Counter
    wc = Counter(w for t in docs["text"] for w in t.split(" "))
    pc = Counter()
    for w, c in wc.items():
        for i in range(len(w) - 1):
            pc[w[i:i + 2]] += c
    assert set(got.index) == set(pc)
    for pair, cnt in pc.items():
        assert got.loc[pair, "pair_count"] == cnt
    winner = min(pc, key=lambda p: (-pc[p], p))
    assert got[got["merge_rank"] == 1].index.tolist() == [winner]
    # ranks are a permutation of 1..n (deterministic total order)
    assert sorted(got["merge_rank"]) == list(range(1, len(pc) + 1))


def test_bloom_prefilter_no_false_negatives(spark):
    """Bloom guarantee: every true key passes (pass − fp == true), the
    filter actually filters, and the FP rate stays near the m=8n, K=4
    design point (theory ≈ 2.4%; assert a 3× envelope)."""
    row = (QUERIES["bloom_prefilter_join"].fn(spark, SF_DIR)
           .collect()[0].asDict())
    assert row["n_pass_bloom"] - row["n_false_pos"] == row["n_true_match"]
    assert row["n_pass_bloom"] < 0.5 * row["n_probe"]
    assert row["fp_rate"] <= 3 * 0.024


def test_embedding_dim_profile_shape(spark):
    got = QUERIES["embedding_dim_profile"].fn(spark, SF_DIR).toPandas()
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(emb["embedding"].iloc[0])
    labels = emb["label"].nunique()
    assert len(got) == dim * labels
    assert (got["min_val"] <= got["mean_val"]).all()
    assert (got["mean_val"] <= got["max_val"]).all()
    sizes = emb.groupby("label").size()
    for lbl, n in sizes.items():
        assert (got[got["label"] == lbl]["n_vecs"] == n).all()


def test_event_transition_matrix_is_stochastic(spark):
    """Per-source shares sum to 1 and totals equal Σ(per-user n−1);
    spot-recount one user's transitions in pandas."""
    got = QUERIES["event_transition_matrix"].fn(spark, SF_DIR).toPandas()
    sums = got.groupby("from_type")["share"].sum()
    assert ((sums - 1.0).abs() < 1e-4).all()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    per_user = ev.groupby("user_id").size()
    assert got["n_transitions"].sum() == (per_user - 1).sum()
    u = per_user.idxmax()
    seq = (ev[ev["user_id"] == u]
           .sort_values(["ts", "event_id"])["event_type"].tolist())
    from collections import Counter
    mine = Counter(zip(seq, seq[1:]))
    total = (got.set_index(["from_type", "to_type"])["n_transitions"])
    for (a, b), n in mine.items():
        assert total[(a, b)] >= n


def test_quantile_binning_balanced(spark):
    """Quartile bins hold ~n/4 each (up to ties) and partition the
    value range in order."""
    got = (QUERIES["quantile_binning"].fn(spark, SF_DIR)
           .toPandas().set_index("bin").sort_index())
    n = got["n_rows"].sum()
    assert set(got.index) == {0, 1, 2, 3}
    assert (got["n_rows"] > 0.15 * n).all()  # roughly balanced
    for b in range(3):
        assert got.loc[b, "max_price"] <= got.loc[b + 1, "min_price"]


def test_iqr_outlier_report_matches_pandas(spark):
    got = (QUERIES["iqr_outlier_report"].fn(spark, SF_DIR)
           .toPandas().set_index("l_returnflag"))
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet",
                         columns=["l_returnflag", "l_extendedprice"])
    for flag, grp in li.groupby("l_returnflag"):
        q1, q3 = grp["l_extendedprice"].quantile([0.25, 0.75])
        lo = round(q1 - 1.5 * (q3 - q1), 6)
        hi = round(q3 + 1.5 * (q3 - q1), 6)
        assert got.loc[flag, "n_low"] == (grp["l_extendedprice"] < lo).sum()
        assert got.loc[flag, "n_high"] == (grp["l_extendedprice"] > hi).sum()
        assert got.loc[flag, "n_rows"] == len(grp)


def test_chi2_independence_matches_numpy(spark):
    import numpy as np
    row = QUERIES["chi2_independence"].fn(spark, SF_DIR).collect()[0]
    cust = pd.read_parquet(f"{SF_DIR}/customer.parquet",
                           columns=["c_mktsegment", "c_nationkey"])
    ct = pd.crosstab(cust["c_mktsegment"], cust["c_nationkey"]).to_numpy()
    # drop all-zero rows/cols like the observed-cell formulation does
    e = np.outer(ct.sum(1), ct.sum(0)) / ct.sum()
    mask = ct > 0
    chi2 = (np.round((ct[mask] - e[mask]) ** 2 / e[mask], 9)).sum()
    assert abs(row["chi2"] - round(chi2, 6)) < 1e-4
    assert row["dof"] == (ct.shape[0] - 1) * ((ct != 0).any(0).sum() - 1)
    assert row["n_cells"] == int(mask.sum())


def test_scd2_fact_join_conserves_orders(spark):
    """Version intervals partition the timeline: every order matches
    exactly one version, so n_orders across the rollup equals the
    order count; a moved customer's orders split around the effective
    date."""
    from covid_weather_etl_spark.operators.scd import EFFECTIVE
    got = QUERIES["scd2_fact_join"].fn(spark, SF_DIR).toPandas()
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet",
                             columns=["o_custkey", "o_orderdate"])
    assert got["n_orders"].sum() == len(orders)
    # a customer in the update batch (custkey % 7 == 0) with orders on
    # both sides of the effective date contributes to two segments
    eff = pd.Timestamp(EFFECTIVE)
    moved = orders[orders["o_custkey"] % 7 == 0]
    both = moved.groupby("o_custkey")["o_orderdate"].agg(["min", "max"])
    assert ((both["min"] < eff) & (both["max"] >= eff)).any()


def test_multi_touch_attribution_conserves_value(spark):
    """Credit conservation: each purchase with >=1 in-window touch
    distributes ~its full value (6dp rounding per touch)."""
    from covid_weather_etl_spark.operators.eventstats import (
        MTA_WINDOW_HOURS,
    )
    got = QUERIES["multi_touch_attribution"].fn(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    purchases = ev[ev["event_type"] == "purchase"]
    touches = ev[ev["event_type"].isin(["view", "click"])]
    horizon = pd.Timedelta(hours=MTA_WINDOW_HOURS)
    covered = 0.0
    n_pairs = 0
    for p in purchases.itertuples():
        tt = touches[(touches["user_id"] == p.user_id)
                     & (touches["ts"] < p.ts)
                     & (touches["ts"] >= p.ts - horizon)]
        if len(tt):
            covered += p.value
            n_pairs += len(tt)
    assert got["n_credited_touches"].sum() == n_pairs
    assert abs(got["total_credit"].sum() - covered) < 1e-2


def test_debounce_events_drops_planted_redeliveries(spark):
    """The planted 30s redeliveries (negative ids) are all dropped and
    the kept set equals a pandas ground-truth recount of the gap
    thinning over the full landed stream. (An earlier version asserted
    "every original survives" — true only at sf0.001's event density;
    at sf0.01 some ORIGINALS legitimately fall within the gap of their
    predecessor and the operator is right to thin them.)"""
    from covid_weather_etl_spark.operators.dedup import DEBOUNCE_SECONDS
    got = QUERIES["debounce_events"].fn(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    assert (got["event_id"] >= 0).all()          # all redeliveries gone

    # ground truth: rebuild the landed stream (originals + planted
    # +30s redeliveries of even ids) and thin on lag > gap, exactly
    # as the operator defines it
    red = ev[ev["event_id"] % 10 == 0].copy()
    red["event_id"] = -red["event_id"] - 1
    red["ts"] = red["ts"] + pd.Timedelta(seconds=30)
    landed = pd.concat([ev, red], ignore_index=True)
    landed = landed.sort_values(["user_id", "event_type", "ts",
                                 "event_id"])
    prev = landed.groupby(["user_id", "event_type"])["ts"].shift()
    keep = prev.isna() | ((landed["ts"] - prev)
                          > pd.Timedelta(seconds=DEBOUNCE_SECONDS))
    want = set(landed.loc[keep, "event_id"])
    assert set(got["event_id"]) == want

    gap = pd.Timedelta(seconds=DEBOUNCE_SECONDS)
    kept = got.sort_values(["user_id", "event_type", "ts"])
    diffs = kept.groupby(["user_id", "event_type"])["ts"].diff().dropna()
    assert (diffs > gap).all()


def test_rag_chunking_covers_every_token(spark):
    """Chunk coverage: concatenating stride-aligned prefixes of chunks
    reconstructs the document; overlaps equal window − stride; every
    doc yields ≥1 chunk and only the final chunk may be short."""
    from covid_weather_etl_spark.operators.corpus import (
        RAG_STRIDE, RAG_WINDOW,
    )
    got = QUERIES["rag_chunking"].fn(spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    assert set(got["doc_id"]) == set(docs["doc_id"])
    by_doc = dict(tuple(got.sort_values("chunk_id").groupby("doc_id")))
    for row in docs.head(50).itertuples():
        toks = row.text.split(" ")
        g = by_doc[row.doc_id]
        # chunk i starts at i*stride and carries min(window, rest)
        for c in g.itertuples():
            start = c.chunk_id * RAG_STRIDE
            expect = toks[start:start + RAG_WINDOW]
            assert c.chunk_text.split(" ") == expect
            assert c.n_tokens == len(expect)
        # non-final chunks are full-width
        assert (g["n_tokens"].iloc[:-1] == RAG_WINDOW).all()
        # last chunk reaches the end of the doc
        last = g.iloc[-1]
        assert last.chunk_id * RAG_STRIDE + last.n_tokens == len(toks)


def test_rolling_median_matches_pandas(spark):
    from covid_weather_etl_spark.operators.timeseries import MEDIAN_WINDOW
    got = QUERIES["rolling_median_revenue"].fn(spark, SF_DIR).toPandas()
    one = (got[got["n_name"] == got["n_name"].iloc[0]]
           .sort_values("d").reset_index(drop=True))
    expect = (one["y"].rolling(MEDIAN_WINDOW).median().round(6))
    pd.testing.assert_series_equal(
        one["roll_median"], expect, check_names=False)


def test_name_similarity_pairs_symmetric_and_bounded(spark):
    from covid_weather_etl_spark.operators.stats import LEV_MAX
    got = QUERIES["name_similarity_pairs"].fn(spark, SF_DIR).toPandas()
    assert (got["edit_distance"] <= LEV_MAX).all()
    assert (got["name_1"] < got["name_2"]).all()
    # python recount on one pair
    if len(got):
        import itertools
        r = got.iloc[0]
        def lev(a, b):
            dp = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                prev, dp[0] = dp[0], i
                for j, cb in enumerate(b, 1):
                    prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                             prev + (ca != cb))
            return dp[-1]
        assert lev(r.name_1, r.name_2) == r.edit_distance


def test_morton_code_roundtrip_property(spark):
    """Property: the Morton interleave is invertible — de-interleaving
    the Z-value recovers both bucket coordinates exactly, for random
    coordinates across the full 8-bit range (hypothesis-driven)."""
    from hypothesis import given, settings, strategies as st

    from covid_weather_etl_spark.operators.warehouse import (
        ZBITS, _morton_sql,
    )
    import duckdb
    con = duckdb.connect()

    @settings(max_examples=200, deadline=None)
    @given(st.integers(0, 255), st.integers(0, 255))
    def check(a, b):
        z = con.execute(
            f"SELECT {_morton_sql(str(a), str(b))}").fetchone()[0]
        da = sum(((z >> (2 * i + 1)) & 1) << i for i in range(ZBITS))
        db = sum(((z >> (2 * i)) & 1) << i for i in range(ZBITS))
        assert (da, db) == (a, b)

    check()

    # and the Spark expression agrees with the SQL expression
    from covid_weather_etl_spark.operators.warehouse import _morton_spark
    from pyspark.sql import functions as F
    rows = spark.createDataFrame(
        [(a, b) for a in (0, 1, 127, 128, 255) for b in (0, 3, 200, 255)],
        "a int, b int")
    got = rows.select("a", "b",
                      _morton_spark(F.col("a"), F.col("b")).alias("z"))
    for r in got.collect():
        want = con.execute(
            f"SELECT {_morton_sql(str(r.a), str(r.b))}").fetchone()[0]
        assert r.z == want


def test_target_encoding_shrinks_toward_global(spark):
    """Smoothing property: every encoded value lies strictly between
    its raw category mean and the global mean (unless they coincide),
    and a pandas recount agrees."""
    from covid_weather_etl_spark.operators.stats import TE_SMOOTHING
    got = QUERIES["target_encoding_segment"].fn(spark, SF_DIR).toPandas()
    o = pd.read_parquet(f"{SF_DIR}/orders.parquet",
                        columns=["o_custkey", "o_totalprice"])
    c = pd.read_parquet(f"{SF_DIR}/customer.parquet",
                        columns=["c_custkey", "c_mktsegment"])
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    gmean = j["o_totalprice"].mean()
    for r in got.itertuples():
        grp = j[j["c_mktsegment"] == r.segment]["o_totalprice"]
        exp = (grp.sum() + TE_SMOOTHING * gmean) / (len(grp) + TE_SMOOTHING)
        assert abs(r.encoded - exp) < 1e-3
        lo, hi = sorted((r.raw_mean, gmean))
        assert lo - 1e-6 <= r.encoded <= hi + 1e-6


def test_time_to_convert_matches_pandas(spark):
    got = QUERIES["time_to_convert_stats"].fn(spark, SF_DIR).collect()[0]
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    fv = (ev[ev["event_type"] == "view"].groupby("user_id")["ts"].min())
    fp = (ev[ev["event_type"] == "purchase"].groupby("user_id")["ts"].min())
    both = pd.concat([fv.rename("v"), fp.rename("p")], axis=1).dropna()
    conv = both[both["p"] > both["v"]]
    assert got["n_viewers"] == len(fv)
    assert got["n_converted"] == len(conv)
    hours = (conv["p"] - conv["v"]).dt.total_seconds() / 3600
    assert abs(got["p50_hours"] - hours.quantile(0.5)) < 1e-3


def test_knn_label_eval_matches_numpy(spark):
    """Independent numpy leave-one-out kNN recount."""
    import numpy as np
    from covid_weather_etl_spark.operators.similarity import KNN_EVAL_K
    got = (QUERIES["knn_label_eval"].fn(spark, SF_DIR)
           .toPandas().set_index("label").sort_index())
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    X = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    labels = emb["label"].to_numpy()
    ids = emb["vec_id"].to_numpy()
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = np.round(Xn @ Xn.T, 6)
    correct = {}
    for i in range(len(X)):
        order = sorted((j for j in range(len(X)) if ids[j] != ids[i]),
                       key=lambda j: (-S[i, j], ids[j]))[:KNN_EVAL_K]
        votes = {}
        for j in order:
            votes[labels[j]] = votes.get(labels[j], 0) + 1
        pred = min(votes, key=lambda l: (-votes[l], l))
        c = correct.setdefault(labels[i], [0, 0])
        c[0] += 1
        c[1] += int(pred == labels[i])
    for lbl, (n, ok) in correct.items():
        assert got.loc[lbl, "n_vecs"] == n
        assert got.loc[lbl, "n_correct"] == ok


def test_temperature_mix_boosts_tail(spark):
    """α<1 sampling: shares still sum to 1, the LARGEST language is
    damped (boost < 1) and the SMALLEST is boosted (boost > 1)."""
    got = (QUERIES["temperature_mix_weights"].fn(spark, SF_DIR)
           .toPandas().sort_values("n_tokens"))
    assert abs(got["sampled_share"].sum() - 1.0) < 1e-4
    assert abs(got["raw_share"].sum() - 1.0) < 1e-4
    if got["n_tokens"].iloc[0] != got["n_tokens"].iloc[-1]:
        assert got["boost"].iloc[0] > 1.0
        assert got["boost"].iloc[-1] < 1.0


def test_user_growth_curve_monotone_and_totals(spark):
    got = (QUERIES["user_growth_curve"].fn(spark, SF_DIR)
           .toPandas().sort_values("d").reset_index(drop=True))
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    assert got["cum_users"].is_monotonic_increasing
    assert got["cum_users"].iloc[-1] == ev["user_id"].nunique()
    assert got["new_users"].sum() == ev["user_id"].nunique()
    pd.testing.assert_series_equal(
        got["cum_users"], got["new_users"].cumsum(),
        check_names=False, check_dtype=False)


def test_rfm_segments_partition_customers(spark):
    got = QUERIES["rfm_segmentation"].fn(spark, SF_DIR).toPandas()
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    assert got["n_customers"].sum() == orders["o_custkey"].nunique()
    for c in ("r_score", "f_score", "m_score"):
        assert got[c].between(1, 4).all()
    assert abs(got["total_revenue"].sum()
               - orders["o_totalprice"].sum()) < 1e-3


def test_basket_affinity_pairs_are_real_cooccurrences(spark):
    got = QUERIES["basket_affinity"].fn(spark, SF_DIR).toPandas()
    from covid_weather_etl_spark.operators.warehouse import BASKET_MIN_CO
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    baskets = li.groupby("l_orderkey")["l_partkey"].apply(set)
    assert (got["part_a"] < got["part_b"]).all()
    assert (got["n_cooccur"] >= BASKET_MIN_CO).all()
    assert got["lift"].is_monotonic_decreasing or len(got) <= 1
    for r in got.itertuples(index=False):
        co = sum(1 for b in baskets if r.part_a in b and r.part_b in b)
        assert co == r.n_cooccur


def test_isotonic_matches_numpy_pav(spark):
    """The closed-form minimax fit must equal a from-scratch
    sequential pool-adjacent-violators pass on the same weighted
    points, and be non-decreasing with the same weighted mean."""
    from tests.conftest import SF_DIR
    got = (all_queries()["isotonic_calibration"].fn(spark, SF_DIR)
           .toPandas().sort_values("char_bin").reset_index(drop=True))
    # sequential PAV on (w, rate)
    blocks = [[w, p, p / w] for w, p in zip(got.n_docs, got.n_pos)]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][2] > blocks[i + 1][2] + 1e-15:
            w = blocks[i][0] + blocks[i + 1][0]
            p = blocks[i][1] + blocks[i + 1][1]
            blocks[i] = [w, p, p / w]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    fit = []
    bi = iter(blocks)
    blk = next(bi)
    remaining = blk[0]
    for w in got.n_docs:
        while remaining == 0:
            blk = next(bi)
            remaining = blk[0]
        fit.append(blk[2])
        remaining -= w
    assert len(fit) == len(got)
    for got_v, want in zip(got.iso_rate, fit):
        assert abs(got_v - round(want, 6)) < 1e-9
    d = got.iso_rate.diff().dropna()
    assert (d >= -1e-12).all()
    # pooled fit conserves the weighted mean
    assert abs((got.iso_rate * got.n_docs).sum()
               - got.n_pos.sum()) < 1e-3


def test_isotonic_agrees_with_spark_ml(spark):
    """Cross-check against Spark ML's distributed IsotonicRegression
    on the identical weighted point set."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import IsotonicRegression
    from tests.conftest import SF_DIR
    got = (all_queries()["isotonic_calibration"].fn(spark, SF_DIR)
           .toPandas().sort_values("char_bin").reset_index(drop=True))
    pts = spark.createDataFrame(
        [(float(r.char_bin), r.n_pos / r.n_docs, float(r.n_docs))
         for r in got.itertuples()],
        "x double, rate double, w double")
    va = VectorAssembler(inputCols=["x"], outputCol="features")
    iso = IsotonicRegression(labelCol="rate", weightCol="w",
                             featuresCol="features")
    model = iso.fit(va.transform(pts))
    pred = (model.transform(va.transform(pts))
            .select("x", "prediction").toPandas()
            .sort_values("x").reset_index(drop=True))
    for mine, ml in zip(got.iso_rate, pred.prediction):
        assert abs(mine - ml) < 1e-6, (mine, ml)


def test_isotonic_driver_fit_memory_at_the_cap(spark):
    """At ISO_COLLECT_MAX bins the driver fit keeps under three (B+1)²
    float64 matrices alive at once: the segment matrix, its running
    minimum and the triangle index. (`spark` is only for the JVM that
    parses the output schema.)"""
    import tracemalloc

    import numpy as np

    from covid_weather_etl_spark.operators.stats import (
        ISO_COLLECT_MAX, _iso_from_pts)

    class Session:
        def createDataFrame(self, data, schema):
            return data     # the Arrow table `driver.local_frame` built

    B = ISO_COLLECT_MAX
    rng = np.random.default_rng(0)
    w = rng.integers(1, 50, B)
    pos = rng.integers(0, w + 1)
    rows = [{"x": i, "w": int(w[i]), "pos": int(pos[i])} for i in range(B)]
    tracemalloc.start()
    try:
        out = _iso_from_pts(Session(), rows)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert out.num_rows == B
    fit = out.column("iso_rate").to_pylist()
    assert fit == sorted(fit)
    assert peak < 3 * (B + 1) ** 2 * 8

def test_bootstrap_ci_matches_numpy_and_brackets_mean(spark):
    """The Poisson-bootstrap CI must equal a numpy recomputation with
    the same md5-derived weights, bracket the plain mean, and have
    sane width (shrinks with n)."""
    import hashlib

    import numpy as np

    from covid_weather_etl_spark.operators.stats import BOOT_B, _POIS_CDF
    from tests.conftest import SF_DIR
    row = all_queries()["bootstrap_mean_ci"].fn(spark, SF_DIR).collect()[0]
    od = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    daily = (od.assign(day=od.o_orderdate.dt.date)
             .groupby("day").o_totalprice.sum().round(2))
    cdf = np.array([float(c) for c in _POIS_CDF])
    means = []
    for b in range(BOOT_B):
        us = np.array([
            (int(hashlib.md5(f"{b}:{d}".encode()).hexdigest()[:13], 16)
             + 0.5) / 2 ** 52 for d in daily.index])
        ws = np.searchsorted(cdf, us, side="right")
        if ws.sum() > 0:
            means.append(np.round(ws * daily.to_numpy(), 2).sum() / ws.sum())
    lo, hi = np.quantile(means, [0.025, 0.975], method="linear")
    assert row.n_days == len(daily)
    assert row.b_reps == len(means)
    assert abs(row.ci_lo - round(lo, 6)) < 1e-6
    assert abs(row.ci_hi - round(hi, 6)) < 1e-6
    assert row.ci_lo < row.mean_revenue < row.ci_hi
    # width ~ 2*1.96*sd/sqrt(n): sane, not degenerate
    sd = daily.std()
    width = row.ci_hi - row.ci_lo
    assert 0.3 * sd / len(daily) ** 0.5 < width < 10 * sd / len(daily) ** 0.5


def test_purge_cascade_consistency(spark, duck):
    """Purge accounting: n_after = n_before - n_removed everywhere;
    the subject loses exactly 1 customer row; lineitem removals equal
    a pandas recount of the subject's order keys."""
    from tests.conftest import SF_DIR
    got = (all_queries()["purge_cascade_report"].fn(spark, SF_DIR)
           .toPandas().set_index("tbl"))
    assert (got.n_after == got.n_before - got.n_removed).all()
    assert got.loc["customer"].n_removed == 1
    od = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    subject = od.o_custkey.min()
    keys = set(od[od.o_custkey == subject].o_orderkey)
    assert got.loc["orders"].n_removed == len(keys)
    assert got.loc["lineitem"].n_removed == li.l_orderkey.isin(keys).sum()


def test_schema_evolution_null_fill_contract(spark):
    """Gen-1 files lack the balance column entirely; the mergeSchema
    read must null-fill them and keep every gen-2 value."""
    from covid_weather_etl_spark.operators.warehouse import (
        schema_evolution_merge,
    )

    out = {r.gen: r for r in
           schema_evolution_merge(spark, SF_DIR).collect()}
    cu = spark.read.parquet(f"{SF_DIR}/customer.parquet").toPandas()
    n_even = int((cu.c_custkey % 2 == 0).sum())
    n_odd = len(cu) - n_even
    assert out[1].n_rows == n_even
    assert out[1].n_balance_present == 0
    assert out[1].n_balance_null == n_even
    assert out[2].n_rows == n_odd
    assert out[2].n_balance_present == n_odd
    assert out[2].n_balance_null == 0
