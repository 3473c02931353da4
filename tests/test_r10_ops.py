"""Round-10 operator tests: the composed curation pipeline run.

The driver's oracle for curation_pipeline_run is pinned to the
persisted sf0.01 codebook (the ivf family's oracle-at-sf0.01
convention); these tests close the three-SF ladder by re-building the
SAME oracle text against the pytest SF's own persisted artifacts
(_curation_pipeline_oracle(sf_dir)) and hash-comparing, plus
cross-checking the accounting against the standalone stage operators.
"""

from __future__ import annotations

import math
from types import SimpleNamespace

import pandas as pd

from covid_weather_etl_spark.operators.corpus import (
    _curation_pipeline_oracle, ICC_INC_CUT, PACK_BUDGET)
from covid_weather_etl_spark.queries.registry import all_queries
from tests.conftest import SF_DIR, assert_parity


def _q(name):
    return all_queries()[name]


def test_curation_pipeline_parity_at_pytest_sf(spark, duck):
    """Full driver-style parity at the pytest SF: the oracle text is
    identical to the registered one except the codebook path points at
    THIS SF's persisted artifact (trained on first touch)."""
    from covid_weather_etl_spark.operators.similarity import (
        ensure_ivf_codebook)
    ensure_ivf_codebook(spark, SF_DIR)  # persist before the oracle reads
    q = _q("curation_pipeline_run")
    shim = SimpleNamespace(name=q.name, fn=q.fn,
                           oracle=_curation_pipeline_oracle(SF_DIR))
    assert_parity(spark, duck, shim, sf_dir=SF_DIR)


def test_curation_pipeline_accounting_invariants(spark):
    df = (_q("curation_pipeline_run").fn(spark, SF_DIR)
          .toPandas().sort_values("grp").reset_index(drop=True))
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    import hashlib
    is_new = docs["doc_id"].map(
        lambda d: hashlib.md5(str(d).encode()).hexdigest()[:2]
        >= ICC_INC_CUT)
    # ingest accounting covers exactly the md5-cut batch
    assert df["n_ingest"].sum() == int(is_new.sum())
    for _, r in df.iterrows():
        # funnel monotone: ingest >= quality >= dedup survivors
        assert r["n_ingest"] >= r["n_quality"] >= r["n_dedup"] >= 0
        # packing is exactly CEIL(family symbols / budget)
        assert r["n_batches"] == math.ceil(r["n_bpe_syms"] / PACK_BUDGET)
        # BPE never encodes a word to more symbols than characters,
        # and at least one symbol per whitespace token
        if r["n_dedup"] > 0:
            assert r["n_bpe_syms"] >= r["n_tokens"]
        else:
            assert r["n_tokens"] == r["n_bpe_syms"] == 0
        # cells touched bounded by survivors and by the codebook size
        from covid_weather_etl_spark.operators.similarity import KMEANS_K
        assert 0 <= r["n_cells"] <= min(r["n_dedup"], KMEANS_K)


def test_curation_pipeline_matches_standalone_stages(spark):
    """The composed run's per-family totals agree with the standalone
    operators it reuses: the quality gates (quality_filter_funnel's
    global stage-3 count equals the batch gates applied to the batch)
    and the BPE token accounting (bpe_encode_documents per-doc sums
    restricted to the surviving docs)."""
    df = (_q("curation_pipeline_run").fn(spark, SF_DIR)
          .toPandas())
    enc = (_q("bpe_encode_documents").fn(spark, SF_DIR)
           .toPandas().set_index("doc_id"))
    # total whitespace tokens of survivors must be a subset-sum of the
    # standalone per-doc encode table — every survivor's n_tokens and
    # n_bpe_syms row exists there with the same tokenizer artifact
    assert df["n_tokens"].sum() <= enc["n_tokens"].sum()
    assert df["n_bpe_syms"].sum() <= enc["n_bpe_syms"].sum()
    assert (df["n_tokens"].sum() > 0) == (df["n_dedup"].sum() > 0)


def test_pack_efficiency_pandas_replay(spark):
    df = (_q("pack_efficiency_report").fn(spark, SF_DIR)
          .toPandas().set_index("lang").sort_index())
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    docs["n_tok"] = docs["text"].str.split(" ").str.len()
    for lang, g in docs.sort_values("doc_id").groupby("lang"):
        r = df.loc[lang]
        tot = int(g["n_tok"].sum())
        offs = g["n_tok"].cumsum() - g["n_tok"]
        n_batches = int((offs // PACK_BUDGET).max()) + 1 \
            if len(g) else 0
        assert r["n_docs"] == len(g)
        assert r["n_tokens"] == tot
        assert r["max_doc_tokens"] == int(g["n_tok"].max())
        assert r["n_batches"] == n_batches
        assert r["n_batches_lb"] == math.ceil(tot / PACK_BUDGET)
        # the lower bound really is a lower bound, and fill <= 1
        assert r["n_batches"] >= r["n_batches_lb"]
        assert 0 < r["fill_share"] <= 1.0


def test_tokenizer_drift_slices_partition_the_encode_table(spark):
    """The two md5 slices partition bpe_encode_documents' per-doc
    totals exactly: summing the standalone encode table over each
    slice reproduces the drift report's token/symbol totals."""
    import hashlib
    drift = (_q("tokenizer_drift_eval").fn(spark, SF_DIR)
             .toPandas().groupby("slice")[["n_tokens", "n_bpe_syms"]]
             .sum())
    enc = _q("bpe_encode_documents").fn(spark, SF_DIR).toPandas()
    enc["slice"] = enc["doc_id"].map(
        lambda d: "new"
        if hashlib.md5(str(d).encode()).hexdigest()[:2] >= ICC_INC_CUT
        else "old")
    exp = enc.groupby("slice")[["n_tokens", "n_bpe_syms"]].sum()
    assert drift["n_tokens"].to_dict() == exp["n_tokens"].to_dict()
    assert drift["n_bpe_syms"].to_dict() == exp["n_bpe_syms"].to_dict()


def test_dedup_state_compaction_pandas_replay(spark):
    from covid_weather_etl_spark.operators.corpus import HOT_SHINGLE_DF
    r = (_q("dedup_state_compaction_report").fn(spark, SF_DIR)
         .collect()[0])
    import hashlib
    from collections import Counter
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    old = docs[docs["doc_id"].map(
        lambda d: hashlib.md5(str(d).encode()).hexdigest()[:2]
        < ICC_INC_CUT)]
    df = Counter()
    n_docs = 0
    for _, row in old.iterrows():
        t = row["text"].split(" ")
        sh = {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}
        if sh:
            n_docs += 1
        for s in sh:
            df[s] += 1
    assert r.n_docs == n_docs
    assert r.n_shingles == len(df)
    assert r.n_postings == sum(df.values())
    assert r.max_df == max(df.values())
    hot = {s: c for s, c in df.items() if c >= HOT_SHINGLE_DF}
    assert r.n_hot == len(hot)
    assert r.postings_hot == sum(hot.values())
    assert r.cand_pairs == sum(c * (c - 1) // 2 for c in df.values())
    assert r.cand_pairs_capped == sum(
        c * (c - 1) // 2 for c in df.values() if c < HOT_SHINGLE_DF)
    assert r.cand_pairs_capped <= r.cand_pairs


def test_ivf_rebalance_plan_consistency(spark):
    """The plan rows agree with ivf_cell_balance_profile's loads and
    the integer thresholds; planned partitions cover the load."""
    from covid_weather_etl_spark.operators.similarity import KMEANS_K
    plan = (_q("ivf_rebalance_plan").fn(spark, SF_DIR)
            .toPandas().set_index("cell").sort_index())
    bal = (_q("ivf_cell_balance_profile").fn(spark, SF_DIR)
           .toPandas().set_index("cell").sort_index())
    assert list(plan.index) == list(bal.index)
    total = int(plan["n_vecs"].sum())
    for cell, r in plan.iterrows():
        n = int(r["n_vecs"])
        assert n == int(bal.loc[cell, "n_vecs"])
        if n * KMEANS_K > 2 * total:
            assert r["action"] == "split"
        elif n * KMEANS_K * 2 < total:
            assert r["action"] == "merge"
        else:
            assert r["action"] == "keep"
        assert r["planned_partitions"] == max(
            1, math.ceil(n * KMEANS_K / total))
    # split cells plan >= 2 children; the plan conserves total load
    assert (plan.loc[plan["action"] == "split",
                     "planned_partitions"] >= 2).all()


def test_mix_token_budget_plan_replay(spark):
    """Replay from bpe_encode_documents + the documents table: family
    symbol mass, targets, epochs, shortfall and the no-repeat cap."""
    from covid_weather_etl_spark.operators.corpus import (
        MIX_WEIGHTS, TRAIN_TOKEN_BUDGET)
    import re
    plan = (_q("mix_token_budget_plan").fn(spark, SF_DIR)
            .toPandas().set_index("grp").sort_index())
    enc = _q("bpe_encode_documents").fn(spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    rx = re.compile(r"src(\d+)")
    docs["grp"] = docs["source"].map(
        lambda s: "g" + str(int(rx.search(s).group(1)) % 3))
    m = enc.merge(docs[["doc_id", "grp"]], on="doc_id")
    avail = m.groupby("grp")["n_bpe_syms"].sum()
    cap = math.floor(min(avail[g] / w for g, w in MIX_WEIGHTS.items()))
    for g, w in MIX_WEIGHTS.items():
        r = plan.loc[g]
        assert r["avail_syms"] == avail[g]
        target = math.floor(TRAIN_TOKEN_BUDGET * w)
        assert r["target_syms"] == target
        assert r["epochs_needed"] == math.ceil(target / avail[g])
        assert r["single_epoch_shortfall"] == max(0, target - avail[g])
        assert r["max_norepeat_budget"] == cap
    # the cap really is servable with no repetition: at budget=cap
    # every family's target fits its availability
    for g, w in MIX_WEIGHTS.items():
        assert math.floor(cap * w) <= avail[g]


def test_epoch_repeat_schedule_consistent_with_plan(spark):
    """The schedule's per-family rows telescope to the plan exactly:
    epochs count, per-epoch draws, and the final cumulative = target."""
    plan = (_q("mix_token_budget_plan").fn(spark, SF_DIR)
            .toPandas().set_index("grp"))
    sched = (_q("epoch_repeat_schedule").fn(spark, SF_DIR)
             .toPandas().sort_values(["grp", "epoch"]))
    for g, rows in sched.groupby("grp"):
        p = plan.loc[g]
        assert len(rows) == p["epochs_needed"]
        assert list(rows["epoch"]) == list(range(1, len(rows) + 1))
        # full passes draw avail; the last draws the remainder
        assert (rows["tokens_drawn"].iloc[:-1] == p["avail_syms"]).all()
        assert rows["tokens_drawn"].sum() == p["target_syms"]
        assert rows["cum_tokens"].iloc[-1] == p["target_syms"]
        assert rows["cum_tokens"].is_monotonic_increasing
        assert (rows["tokens_drawn"] > 0).all()
