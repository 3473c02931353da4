"""Round-11 operator tests: the IVF rebalance APPLY (maintain →
re-verify) seam.

The driver's oracle is pinned to the persisted sf0.01 artifacts (the
ivf family's oracle-at-sf0.01 convention); these tests close the
three-SF ladder by re-building the SAME oracle text against the pytest
SF's own artifacts, replay the rebalance execution bit-for-bit in
numpy (thresholds, buckets, child means), and pin the structural
contract on a planted-skew fixture where split AND merge both fire.
"""

from __future__ import annotations

import pytest

import hashlib
from types import SimpleNamespace

import numpy as np
import pandas as pd

from covid_weather_etl_spark.functions.artifacts import table_fingerprint
from covid_weather_etl_spark.operators import similarity as S
from covid_weather_etl_spark.queries.registry import all_queries
from tests.conftest import SF_DIR, assert_parity


def _q(name):
    return all_queries()[name]


def _ensure_artifacts(spark, sf_dir):
    S.ensure_ivf_codebook(spark, sf_dir)
    S.ensure_ivf_rebalanced(spark, sf_dir)


def test_rebalance_apply_parity_at_pytest_sf(spark, duck):
    """Full driver-style parity at the pytest SF: oracle text is the
    registered one with both artifact paths pointing at THIS SF."""
    _ensure_artifacts(spark, SF_DIR)
    q = _q("ivf_rebalance_apply")
    shim = SimpleNamespace(name=q.name, fn=q.fn,
                           oracle=S._ivf_rebalance_apply_oracle(SF_DIR))
    assert_parity(spark, duck, shim, sf_dir=SF_DIR)


def test_rebalanced_artifact_matches_numpy_replay(spark):
    """Bit-exact numpy replay of the rebalance execution against the
    persisted artifacts: assignment (round-6 argmax, ties to lowest
    c_id), integer split/merge thresholds, ceil children count,
    vec_id-mod buckets, and the sorted-by-vec_id bucket means."""
    _ensure_artifacts(spark, SF_DIR)
    cb = (pd.read_parquet(S.ivf_codebook_path(SF_DIR))
          .sort_values("c_id").reset_index(drop=True))
    reb = (pd.read_parquet(S.ivf_rebalanced_path(SF_DIR))
           .sort_values("c_id").reset_index(drop=True))
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    V = np.stack([np.asarray(v, dtype=np.float64)
                  for v in emb["embedding"]])
    C = np.stack([np.asarray(v, dtype=np.float64) for v in cb["cv"]])
    sims = np.round(
        (V @ C.T)
        / np.outer(np.sqrt((V * V).sum(1)), np.sqrt((C * C).sum(1))), 6)
    # argmax with ties to the LOWEST c_id: numpy argmax takes the
    # first max, and cb rows are sorted by c_id
    cell = cb["c_id"].to_numpy()[sims.argmax(axis=1)]
    ids = emb["vec_id"].to_numpy()
    k, total = len(cb), len(emb)
    want = {}
    for c in cb["c_id"]:
        n = int((cell == c).sum())
        if n * k * S.REBAL_DEN > S.REBAL_SPLIT_NUM * total:
            p = max(2, -(-n * k // total))
            member_ids = ids[cell == c]
            order = np.argsort(member_ids)
            mi, mv = member_ids[order], V[cell == c][order]
            for b in sorted(set(int(i % p) for i in mi)):
                want[int(c) * 100 + b] = mv[mi % p == b].mean(axis=0)
        elif n * k * S.REBAL_DEN < S.REBAL_MERGE_NUM * total:
            continue
        else:
            want[int(c) * 100] = np.asarray(
                cb.loc[cb.c_id == c, "cv"].iloc[0], dtype=np.float64)
    assert sorted(want) == reb["c_id"].tolist()
    for _, r in reb.iterrows():
        got = np.asarray(r["cv"], dtype=np.float64)
        assert np.array_equal(got, want[int(r["c_id"])]), r["c_id"]


def test_rebalance_apply_delta_arithmetic(spark):
    """recall_delta == recall_after - recall_before exactly (both are
    tenths of integers), recalls in [0, 1], 16 query rows, and the
    scanned counts are positive (every query probes 2 live cells)."""
    df = (_q("ivf_rebalance_apply").fn(spark, SF_DIR)
          .toPandas().sort_values("q_id").reset_index(drop=True))
    assert list(df["q_id"]) == list(range(16))
    for c in ("recall_before", "recall_after"):
        assert df[c].between(0, 1).all()
    assert np.allclose(df["recall_delta"],
                       df["recall_after"] - df["recall_before"])
    assert (df["scanned_before"] > 0).all()
    assert (df["scanned_after"] > 0).all()


@pytest.mark.slow
def test_rebalance_fires_on_planted_skew(spark, tmp_path):
    """Planted-skew corpus: one dense hot cluster and one nearly-empty
    direction force a split AND a merge; the rebalanced artifact must
    contain the hot cell's children and drop the cold centroid, and
    the apply op must still produce 16 well-formed query rows."""
    rng = np.random.RandomState(7)
    k = S.KMEANS_K
    rows = []
    for i in range(400):
        if i % 10 == 0:
            base = np.zeros(16)
            base[1] = 10.0          # thin direction: cold cell
        else:
            base = np.ones(16)      # hot cluster
        rows.append((i, f"l{i % 3}",
                     (base + rng.normal(0, 0.05, 16)).astype("float32")))
    pdf = pd.DataFrame(rows, columns=["vec_id", "label", "embedding"])
    pdf["embedding"] = pdf["embedding"].map(list)
    spark.createDataFrame(pdf).write.parquet(
        f"{tmp_path}/embeddings.parquet")
    sf = str(tmp_path)
    orig = S.ensure_ivf_codebook(spark, sf)
    reb = S.ensure_ivf_rebalanced(spark, sf)
    orig_ids = {int(r["c_id"]) for r in orig}
    reb_ids = {int(r["c_id"]) for r in reb}
    assert len(orig_ids) == k
    # at least one split happened (some original cell has >= 2 children)
    children = {i for i in reb_ids
                if i % 100 != 0 or (i // 100) * 100 + 1 in reb_ids}
    assert children, (orig_ids, reb_ids)
    # at least one merge happened (strictly fewer lineages than k)
    assert len({i // 100 for i in reb_ids}) < k
    df = (_q("ivf_rebalance_apply").fn(spark, sf)
          .toPandas().sort_values("q_id"))
    assert len(df) == 16
    assert df["recall_before"].between(0, 1).all()
    assert df["recall_after"].between(0, 1).all()


def test_rebalanced_path_keyed_by_content(spark):
    """The rebalanced artifact inherits the original's full-path +
    content-fingerprint keying (same invalidation discipline)."""
    p = S.ivf_rebalanced_path(SF_DIR)
    assert p == S.ivf_codebook_path(SF_DIR) + "_rebal"
    fp = table_fingerprint(SF_DIR, "embeddings")
    assert fp and hashlib.md5(
        f"{__import__('os').path.abspath(SF_DIR)}|{fp}".encode()
    ).hexdigest()[:10] in p


# ---------------------------------------------------------------------------
# dedup_state_compaction_apply — the integer maintain→verify seam
# ---------------------------------------------------------------------------


def test_compaction_apply_parity_at_pytest_sf(spark, duck):
    """The oracle recomputes compaction + ingest replay from the raw
    corpus (no artifact path inside), so the registered text parities
    at ANY SF directly."""
    assert_parity(spark, duck, _q("dedup_state_compaction_apply"),
                  sf_dir=SF_DIR)


def test_compaction_apply_invariants_and_artifact(spark):
    """Monotonicity (after <= before on every axis), exact missed
    accounting, and a pandas bit-replay of the persisted compacted
    index (= old index minus hot shingles)."""
    from covid_weather_etl_spark.operators import corpus as C

    r = (_q("dedup_state_compaction_apply").fn(spark, SF_DIR)
         .collect()[0].asDict())
    assert r["n_shingles_after"] <= r["n_shingles_before"]
    assert r["n_postings_after"] <= r["n_postings_before"]
    assert r["cand_after"] <= r["cand_before"]
    assert r["verified_after"] <= r["verified_before"]
    assert r["missed_pairs"] == (r["verified_before"]
                                 - r["verified_after"])
    assert r["missed_pairs"] >= 0

    full = pd.read_parquet(C.dedup_star_path(SF_DIR, "oldidx"))
    comp = pd.read_parquet(C.dedup_compacted_idx_path(SF_DIR))
    df = full.groupby("s").size()
    hot = set(df[df >= C.HOT_SHINGLE_DF].index)
    want = full[~full["s"].isin(hot)]
    assert len(comp) == len(want) == r["n_postings_after"]
    assert (set(map(tuple, comp[["doc_id", "s"]].values))
            == set(map(tuple, want[["doc_id", "s"]].values)))
    assert full["s"].nunique() == r["n_shingles_before"]
    assert comp["s"].nunique() == r["n_shingles_after"]
