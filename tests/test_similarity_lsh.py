"""Recall/precision tests for the random-hyperplane LSH near-dup path.

The driver corpus has no high-similarity pairs (max cosine ≈ 0.51), so
the LSH operator's recall is pinned on PLANTED near-duplicates: clones
of corpus vectors with small noise, which land at cosine ≥ 0.95 where
the banding calibration promises ≥ 0.99 candidate probability.
"""

from __future__ import annotations

import pytest

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from covid_weather_etl_spark.operators import similarity as S
from tests.conftest import SF_DIR, bitrows


@pytest.fixture(scope="module")
def planted(spark):
    """Corpus + 40 noised clones (ids 10000+i cloned from i)."""
    base = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    rng = np.random.RandomState(7)
    clones = []
    for i in range(40):
        v = np.asarray(base.loc[i, "embedding"], dtype=np.float64)
        noisy = v + rng.standard_normal(v.size) * 0.05 * np.abs(v).mean()
        clones.append({"vec_id": 10000 + int(base.loc[i, "vec_id"]),
                       "embedding": noisy.astype(np.float32),
                       "label": int(base.loc[i, "label"])})
    pdf = pd.concat([base, pd.DataFrame(clones)], ignore_index=True)
    sdf = spark.createDataFrame(pdf)
    return pdf, sdf.withColumn("v", F.col("embedding").cast("array<double>"))


def _true_pairs(pdf: pd.DataFrame, t: float) -> set[tuple[int, int]]:
    X = np.stack([np.asarray(e, dtype=np.float64) for e in pdf.embedding])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    sims = X @ X.T
    ids = pdf.vec_id.to_numpy()
    out = set()
    iu, ju = np.where(np.triu(sims >= t, k=1))
    for i, j in zip(iu, ju):
        a, b = int(ids[i]), int(ids[j])
        out.add((min(a, b), max(a, b)))
    return out


def _lsh_pairs(banded_src, threshold: float):
    banded = S.rp_band_hashes(banded_src)
    a, b = banded.alias("a"), banded.alias("b")
    sim = F.round(S.cosine(F.col("va"), F.col("vb")), 6)
    cands = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bh") == F.col("b.bh"))
                    & (F.col("a.vec_id") < F.col("b.vec_id")))
             .select(F.col("a.vec_id").alias("vec_id_1"),
                     F.col("b.vec_id").alias("vec_id_2"),
                     F.col("a.v").alias("va"), F.col("b.v").alias("vb"))
             .dropDuplicates(["vec_id_1", "vec_id_2"]))
    return (cands.select("vec_id_1", "vec_id_2", sim.alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold))


def test_lsh_recall_on_planted_near_dups(spark, planted):
    pdf, sdf = planted
    truth = _true_pairs(pdf, 0.95)
    planted_pairs = {p for p in truth if p[1] >= 10000}
    assert len(planted_pairs) >= 35  # the clones really are near-dups
    got = {(r.vec_id_1, r.vec_id_2)
           for r in _lsh_pairs(sdf, 0.95).collect()}
    # no false positives (exact re-check) ...
    assert got <= _true_pairs(pdf, 0.95 - 1e-9)
    # ... and ≥95% recall at cos ≥ 0.95 (calibration says ≈99%)
    assert len(got & planted_pairs) >= 0.95 * len(planted_pairs)


def test_lsh_candidate_pruning(spark, planted):
    """Band join must examine far fewer pairs than brute force."""
    pdf, sdf = planted
    banded = S.rp_band_hashes(sdf)
    a, b = banded.alias("a"), banded.alias("b")
    n_cands = (a.join(b, (F.col("a.band") == F.col("b.band"))
                     & (F.col("a.bh") == F.col("b.bh"))
                     & (F.col("a.vec_id") < F.col("b.vec_id")))
               .select("a.vec_id", "b.vec_id").distinct().count())
    n = len(pdf)
    assert n_cands < 0.15 * n * (n - 1) / 2


def test_rp_lsh_empty_on_driver_corpus(spark):
    """Driver corpus max similarity ≈0.51 — no pairs at the 0.9
    design threshold; operator must return an empty, well-formed frame."""
    df = S.rp_lsh_near_dup(spark, SF_DIR)
    assert df.columns == ["vec_id_1", "vec_id_2", "cos_sim"]
    assert df.count() == 0


def test_embedding_near_dup_equals_brute_force(spark):
    """The blocked all-pairs decomposition returns EXACTLY the numpy
    brute-force pair set — regression for the cross-block ordering bug
    where a pair whose smaller vec_id hashed to the right-side block
    was silently dropped."""
    pdf = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    ids = pdf["vec_id"].to_numpy()
    X = np.stack([np.asarray(e, dtype=np.float64)
                  for e in pdf["embedding"]])
    n = np.sqrt((X * X).sum(axis=1))
    sim = np.round((X @ X.T) / np.outer(n, n), 6)
    iu, ju = np.triu_indices(len(ids), k=1)
    keep = sim[iu, ju] >= S.NEAR_DUP_T
    truth = {(int(min(ids[i], ids[j])), int(max(ids[i], ids[j]))):
             float(sim[i, j]) for i, j in zip(iu[keep], ju[keep])}
    got = {(r["vec_id_1"], r["vec_id_2"]): r["cos_sim"]
           for r in S.embedding_near_dup(spark, SF_DIR).collect()}
    assert got == truth


@pytest.mark.slow
def test_ivf_kmeans_codebook_deterministic_and_recall(spark):
    """Trained-IVF: the Lloyd loop is RNG-free (two runs produce the
    identical codebook), and the probe-cell search finds a meaningful
    share of the true brute-force top-5 (IVF trades recall for a
    ~1/k scan; with one probe cell the true neighbors concentrate in
    the probe's cell because k-means groups by the same geometry)."""
    emb = S._vecs(
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet"))
    cb1 = {r["c_id"]: tuple(r["cv"]) for r in
           S.train_ivf_codebook(emb).collect()}
    cb2 = {r["c_id"]: tuple(r["cv"]) for r in
           S.train_ivf_codebook(emb).collect()}
    assert cb1 == cb2
    assert len(cb1) == S.KMEANS_K

    got = [r["vec_id"] for r in S.ivf_kmeans_topk(spark, SF_DIR).collect()]
    truth = [r["vec_id"] for r in S.cosine_topk(spark, SF_DIR).limit(5).collect()]
    assert len(got) == 5
    assert len(set(got) & set(truth)) >= 2   # recall@5 >= 0.4 with 1 probe


def test_random_projection_jl_concentration(spark):
    """JL norm preservation: E[ratio] = 1, sd ~ sqrt(2/k) = 0.354 at
    k=16 — the mean over 500 vectors must sit within 5 sigma/sqrt(n)
    of 1 and individual ratios inside a generous (0.2, 3.0) band."""
    from covid_weather_etl_spark.queries.registry import all_queries
    pdf = all_queries()["random_projection_embed"].fn(spark, SF_DIR).toPandas()
    r = pdf.norm_ratio.to_numpy()
    assert len(r) >= 100
    import math
    assert abs(r.mean() - 1.0) < 5 * math.sqrt(2 / 16) / math.sqrt(len(r))
    assert (r > 0.2).all() and (r < 3.0).all()
    assert (pdf.orig_sq_norm > 0).all()


def test_random_projection_matches_numpy(spark):
    """Bit-level pin: the engine's projected squared norms equal a
    numpy recomputation with the same md5 sign matrix and the same
    9dp-round-then-sum discipline (up to the 6dp output round)."""
    import hashlib
    import numpy as np
    import pandas as pd
    from covid_weather_etl_spark.operators.similarity import RP_K
    from covid_weather_etl_spark.queries.registry import all_queries
    got = (all_queries()["random_projection_embed"].fn(spark, SF_DIR)
           .toPandas().set_index("vec_id"))
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet").set_index("vec_id")
    S = np.array([[1.0 if int(hashlib.md5(f"{i}:{j}".encode())
                              .hexdigest()[0], 16) % 2 == 0 else -1.0
                   for j in range(RP_K)] for i in range(64)])
    scale = 1.0 / RP_K ** 0.5
    for vid in list(emb.index)[:25]:
        x = emb.loc[vid].embedding.astype(np.float64)
        terms = np.round(x[:, None] * S * scale, 9)
        pj = terms.sum(axis=0)
        proj_sq = np.round(pj * pj, 9).sum()
        assert abs(got.loc[vid].proj_sq_norm - round(proj_sq, 6)) < 2e-6


def test_hard_negatives_are_hardest_wrong_label(spark):
    """Every mined negative must have a different label than its
    anchor AND be at least as similar as every other wrong-label
    vector outside the mined set (numpy brute-force check)."""
    import numpy as np

    from covid_weather_etl_spark.operators.similarity import (
        HN_ANCHORS, HN_K,
    )
    from covid_weather_etl_spark.queries.registry import all_queries
    got = (all_queries()["hard_negative_mining"].fn(spark, SF_DIR)
           .toPandas())
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    M = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    labels = emb.label.to_numpy()
    ids = emb.vec_id.to_numpy()
    assert got.groupby("a_id").size().eq(HN_K).all()
    assert (got.a_label != got.label).all()
    for a_id, g in got.groupby("a_id"):
        ai = np.where(ids == a_id)[0][0]
        sims = np.round(M @ M[ai], 6)
        wrong = (labels != labels[ai]) & (ids != a_id)
        order = sorted(zip(-sims[wrong], ids[wrong]))[:HN_K]
        want = {int(v) for _, v in order}
        assert set(g.vec_id) == want, a_id


def test_pca_top_component_matches_replay_and_eigh_band(spark):
    """Two pins: (1) EXACT equality against an independent pure-python
    replay of the graduated protocol (integer Gramian of 1e-6-quantized
    embeddings, trace floor-div normalization, fixed-round grid power
    iteration) — the same recurrence the DuckDB oracle replays; (2) a
    quality band against a straight numpy eigh PCA (the corpus'
    spectral-gap ratio is ~0.99, so finite iteration + quantization
    legitimately move loadings at the 1e-4 level — the band asserts
    the direction and the variance ratio, not bit equality)."""
    import math

    import numpy as np
    import pandas as pd

    from covid_weather_etl_spark.operators.similarity import (
        PCA_Q, _pca_power_solve,
    )
    from covid_weather_etl_spark.queries.registry import all_queries
    from tests.conftest import SF_DIR

    got = (all_queries()["pca_top_component"].fn(spark, SF_DIR)
           .toPandas().sort_values("dim").reset_index(drop=True))
    X = np.stack(pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
                 .embedding.to_numpy()).astype(np.float64)
    n, d = X.shape
    # (1) exact replay: quantize, integer Gramian, shared solver
    U = [[math.floor(float(X[v, k]) * PCA_Q + 0.5) for k in range(d)]
         for v in range(n)]
    su = [sum(U[v][k] for v in range(n)) for k in range(d)]
    M = {}
    for i in range(d):
        for j in range(i, d):
            gp = sum(U[v][i] * U[v][j] for v in range(n))
            M[(i, j)] = M[(j, i)] = n * gp - su[i] * su[j]
    loadings, evr = _pca_power_solve(M, d)
    assert len(got) == d
    assert got.loading.tolist() == loadings          # EXACT
    assert (got.explained_var_ratio == evr).all()    # EXACT
    # (2) eigh quality band
    Xc = X - X.mean(axis=0)
    vals, vecs = np.linalg.eigh(Xc.T @ Xc / n)
    ve = vecs[:, -1]
    pv = got.loading.to_numpy()
    cos = abs(float(pv @ ve)) / float(np.linalg.norm(pv))
    assert cos >= 0.999, cos
    assert abs(got.explained_var_ratio[0]
               - vals[-1] / vals.sum()) < 1e-4
    assert 0.0 < got.explained_var_ratio[0] < 1.0


def test_rrf_fusion_matches_python_recount(spark):
    """Rebuild both channel rankings independently (bm25 scores from
    the oracle-checked sparse query; dense cosine in numpy) and fuse
    them in pure python — the engine's top-10 must match exactly,
    including the rank-sentinel-0 convention for docs absent from a
    channel's pool."""
    import numpy as np
    import pandas as pd

    from covid_weather_etl_spark.operators.similarity import (
        RRF_K, RRF_POOL, RRF_TOP,
    )
    from covid_weather_etl_spark.operators.text import bm25_doc_scores
    from covid_weather_etl_spark.queries.registry import all_queries
    from tests.conftest import SF_DIR

    got = (all_queries()["rrf_hybrid_retrieval"].fn(spark, SF_DIR)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    assert len(got) == RRF_TOP

    bm = bm25_doc_scores(spark, SF_DIR).toPandas()
    bm = bm[bm.doc_id != 0].sort_values(
        ["bm25", "doc_id"], ascending=[False, True]).head(RRF_POOL)
    sp_rank = {d: i + 1 for i, d in enumerate(bm.doc_id)}

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    V = np.stack([np.asarray(v, dtype=np.float64) for v in emb.embedding])
    qv = V[emb.vec_id.tolist().index(0)]
    cos = V @ qv / (np.linalg.norm(V, axis=1) * np.linalg.norm(qv))
    de = pd.DataFrame({"doc_id": emb.vec_id, "cos": np.round(cos, 6)})
    de = de[de.doc_id != 0].sort_values(
        ["cos", "doc_id"], ascending=[False, True]).head(RRF_POOL)
    de_rank = {d: i + 1 for i, d in enumerate(de.doc_id)}

    fused = {}
    for d in set(sp_rank) | set(de_rank):
        fused[d] = ((1.0 / (RRF_K + sp_rank[d]) if d in sp_rank else 0.0)
                    + (1.0 / (RRF_K + de_rank[d]) if d in de_rank else 0.0))
    top = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:RRF_TOP]
    want = pd.DataFrame(
        [(d, sp_rank.get(d, 0), de_rank.get(d, 0), s) for d, s in top],
        columns=["doc_id", "sparse_rank", "dense_rank", "score"]
    ).sort_values("doc_id").reset_index(drop=True)

    assert list(got.doc_id) == list(want.doc_id)
    assert list(got.sparse_rank) == list(want.sparse_rank)
    assert list(got.dense_rank) == list(want.dense_rank)
    import math
    for a, b in zip(got.rrf_score, want.score):
        assert math.isclose(a, math.floor(b * 1e6 + 0.5) / 1e6,
                            abs_tol=1e-12)


def test_mmr_skips_near_copies_plain_topk_keeps(spark, tmp_path):
    """Planted geometry: three near-copies sit closest to the query
    (cos 0.85 to q, ≈0.9996 mutually — redundant), five diverse docs
    at cos 0.80 (their div to a picked copy is 0.8·0.85 = 0.68).
    Plain top-5 returns all three copies first; MMR(λ=0.7) must keep
    ONE copy (step 1: 0.595) and fill with diverse docs — copy₂
    scores 0.595 − 0.3·0.9996 ≈ 0.295 < diverse 0.56 − 0.204 =
    0.356."""
    import math

    import numpy as np
    import pandas as pd

    from covid_weather_etl_spark.operators.similarity import MMR_K
    from covid_weather_etl_spark.queries.registry import all_queries

    dim = 8

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return v / np.linalg.norm(v)

    q = unit([1, 0, 0, 0, 0, 0, 0, 0])
    vecs = {0: q}
    # three near-copies: 0.85·q + 0.527·(u ± tiny tilt)
    for i, eps in enumerate((0.0, 0.02, -0.02), start=1):
        tilt = unit([0, 1, eps, 0, 0, 0, 0, 0])
        vecs[i] = unit(0.85 * q + math.sqrt(1 - 0.85 ** 2) * tilt)
    # five diverse docs at cos 0.80 to q, mutually spread axes
    for j in range(5):
        axis = np.zeros(dim)
        axis[3 + j] = 1.0
        vecs[4 + j] = unit(0.8 * q + math.sqrt(1 - 0.64) * axis)
    pdf = pd.DataFrame({
        "vec_id": list(vecs),
        "label": ["x"] * len(vecs),
        "embedding": [np.asarray(v, dtype=np.float32) for v in vecs.values()],
    })
    spark.createDataFrame(pdf).write.parquet(
        f"{tmp_path}/embeddings.parquet")
    out = (all_queries()["mmr_diverse_topk"].fn(spark, str(tmp_path))
           .collect())
    assert len(out) == MMR_K
    picked = [r["doc_id"] for r in sorted(out, key=lambda r: r["step"])]
    # step 1 = most relevant copy; copies 2,3 never selected
    assert picked[0] in (1, 2, 3)
    assert len([d for d in picked if d in (1, 2, 3)]) == 1
    assert set(picked[1:]) <= {4, 5, 6, 7, 8}
    # scores strictly follow the greedy objective ordering
    steps = sorted(out, key=lambda r: r["step"])
    for r in steps[1:]:
        assert r["mmr_score"] <= steps[0]["mmr_score"] + 1e-9


def test_mmr_tiny_pool_returns_short_ranking(spark, tmp_path):
    """A corpus with fewer than MMR_K non-probe vectors must yield a
    SHORT ranking, not a crash: the greedy loop exhausts the pool and
    stops (advice r5 — it previously unpacked best=None into a
    TypeError). The oracle's sel_k CTEs go empty past the pool size in
    the same way."""
    import numpy as np
    import pandas as pd

    from covid_weather_etl_spark.operators.similarity import MMR_K
    from covid_weather_etl_spark.queries.registry import all_queries

    n_docs = MMR_K - 3  # 2 non-probe vectors
    vecs = {0: [1.0] + [0.0] * 7}
    for i in range(1, n_docs + 1):
        v = [1.0] + [0.0] * 7
        v[i] = 0.5
        vecs[i] = list(np.asarray(v) / np.linalg.norm(v))
    pdf = pd.DataFrame({
        "vec_id": list(vecs),
        "label": ["x"] * len(vecs),
        "embedding": [np.asarray(v, dtype=np.float32) for v in vecs.values()],
    })
    spark.createDataFrame(pdf).write.parquet(
        f"{tmp_path}/embeddings.parquet")
    out = (all_queries()["mmr_diverse_topk"].fn(spark, str(tmp_path))
           .collect())
    assert len(out) == n_docs
    assert sorted(r["step"] for r in out) == list(range(1, n_docs + 1))
    assert {r["doc_id"] for r in out} == set(range(1, n_docs + 1))


def test_codebook_paths_are_content_keyed(tmp_path):
    """Regenerating a corpus at the SAME path must move every artifact
    location derived from that table (content fingerprint in the
    digest — advice r5), so a stale persisted artifact is never
    silently reused: the IVF/PQ codebooks (embeddings) and the dedup
    stars and BPE tokenizer (documents). A corrupt footer must raise,
    not alias the "no corpus" location."""
    import pyarrow as pa

    from covid_weather_etl_spark.functions.artifacts import (
        table_fingerprint)
    from covid_weather_etl_spark.operators.corpus import dedup_star_path
    from covid_weather_etl_spark.operators.pq import pq_codebook_path
    from covid_weather_etl_spark.operators.similarity import (
        ivf_codebook_path)
    from covid_weather_etl_spark.operators.text import bpe_paths

    corpus = tmp_path / "sf_tiny"
    corpus.mkdir()
    sf = str(corpus)
    keyed = {
        "embeddings": (lambda: (ivf_codebook_path(sf), pq_codebook_path(sf)),
                       lambda n: {"vec_id": range(n),
                                  "embedding": [[1.0, i / n]
                                                for i in range(n)]}),
        "documents": (lambda: (dedup_star_path(sf, "full"),
                               dedup_star_path(sf, "old"), *bpe_paths(sf)),
                      lambda n: {"doc_id": range(n),
                                 "text": [f"doc {i}" for i in range(n)]}),
    }
    for table, (paths, rows) in keyed.items():
        f = corpus / f"{table}.parquet"
        assert table_fingerprint(sf, table) == ""  # no table yet
        seen = [paths()]
        for n in (2, 3):  # write, then regenerate at the same path
            pd.DataFrame(rows(n)).to_parquet(f)
            assert table_fingerprint(sf, table)
            seen.append(paths())
        for before, after in zip(seen, seen[1:]):
            assert all(a != b for a, b in zip(before, after))
        f.write_bytes(b"not a parquet file")
        with pytest.raises(pa.ArrowInvalid):
            paths()
        f.unlink()

    # a Spark-written table is a directory of part files: keyed too
    part = corpus / "embeddings.parquet" / "part-0.parquet"
    part.parent.mkdir()
    pd.DataFrame(keyed["embeddings"][1](2)).to_parquet(part)
    assert table_fingerprint(sf, "embeddings") == (
        f"n2b{part.stat().st_size}")


def test_binary_hamming_topk_matches_numpy(spark):
    """Independent numpy recount: sign-bit codes, exact Hamming to the
    probe, (hamming, vec_id) ordering — and the packed two-word codes
    must reproduce the per-dimension sign disagreement count exactly."""
    import numpy as np

    from covid_weather_etl_spark.operators.similarity import BIN_TOPK
    from covid_weather_etl_spark.queries.registry import all_queries
    from tests.conftest import SF_DIR

    got = (all_queries()["binary_hamming_topk"].fn(spark, SF_DIR)
           .collect())
    assert len(got) == BIN_TOPK

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    vecs = {int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
            for r in emb.itertuples()}
    probe_bits = vecs[0] >= 0
    ham = {vid: int((probe_bits != (v >= 0)).sum())
           for vid, v in vecs.items() if vid != 0}
    want = sorted(ham.items(), key=lambda kv: (kv[1], kv[0]))[:BIN_TOPK]
    assert [(r["vec_id"], r["hamming"]) for r in got] == want
    # cosine rides along for re-ranking and must be the real cosine
    for r in got:
        v = vecs[r["vec_id"]]
        p = vecs[0]
        cos = float(v @ p / (np.linalg.norm(v) * np.linalg.norm(p)))
        assert abs(r["cos_sim"] - cos) < 1e-5


def test_ann_recall_eval_matches_numpy(spark):
    """Independent numpy replay of the whole recall harness: centroid
    assignment, nprobe=2 probing, exact and ANN top-10 sets, hit
    counts and scanned-candidate counts per query."""
    import numpy as np

    from covid_weather_etl_spark.queries.registry import all_queries
    from tests.conftest import SF_DIR

    got = {r["q_id"]: (r["n_hits"], r["recall_at_10"], r["n_scanned"])
           for r in all_queries()["ann_recall_eval"].fn(spark, SF_DIR)
           .collect()}

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    vecs = {int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
            for r in emb.itertuples()}

    def cos(a, b):
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))),
                     6)

    cents = {c: vecs[c] for c in range(8)}
    cell = {vid: max(cents, key=lambda c: (cos(v, cents[c]), -c))
            for vid, v in vecs.items()}
    for q in range(16):
        qv = vecs[q]
        exact = sorted(((vid, cos(v, qv)) for vid, v in vecs.items()
                        if vid != q), key=lambda t: (-t[1], t[0]))[:10]
        probe = sorted(cents, key=lambda c: (-cos(qv, cents[c]), c))[:2]
        cands = [vid for vid, v in vecs.items()
                 if cell[vid] in probe and vid != q]
        ann = sorted(((vid, cos(vecs[vid], qv)) for vid in cands),
                     key=lambda t: (-t[1], t[0]))[:10]
        hits = len({v for v, _ in exact} & {v for v, _ in ann})
        assert got[q] == (hits, hits / 10.0, len(cands)), q
    assert set(got) == set(range(16))


def test_ivf_cell_balance_profile_invariants(spark):
    """k rows (one per centroid, empty cells kept), counts partition
    the corpus exactly, shares sum to 1, skew = share * k."""
    import math

    from covid_weather_etl_spark.operators.similarity import KMEANS_K
    from covid_weather_etl_spark.queries.registry import all_queries
    from tests.conftest import SF_DIR

    got = (all_queries()["ivf_cell_balance_profile"].fn(spark, SF_DIR)
           .toPandas())
    n_corpus = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert len(got) == KMEANS_K
    assert sorted(got.cell) == list(range(KMEANS_K))
    assert got.n_vecs.sum() == n_corpus
    assert math.isclose(got.share.sum(), 1.0, rel_tol=1e-12)
    for _, r in got.iterrows():
        # r["skew"], not r.skew — pandas shadows the column with the
        # Series.skew method
        assert math.isclose(r["skew"], r["share"] * KMEANS_K,
                            rel_tol=1e-12)


def test_matryoshka_recall_eval_matches_numpy(spark):
    """numpy replay: full-dim ground truth, prefix-truncated top-10
    per width, aggregate hit counts; recall must be non-decreasing in
    width (more dims can only better approximate the full metric on
    this corpus's curve)."""
    import numpy as np

    from covid_weather_etl_spark.operators.similarity import (
        MRL_K, MRL_QUERIES, MRL_WIDTHS,
    )
    from covid_weather_etl_spark.queries.registry import all_queries
    from tests.conftest import SF_DIR

    got = {r["trunc_dims"]: r.asDict() for r in
           all_queries()["matryoshka_recall_eval"].fn(spark, SF_DIR)
           .collect()}

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    vecs = {int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
            for r in emb.itertuples()}

    def cos(a, b):
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))),
                     6)

    def top10(d):
        out = {}
        for q in range(MRL_QUERIES):
            qv = vecs[q][:d] if d else vecs[q]
            ranked = sorted(
                ((vid, cos(v[:d] if d else v, qv))
                 for vid, v in vecs.items() if vid != q),
                key=lambda t: (-t[1], t[0]))[:MRL_K]
            out[q] = {v for v, _ in ranked}
        return out

    exact = top10(0)
    for d in MRL_WIDTHS:
        tr = top10(d)
        hits = sum(len(exact[q] & tr[q]) for q in range(MRL_QUERIES))
        g = got[d]
        assert g["n_hits"] == hits, d
        assert g["recall_at_10"] == hits / (MRL_QUERIES * MRL_K), d
    recalls = [got[d]["recall_at_10"] for d in MRL_WIDTHS]
    assert recalls == sorted(recalls)


def test_sq8_recall_eval_matches_numpy_replay(spark):
    """SQ8 pipeline replayed in numpy: per-dim min/max grid, integer
    quantized dot scores, top-k by (score desc, vec_id), recall vs the
    floor-snapped exact cosine top-k — exact equality end to end."""
    import math

    import numpy as np
    import pandas as pd

    from covid_weather_etl_spark.operators.similarity import SQ8_K
    from covid_weather_etl_spark.queries.registry import all_queries
    from tests.conftest import SF_DIR

    got = (all_queries()["sq8_recall_eval"].fn(spark, SF_DIR)
           .toPandas().sort_values("rank").reset_index(drop=True))
    df = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    X = np.stack(df.embedding.to_numpy()).astype(np.float64)
    ids = df.vec_id.to_numpy()
    mn, mx = X.min(axis=0), X.max(axis=0)
    span = np.where(mx > mn, mx - mn, 1.0)
    Q = np.floor((X - mn) / span * 255.0 + 0.5).astype(np.int64)
    Q[:, mx == mn] = 0
    probe = Q[ids == 0][0]
    scores = {int(i): int(Q[j] @ probe)
              for j, i in enumerate(ids) if i != 0}
    order = sorted(scores, key=lambda i: (-scores[i], i))[:SQ8_K]
    # exact baseline: floor-snapped cosine
    p = X[ids == 0][0]

    def cos(a, b):
        return float(a @ b / (math.sqrt(a @ a) * math.sqrt(b @ b)))

    exact = sorted((int(i) for i in ids if i != 0),
                   key=lambda i: (-math.floor(
                       cos(X[list(ids).index(i)], p) * 1e6 + 0.5), i))[:SQ8_K]
    hits = len(set(order) & set(exact))
    assert got.vec_id.tolist() == order
    assert got.sq8_score.tolist() == [scores[i] for i in order]
    assert got.in_exact_topk.tolist() == [i in set(exact) for i in order]
    assert (got.recall_at_k == hits / SQ8_K).all()
    assert got["rank"].tolist() == list(range(1, SQ8_K + 1))


def test_ivf_incremental_ingest_invariants(spark):
    """Batch accounting must be internally consistent: totals add up,
    shares sum to ~1 (rounding aside), the signed drift sums to ~0,
    and the split matches the md5 convention."""
    import hashlib

    import pandas as pd

    from covid_weather_etl_spark.operators.similarity import IVF_INC_CUT
    from covid_weather_etl_spark.queries.registry import all_queries
    from tests.conftest import SF_DIR

    rows = all_queries()["ivf_incremental_ingest"].fn(spark, SF_DIR) \
        .collect()
    assert rows
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    want_new = sum(
        1 for v in emb["vec_id"]
        if hashlib.md5(str(v).encode()).hexdigest()[:2] >= IVF_INC_CUT)
    assert sum(r["n_new"] for r in rows) == want_new
    assert sum(r["n_total"] for r in rows) == len(emb)
    for r in rows:
        assert r["n_total"] == r["n_old"] + r["n_new"]
        assert 0.0 <= r["share_before"] <= 1.0
        assert 0.0 <= r["share_after"] <= 1.0
    assert abs(sum(r["share_after"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["load_drift"] for r in rows)) < 1e-4


def test_ivf_nprobe_sweep_monotone(spark):
    """Recall and scanned share must both be monotone nondecreasing in
    nprobe, recall must hit 1.0 when every cell is probed only if
    nprobe covers all cells, and shares must be valid ratios."""
    from covid_weather_etl_spark.operators.similarity import NPROBE_GRID
    from covid_weather_etl_spark.queries.registry import all_queries
    from tests.conftest import SF_DIR

    rows = {r["nprobe"]: r for r in
            all_queries()["ivf_nprobe_recall_sweep"].fn(spark, SF_DIR)
            .collect()}
    assert set(rows) == set(NPROBE_GRID)
    grid = sorted(NPROBE_GRID)
    for a, b in zip(grid, grid[1:]):
        assert rows[a]["avg_recall"] <= rows[b]["avg_recall"] + 1e-9
        assert (rows[a]["avg_scanned_share"]
                <= rows[b]["avg_scanned_share"] + 1e-9)
    for r in rows.values():
        assert 0.0 <= r["avg_recall"] <= 1.0
        assert 0.0 < r["avg_scanned_share"] <= 1.0
        assert r["n_hits"] <= r["n_queries"] * 10


@pytest.mark.slow
def test_cluster_purity_driver_path_equals_distributed(spark, monkeypatch):
    """r12 driver resolution of the purity/NMI algebra: (1) Spark's
    F.log is bitwise StrictMath.log (the py4j replay's source — C libm
    differs by 1 ulp on ~7% of inputs, measured); (2) the driver path
    equals the distributed path bitwise on the fixture corpus."""
    import math
    import struct

    from pyspark.sql import functions as F

    import covid_weather_etl_spark.operators.similarity as S
    from covid_weather_etl_spark.functions import driver

    sm = spark._jvm.java.lang.StrictMath
    xs = [0.1 * k + 0.0001 for k in range(1, 200)]
    jv = (spark.createDataFrame([(x,) for x in xs], "x double")
          .select(F.log("x").alias("l")).collect())
    assert all(struct.pack("d", r["l"]) == struct.pack("d", sm.log(x))
               for r, x in zip(jv, xs))

    drv = bitrows(S.cluster_purity_nmi_eval(spark, SF_DIR))
    monkeypatch.setattr(driver, "FORCE_DISTRIBUTED", True)
    dist = bitrows(S.cluster_purity_nmi_eval(spark, SF_DIR))
    assert drv == dist and len(drv) >= 2
