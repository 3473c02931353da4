"""Independent-oracle tests for the MinHash / SimHash operators: a
plain-Python (hashlib) reimplementation of the same hash algebra must
agree exactly — no Spark expression is trusted to test itself — and
the LSH pipeline's recall vs brute-force shingle Jaccard must match
its banding calibration. (The operators additionally carry full DuckDB
replay oracles for the driver; these tests are the third engine.)
"""

from __future__ import annotations

import pytest

import hashlib

import pandas as pd

from covid_weather_etl_spark.operators import minhash as M
from tests.conftest import SF_DIR


def md5_int(s: str) -> int:
    """Python twin of minhash._md5_int (60-bit md5 prefix)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def shingle_set(text: str, n: int = 3) -> set[str]:
    words = text.split(" ")
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


@pytest.fixture(scope="module")
def docs_pdf() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def brute_force_jaccard_pairs(docs_pdf: pd.DataFrame, threshold: float):
    toks = {r.doc_id: shingle_set(r.text) for r in docs_pdf.itertuples()}
    ids = sorted(toks)
    out = {}
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1:]:
            inter = len(toks[d1] & toks[d2])
            if not inter:
                continue
            j = inter / len(toks[d1] | toks[d2])
            if j >= threshold:
                out[(d1, d2)] = j
    return out


def test_minhash_signature_matches_python(spark, docs, docs_pdf):
    """Spark signature == independent python implementation, doc by doc."""
    sigs = {r["doc_id"]: [r[f"sig_{i}"] for i in range(M.N_HASHES)]
            for r in M.minhash_signatures(docs).collect()}
    params = M._perm_params()
    for row in docs_pdf.head(25).itertuples():
        toks = shingle_set(row.text)
        hs = [md5_int(t) % M.MERSENNE for t in toks]
        expected = [min((a * h + b) % M.MERSENNE for h in hs)
                    for a, b in params]
        assert sigs[row.doc_id] == expected, f"doc {row.doc_id}"


def test_lsh_recall_and_precision(spark, docs, docs_pdf):
    """No false positives ever (exact re-check); full recall for
    strong near-dups (j ≥ 0.7: P(miss) = (1−0.49)¹⁶ ≈ 2e-5); recall at
    the j=0.5 boundary consistent with the banding calibration
    (P(candidate) = 1−(1−0.25)¹⁶ ≈ 0.99)."""
    truth = brute_force_jaccard_pairs(docs_pdf, 0.5)
    strong = {p for p, j in truth.items() if j >= 0.7}
    got = {(r["doc_id_1"], r["doc_id_2"]): r["jaccard"]
           for r in M.minhash_near_dup(spark, SF_DIR).collect()}
    assert set(got) <= set(truth)                       # no false positives
    assert strong <= set(got)                           # full strong recall
    if truth:
        assert len(got) / len(truth) >= 0.9             # boundary recall
    for pair, j in got.items():
        assert abs(j - truth[pair]) < 1e-12


def test_simhash_matches_python(spark, docs, docs_pdf):
    """Spark simhash == python majority-vote over hashlib token hashes."""
    fps = {r["doc_id"]: r["simhash"] for r in M.simhash(docs).collect()}
    for row in docs_pdf.head(25).itertuples():
        toks = set(row.text.split(" "))
        hs = [md5_int(t) for t in toks]
        fp = 0
        for i in range(M.SIMHASH_BITS):
            vote = sum(1 if (h >> i) & 1 else -1 for h in hs)
            if vote > 0:
                fp |= 1 << i
        assert fps[row.doc_id] == fp, f"doc {row.doc_id}"


@pytest.mark.slow
def test_simhash_near_dup_is_exact_close_pair_set(spark):
    """The operator returns EXACTLY the brute-force pair set at
    Hamming ≤ 5 (6-band pigeonhole guarantees completeness, the
    residual filter guarantees precision)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    fps = sorted((r["doc_id"], r["simhash"])
                 for r in M.simhash(docs).collect())
    truth = set()
    for i in range(len(fps)):
        for j in range(i + 1, len(fps)):
            if bin(fps[i][1] ^ fps[j][1]).count("1") <= M._SIMHASH_MAX_DIST:
                truth.add((fps[i][0], fps[j][0]))
    got = {(r["doc_id_1"], r["doc_id_2"])
           for r in M.simhash_near_dup(spark, SF_DIR).collect()}
    assert got == truth


def test_incremental_ingest_matches_bruteforce_and_skips_old_pairs(spark):
    """hashlib reimplementation of the md5-permutation banding +
    exact-Jaccard verify; the incremental result must equal the
    brute-force pair set MINUS the old×old pairs (the index-reuse
    contract), and backfill/intra-batch labels must match the split.
    """
    import hashlib

    from covid_weather_etl_spark.operators.minhash import (
        INC_OLD_CUT, INC_PERMS, INC_ROWS, INC_TAU,
        incremental_minhash_ingest,
    )

    out = incremental_minhash_ingest(spark, SF_DIR)
    got = {(r.doc_id_1, r.doc_id_2): (round(r.jaccard, 9), r.pair_kind)
           for r in out.collect()}

    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text").toPandas())

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    sets, bands, new = {}, {}, {}
    for _, r in docs.iterrows():
        toks = r.text.split(" ")
        sh = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        sets[r.doc_id] = sh
        mh = [min(md5(f"{p}|{s}") for s in sh) for p in range(INC_PERMS)]
        bands[r.doc_id] = ["|".join(mh[b * INC_ROWS:(b + 1) * INC_ROWS])
                           for b in range(INC_PERMS // INC_ROWS)]
        new[r.doc_id] = md5(str(r.doc_id))[:2] >= INC_OLD_CUT

    ids = sorted(sets)
    want = {}
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1:]:
            if not (new[d1] or new[d2]):
                continue                       # old×old: never re-checked
            if not any(a == b for a, b in zip(bands[d1], bands[d2])):
                continue
            inter = len(sets[d1] & sets[d2])
            j = inter / (len(sets[d1]) + len(sets[d2]) - inter)
            if j >= INC_TAU:
                kind = ("intra-batch" if new[d1] and new[d2]
                        else "backfill")
                want[(d1, d2)] = (round(j, 9), kind)

    assert got == want
    assert len(got) > 0                        # fixture has planted dups


def test_banding_calibration_planted_midrange(spark, tmp_path):
    """Planted docs with engineered mid-range Jaccard overlaps (shared
    token prefixes of varying length) must populate middle buckets and
    match an independent python recount of both the exact-Jaccard
    census and the banding candidacy; the theoretical column must be
    the analytic S-curve at bucket midpoints."""
    import hashlib
    import math

    import pandas as pd

    from covid_weather_etl_spark.operators.minhash import (
        CALIB_CUT, MERSENNE, N_BANDS, ROWS_PER_BAND, _perm_params)
    from covid_weather_etl_spark.queries.registry import all_queries

    base = [f"w{j}" for j in range(40)]
    # ids chosen to FALL IN the md5 doc sample (first hex char < '4')
    # so the planted ladder is actually censused
    import hashlib as _h
    ids = [i for i in range(100)
           if _h.md5(str(i).encode()).hexdigest()[0] < "4"][:12]
    rows = []
    for rank, did in enumerate(ids):
        # each doc shares a shrinking token prefix with the first —
        # a ladder of pairwise overlaps across the Jaccard range
        toks = (base[: 40 - 2 * rank]
                + [f"u{did}_{j}" for j in range(2 * rank)])
        rows.append((did, " ".join(toks), "en", "web"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf.text.str.len()
    spark.createDataFrame(pdf).write.parquet(f"{tmp_path}/documents.parquet")
    got = {r["bucket"]: r for r in
           all_queries()["minhash_banding_calibration"]
           .fn(spark, str(tmp_path)).collect()}

    # python recount over the same md5 sample
    def md5i(x: str) -> int:
        return int(hashlib.md5(x.encode()).hexdigest()[:15], 16)

    sample = {r[0]: r[1] for r in rows
              if hashlib.md5(str(r[0]).encode()).hexdigest()[0] < CALIB_CUT}
    sh = {d: {" ".join(t.split()[i:i + 3])
              for i in range(len(t.split()) - 2)}
          for d, t in sample.items()}
    params = _perm_params()

    def sig(tokens):
        hs = [md5i(s) % MERSENNE for s in tokens]
        return [min((a * h + b) % MERSENNE for h in hs) for a, b in params]

    sigs = {d: sig(s) for d, s in sh.items()}

    def bands(v):
        return {(i, "|".join(str(x) for x in
                             v[i * ROWS_PER_BAND:(i + 1) * ROWS_PER_BAND]))
                for i in range(N_BANDS)}

    expect: dict = {}
    ds = sorted(sh)
    for i, d1 in enumerate(ds):
        for d2 in ds[i + 1:]:
            c = len(sh[d1] & sh[d2])
            if c == 0:
                continue
            u = len(sh[d1] | sh[d2])
            bkt = min(int(math.floor(c * 10.0 / u)), 9)
            is_cand = bool(bands(sigs[d1]) & bands(sigs[d2]))
            n, k = expect.get(bkt, (0, 0))
            expect[bkt] = (n + 1, k + (1 if is_cand else 0))
    assert set(got) == set(expect)
    assert any(0 < b < 9 for b in expect), expect   # midrange populated
    for bkt, (n, k) in expect.items():
        r = got[bkt]
        assert r["n_pairs"] == n and r["n_candidates"] == k
        assert r["observed_rate"] == math.floor(k / n * 1e6 + 0.5) / 1e6
        s_mid = (bkt + 0.5) / 10.0
        p = 1.0 - (1.0 - s_mid ** ROWS_PER_BAND) ** N_BANDS
        assert r["theoretical_rate"] == math.floor(p * 1e6 + 0.5) / 1e6
