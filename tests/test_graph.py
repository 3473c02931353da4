"""Pins for weighted PageRank (operators/graph.py): parity with a
dense numpy power iteration running the IDENTICAL bipartite Aitken
extrapolation and L1 early-exit rule, rank-mass conservation, and
determinism across runs.
"""

from __future__ import annotations

import pytest

import numpy as np
import pandas as pd

from covid_weather_etl_spark.operators import graph
from covid_weather_etl_spark.operators.graph import (
    DAMPING, PR_ROUNDS, PR_TOL, pagerank, purchase_edges,
)
from covid_weather_etl_spark.queries.registry import all_queries
from covid_weather_etl_spark.sources.catalog import load_tables
from tests.conftest import SF_DIR

QUERIES = all_queries()


def _numpy_pagerank(sf_dir=SF_DIR):
    """Same algorithm as graph.pagerank: raw power steps, extrapolated
    sequence est_k = prev + (new − prev)·inv, stop when L1 est delta
    < tol or at the round cap. Returns (ranks, rounds_run)."""
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    pairs = (li.merge(od, left_on="l_orderkey", right_on="o_orderkey")
             .groupby(["o_custkey", "l_suppkey"]).size().reset_index(name="w"))
    nodes = sorted({f"c:{c}" for c in pairs.o_custkey}
                   | {f"s:{s}" for s in pairs.l_suppkey})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    for _, r in pairs.iterrows():
        c, s, w = idx[f"c:{r.o_custkey}"], idx[f"s:{r.l_suppkey}"], r.w
        A[c, s] += w
        A[s, c] += w
    P = A / A.sum(axis=1, keepdims=True)     # row-stochastic
    inv = 1.0 / (1.0 + DAMPING)
    rank = np.full(n, 1.0 / n)
    est = None
    rounds_run = 0
    for i in range(PR_ROUNDS):
        new = (1 - DAMPING) / n + DAMPING * (P.T @ rank)
        rounds_run = i + 1
        est_new = rank + (new - rank) * inv
        if est is not None and np.abs(est_new - est).sum() < PR_TOL:
            est, rank = est_new, new
            break
        est, rank = est_new, new
    return {v: est[i] for v, i in idx.items()}, rounds_run


def test_pagerank_matches_power_iteration(spark):
    t = load_tables(spark, SF_DIR, ("lineitem", "orders"))
    got = {r["node"]: r["rank"]
           for r in pagerank(purchase_edges(t)).collect()}
    want, np_rounds = _numpy_pagerank()
    # both engines must stop at the same round for bit-parity
    assert graph.LAST_ROUNDS == np_rounds
    assert np_rounds < PR_ROUNDS  # the early exit actually fired
    assert set(got) == set(want)
    for v, r in want.items():
        assert abs(got[v] - r) < 1e-12, (v, got[v], r)


@pytest.mark.slow
def test_rank_mass_conserved_and_deterministic(spark):
    df = QUERIES["pagerank_suppliers"].fn(spark, SF_DIR)
    a = df.collect()
    b = QUERIES["pagerank_suppliers"].fn(spark, SF_DIR).collect()
    assert a == b
    assert len(a) > 0
    # suppliers' share of total mass is positive and below 1; the
    # full graph's mass (suppliers + customers) must be ~1 — recompute
    # (extrapolation conserves mass: its weights d/(1+d), 1/(1+d) sum to 1)
    want, _ = _numpy_pagerank()
    assert abs(sum(want.values()) - 1.0) < 1e-9
    supp_mass = sum(v for k, v in want.items() if k.startswith("s:"))
    got_mass = sum(r["rank"] for r in a)
    assert abs(got_mass - supp_mass) < 1e-6
    # ordering is by rank desc with suppkey tiebreak
    ranks = [r["rank"] for r in a]
    assert ranks == sorted(ranks, reverse=True)


def test_triangle_count_matches_python_recount(spark):
    """Exact triangle/wedge recount with python sets — independent of
    both the engine's join order and the oracle's SQL."""
    import itertools

    from covid_weather_etl_spark.operators.graph import TRI_MIN_CO
    got = QUERIES["triangle_count"].fn(spark, SF_DIR).collect()[0]
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    pairs = {}
    for _, g in li.groupby("l_orderkey"):
        for a, b in itertools.combinations(sorted(set(g["l_partkey"])), 2):
            pairs[(a, b)] = pairs.get((a, b), 0) + 1
    edges = {e for e, c in pairs.items() if c >= TRI_MIN_CO}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = sum(1 for (a, b) in edges
              for c in adj[a] & adj[b] if b < c)
    wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    assert got["n_edges"] == len(edges)
    assert got["n_nodes"] == len(adj)
    assert got["n_triangles"] == tri
    if wedges:
        assert got["global_clustering"] == round(3.0 * tri / wedges, 6)


def test_bfs_hops_match_numpy_bfs(spark):
    """Hop profile against a driver-side BFS over the same bipartite
    edge set, from the same deterministic root."""
    from collections import deque
    got = {r.dist: r.n_nodes
           for r in all_queries()["shortest_path_hops"].fn(spark, SF_DIR)
           .collect()}
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    od = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    j = li.merge(od, left_on="l_orderkey", right_on="o_orderkey")
    adj: dict[str, set] = {}
    for c, s in {(f"c:{r.o_custkey}", f"s:{r.l_suppkey}")
                 for r in j.itertuples()}:
        adj.setdefault(c, set()).add(s)
        adj.setdefault(s, set()).add(c)
    root = min(n for n in adj if n.startswith("s:"))
    from covid_weather_etl_spark.operators.graph import BFS_MAX_HOPS
    dist = {root: 0}
    q = deque([root])
    while q:
        u = q.popleft()
        if dist[u] >= BFS_MAX_HOPS:
            continue
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    want: dict[int, int] = {}
    for d in dist.values():
        want[d] = want.get(d, 0) + 1
    assert got == want


def test_bellman_ford_matches_python_relaxation(spark):
    """Distance distribution against a driver-side min-plus relaxation
    over the same integer-cost edges and round count."""
    import math
    got = {r.dist: r.n_nodes
           for r in all_queries()["bellman_ford_costs"].fn(spark, SF_DIR)
           .collect()}
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    od = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    j = li.merge(od, left_on="l_orderkey", right_on="o_orderkey")
    w = j.groupby(["o_custkey", "l_suppkey"]).size()
    edges = {}
    for (c, sply), cnt in w.items():
        cost = math.ceil(1000.0 / cnt)
        a, b = f"c:{c}", f"s:{sply}"
        edges.setdefault(a, []).append((b, cost))
        edges.setdefault(b, []).append((a, cost))
    root = min(n for n in edges if n.startswith("s:"))
    from covid_weather_etl_spark.operators.graph import BF_ROUNDS
    dist = {root: 0}
    for _ in range(BF_ROUNDS):
        nxt = dict(dist)
        for u, d in dist.items():
            for v, c in edges[u]:
                if d + c < nxt.get(v, float("inf")):
                    nxt[v] = d + c
        dist = nxt
    want = {}
    for d in dist.values():
        want[d] = want.get(d, 0) + 1
    assert got == want


# ---------------------------------------------------------------------------
# k-core
# ---------------------------------------------------------------------------

def _brute_kcore(edges: set[tuple[str, str]], k: int) -> dict[str, int]:
    """Reference peel: repeatedly delete nodes with < k distinct
    neighbours; return surviving node → within-core degree."""
    nbrs: dict[str, set[str]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in [n for n, s in nbrs.items() if len(s) < k]:
            for m in nbrs[n]:
                nbrs[m].discard(n)
            del nbrs[n]
            changed = True
    return {n: len(s) for n, s in nbrs.items()}


def test_kcore_matches_brute_force_and_is_maximal(spark):
    from covid_weather_etl_spark.operators import graph as G

    t = load_tables(spark, SF_DIR, ("lineitem", "orders"))
    raw = G.purchase_edges(t).select("src", "dst").distinct().collect()
    undirected = {tuple(sorted((r.src, r.dst))) for r in raw}
    expected = _brute_kcore(undirected, G.KCORE_K)

    out = {f"{'c:' if r.side == 'customer' else 's:'}{r.key}": r.degree
           for r in G.kcore_purchase_network(spark, SF_DIR).collect()}
    assert out == expected
    # every survivor keeps >= k neighbours inside the core
    assert all(d >= G.KCORE_K for d in out.values()) or not out
    # maximality: every dropped node has < k core neighbours
    all_nodes = {n for e in undirected for n in e}
    core = set(out)
    for n in all_nodes - core:
        deg_in_core = sum(1 for a, b in undirected
                          if (a == n and b in core)
                          or (b == n and a in core))
        assert deg_in_core < G.KCORE_K or n in core


def test_kcore_deterministic(spark):
    from covid_weather_etl_spark.operators import graph as G

    a = sorted(map(tuple, G.kcore_purchase_network(spark, SF_DIR).collect()))
    b = sorted(map(tuple, G.kcore_purchase_network(spark, SF_DIR).collect()))
    assert a == b


def test_kcore_raises_when_round_cap_exhausted(spark):
    """A chain sheds exactly one layer (its two endpoints) per peel
    round, so a 7-node path needs 3 rounds to empty at k=2; with
    max_rounds=1 the frame in hand is NOT the k-core and kcore must
    raise rather than silently return it (advice r4)."""

    from covid_weather_etl_spark.operators import graph as G

    chain = [(f"n{i}", f"n{i+1}") for i in range(6)]
    both = chain + [(b, a) for a, b in chain]
    edges = spark.createDataFrame(both, "src string, dst string")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        G.kcore(edges, k=2, max_rounds=1)
    # with room to converge the same graph peels to the empty core
    assert G.kcore(edges, k=2, max_rounds=10).count() == 0
