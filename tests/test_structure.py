"""Structural statistics + link prediction + walk co-occurrence vs
independent Python/numpy anchors. The bit-exact DuckDB twins live in
entry.py (clustering_coeff / transitivity / assortativity / reciprocity /
edge_support / truss_decomp / linkpred_top50 / walk_cooc)."""

from __future__ import annotations

import random
from collections import defaultdict

import pytest

from parallel_connected_components_spark.operators import (
    clustering_coefficients,
    degree_assortativity,
    edge_support,
    ktruss,
    link_prediction_topk,
    random_walks,
    reciprocity,
    support_python_oracle,
    transitivity,
    truss_decomposition,
    truss_python_oracle,
    walk_cooccurrence,
)


def _rand_edges(seed, n=24, m=70):
    rng = random.Random(seed)
    return list({(rng.randrange(n), rng.randrange(n)) for _ in range(m)})


def _adj(edge_list):
    adj = defaultdict(set)
    for u, v in edge_list:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    return adj


# ---------------------------------------------------------------- support


@pytest.mark.parametrize("seed", [21, 22])
def test_edge_support_differential(spark, seed):
    edge_list = _rand_edges(seed)
    df = spark.createDataFrame(edge_list, "src long, dst long")
    got = {(r.src, r.dst): r.support for r in edge_support(spark, df).collect()}
    assert got == support_python_oracle(edge_list)


def test_edge_support_golden(spark, golden_edges):
    got = {(r.src, r.dst): r.support for r in edge_support(spark, golden_edges).collect()}
    # triangle {0,1,2}: each edge support 1; path 3-4-5: support 0
    assert got == {(0, 1): 1, (0, 2): 1, (1, 2): 1, (3, 4): 0, (4, 5): 0}


# ---------------------------------------------------------------- truss


@pytest.mark.parametrize("seed", [31, 32])
def test_truss_decomposition_differential(spark, seed):
    edge_list = _rand_edges(seed, n=18, m=60)
    df = spark.createDataFrame(edge_list, "src long, dst long")
    out, info = truss_decomposition(spark, df)
    got = {(r.src, r.dst): r.truss for r in out.collect()}
    assert got == truss_python_oracle(edge_list)
    assert info["max_truss"] >= 2


def test_ktruss_k5_on_k5_clique(spark):
    k5 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    df = spark.createDataFrame(k5 + [(4, 9), (9, 11)], "src long, dst long")
    edges, info = ktruss(spark, df, k=5)
    kept = {(r.src, r.dst) for r in edges.collect()}
    assert kept == set(k5)  # the pendant path peels away, the clique stays
    out, _ = truss_decomposition(spark, df)
    got = {(r.src, r.dst): r.truss for r in out.collect()}
    assert all(got[e] == 5 for e in k5)
    assert got[(4, 9)] == 2 and got[(9, 11)] == 2


def test_ktruss_unpersists_only_its_own_degree_table(spark, monkeypatch):
    """ktruss(orient_by_degree=True) builds an (id, degree) table when the
    caller passes none, and must unpersist it before returning; a
    caller-passed ``_deg`` stays caller-owned."""
    from parallel_connected_components_spark.operators.graph import degrees, symmetrize

    k5 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    df = spark.createDataFrame(k5 + [(4, 9), (9, 11)], "src long, dst long")
    released = []
    unpersist = type(df).unpersist

    def spy(self, *args, **kwargs):
        released.append(self.columns)
        return unpersist(self, *args, **kwargs)

    monkeypatch.setattr(type(df), "unpersist", spy)
    edges, _ = ktruss(spark, df, k=5, orient_by_degree=True)
    assert {(r.src, r.dst) for r in edges.collect()} == set(k5)
    assert ["id", "degree"] in released
    released.clear()
    own = degrees(symmetrize(df)).localCheckpoint(eager=True)
    ktruss(spark, df, k=5, orient_by_degree=True, _deg=own)
    assert ["id", "degree"] not in released


# ------------------------------------------------------- clustering coeff


def test_clustering_coefficients_known(spark, golden_edges):
    rows = {r.vertex: r for r in clustering_coefficients(spark, golden_edges).collect()}
    # triangle vertices: deg 2, tri 1, lcc = 2*1/(2*1) = 1.0
    for v in (0, 1, 2):
        assert (rows[v].degree, rows[v].triangles, rows[v].lcc) == (2, 1, 1.0)
    # path: middle deg 2 lcc 0, ends deg 1 lcc 0
    assert (rows[4].degree, rows[4].lcc) == (2, 0.0)
    assert (rows[3].degree, rows[3].lcc) == (1, 0.0)


@pytest.mark.parametrize("seed", [41])
def test_clustering_differential(spark, seed):
    edge_list = _rand_edges(seed)
    adj = _adj(edge_list)
    df = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.vertex: r for r in clustering_coefficients(spark, df).collect()}
    for v, nb in adj.items():
        t = sum(1 for a in nb for b in nb if a < b and b in adj[a])
        d = len(nb)
        assert got[v].degree == d and got[v].triangles == t
        want = 2.0 * t / (d * (d - 1)) if d >= 2 else 0.0
        assert got[v].lcc == pytest.approx(want, abs=0)


def test_transitivity_known(spark, golden_edges):
    row = transitivity(spark, golden_edges).collect()[0]
    # 1 triangle; wedges: tri vertices 1 each (3) + path middle 1 = 4
    assert (row.triangles, row.wedges) == (1, 4)
    assert row.transitivity == 3.0 / 4.0


# ------------------------------------------------- assortativity / recip


@pytest.mark.parametrize("seed", [51, 52])
def test_assortativity_matches_numpy_pearson(spark, seed):
    import numpy as np

    edge_list = _rand_edges(seed)
    adj = _adj(edge_list)
    df = spark.createDataFrame(edge_list, "src long, dst long")
    row = degree_assortativity(spark, df).collect()[0]
    # Pearson over endpoint degrees with each undirected edge in both
    # directions — the textbook definition the closed form clears
    xs, ys = [], []
    for u, nb in adj.items():
        for v in nb:
            xs.append(len(adj[u]))
            ys.append(len(adj[v]))
    want = float(np.corrcoef(np.array(xs, float), np.array(ys, float))[0, 1])
    assert row.assortativity == pytest.approx(want, rel=1e-12)


def test_assortativity_regular_graph_is_null(spark):
    ring = [(i, (i + 1) % 6) for i in range(6)]  # 2-regular: denominator 0
    df = spark.createDataFrame(ring, "src long, dst long")
    assert degree_assortativity(spark, df).collect()[0].assortativity is None


def test_assortativity_double_mode_matches_exact(spark):
    # exact_ints=False (the no-overflow production mode, r5 advisor fix)
    # must agree with the int64 gate mode wherever the latter is valid,
    # and must also report NULL on the degree-regular denominator-0 case
    edge_list = _rand_edges(53)
    df = spark.createDataFrame(edge_list, "src long, dst long")
    a = degree_assortativity(spark, df, exact_ints=True).collect()[0]
    b = degree_assortativity(spark, df, exact_ints=False).collect()[0]
    assert (a.num_edges, a.sum_jk, a.sum_jpk, a.sum_j2k2) == (
        b.num_edges, b.sum_jk, b.sum_jpk, b.sum_j2k2,
    )
    assert b.assortativity == pytest.approx(a.assortativity, rel=1e-12)
    ring = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src long, dst long"
    )
    assert (
        degree_assortativity(spark, ring, exact_ints=False).collect()[0].assortativity
        is None
    )


def test_reciprocity_known(spark):
    edges = [(0, 1), (1, 0), (1, 2), (2, 3), (3, 2), (0, 0), (1, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    row = reciprocity(df).collect()[0]
    # dedup + drop loop → 5 edges; mutual: (0,1),(1,0),(2,3),(3,2)
    assert (row.num_edges, row.mutual_edges) == (5, 4)
    assert row.reciprocity == 4.0 / 5.0


# ------------------------------------------------------- link prediction


def _linkpred_brute(edge_list, max_degree=None):
    adj = _adj(edge_list)
    scores = {}
    for u in adj:
        for v in adj:
            if u < v and v not in adj[u]:
                commons = sorted(
                    w
                    for w in adj[u] & adj[v]
                    if max_degree is None or len(adj[w]) <= max_degree
                )
                if commons:
                    ra = 0.0
                    for w in commons:
                        ra += 1.0 / len(adj[w])
                    jac = len(commons) / (len(adj[u]) + len(adj[v]) - len(commons))
                    scores[(u, v)] = (len(commons), jac, ra)
    return scores


@pytest.mark.parametrize("max_degree", [None, 4])
def test_link_prediction_differential(spark, max_degree):
    edge_list = _rand_edges(61)
    df = spark.createDataFrame(edge_list, "src long, dst long")
    got = link_prediction_topk(spark, df, k=1000, max_degree=max_degree).collect()
    want = _linkpred_brute(edge_list, max_degree)
    assert {(r.src, r.dst) for r in got} == set(want)
    for r in got:
        cn, jac, ra = want[(r.src, r.dst)]
        assert r.common_neighbors == cn
        assert r.jaccard == pytest.approx(jac, rel=1e-15)
        assert r.resource_alloc == pytest.approx(ra, rel=1e-12)


def test_link_prediction_fold_modes_agree(spark):
    # round 6 flipped the library default to the associative scale-mode
    # sum; the bit-exact ordered fold (what the entry oracle passes)
    # must agree to summation-order ulps on identical operands
    edge_list = _rand_edges(62)
    df = spark.createDataFrame(edge_list, "src long, dst long")
    assoc = {(r.src, r.dst): r.resource_alloc
             for r in link_prediction_topk(spark, df, k=1000).collect()}
    exact = {(r.src, r.dst): r.resource_alloc
             for r in link_prediction_topk(spark, df, k=1000, exact_fold=True).collect()}
    assert set(assoc) == set(exact)
    for pair, ra in exact.items():
        assert assoc[pair] == pytest.approx(ra, rel=1e-12)


def test_link_prediction_topk_order_and_anti_join(spark):
    # K4 minus one edge: (2,3) missing with 2 common neighbors — top pair
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = link_prediction_topk(spark, df, k=3).collect()
    assert (got[0].src, got[0].dst, got[0].common_neighbors) == (2, 3, 2)
    # existing edges never appear
    assert all((r.src, r.dst) not in set(edges) for r in got)


# ------------------------------------------------------ walk co-occurrence


def test_walk_cooccurrence_differential(spark):
    edge_list = [(i, (i * 7 + 3) % 20) for i in range(20)] + [
        (i, (i * 5 + 1) % 20) for i in range(20)
    ]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (7,), (13,)], "id long")
    walks = random_walks(spark, edges, seeds, walk_len=6)
    corpus = defaultdict(dict)
    for r in walks.collect():
        corpus[r.walk_id][r.step] = r.vertex
    window = 2
    want = defaultdict(int)
    for wid, steps in corpus.items():
        for sa, va in steps.items():
            for sb, vb in steps.items():
                if 1 <= sb - sa <= window:
                    want[(va, vb)] += 1
                    want[(vb, va)] += 1
    got = {
        (r.center, r.context): r.pairs
        for r in walk_cooccurrence(walks, window=window).collect()
    }
    assert got == dict(want)


# ------------------------------------------------------------- plan shape


def test_support_enumeration_plan_shape(spark):
    """The triangle-enumeration joins must execute as ShuffledHashJoin
    with the EDGE table as build side and never fall back to sort-merge:
    the wedge stream is unbounded (self-join fan-out) so it must stay
    the probe/stream side — a build-side flip was a measured executor
    OOM at 18M edges, and sort-merge's sorts were a measured 2.4x
    overhead (COVERAGE.md round-5 notes)."""
    edge_list = _rand_edges(31, n=40, m=160)
    df = spark.createDataFrame(edge_list, "src long, dst long")
    sup = edge_support(spark, df)
    sup.collect()  # executed (final, AQE-resolved) plan
    plan = sup._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    # every hash build is BuildRight: probe (stream) side is always the
    # wedge stream / canonical table on the left
    import re

    builds = re.findall(r"ShuffledHashJoin .*?(Build\w+)", plan)
    assert builds and all(b == "BuildRight" for b in builds), plan


def test_link_prediction_scale_fold_matches_exact(spark):
    """exact_fold=False (associative RA sum, the scale mode) must agree
    with the ordered-fold verification mode on identical pairs/counts,
    and on RA up to summation-order ulps."""
    edge_list = _rand_edges(62)
    df = spark.createDataFrame(edge_list, "src long, dst long")
    exact = {
        (r.src, r.dst): r
        for r in link_prediction_topk(spark, df, k=1000).collect()
    }
    fast = {
        (r.src, r.dst): r
        for r in link_prediction_topk(spark, df, k=1000, exact_fold=False).collect()
    }
    assert exact.keys() == fast.keys()
    for key, e in exact.items():
        f = fast[key]
        assert f.common_neighbors == e.common_neighbors
        assert f.jaccard == e.jaccard
        assert f.resource_alloc == pytest.approx(e.resource_alloc, rel=1e-12)


@pytest.mark.parametrize("seed", [71, 72])
def test_support_degree_orientation_identical(spark, seed):
    """Degree orientation is a different total order over the same
    triangle set — supports and truss numbers must be identical to the
    id-oriented default (and to the python oracle). The hub vertex 100
    sits mid-id with high degree: the exact shape where id order blows
    up wedge fan-out and degree order doesn't."""
    rng = random.Random(seed)
    n = 30
    edge_list = list({(rng.randrange(n), rng.randrange(n)) for _ in range(60)})
    # mid-id hub: ids 0..n-1 below, 101..120 above, hub=100 wired to all
    edge_list += [(100, i) for i in range(n)]
    edge_list += [(100, 100 + i) for i in range(1, 21)]
    edge_list += [(i, 100 + i) for i in range(1, 21)]  # close hub triangles
    df = spark.createDataFrame(edge_list, "src long, dst long")
    by_id = {(r.src, r.dst): r.support for r in edge_support(spark, df).collect()}
    by_deg = {
        (r.src, r.dst): r.support
        for r in edge_support(spark, df, orient_by_degree=True).collect()
    }
    assert by_id == by_deg == support_python_oracle(edge_list)
    t_id, _ = truss_decomposition(spark, df)
    t_deg, _ = truss_decomposition(spark, df, orient_by_degree=True)
    got_id = {(r.src, r.dst): r.truss for r in t_id.collect()}
    got_deg = {(r.src, r.dst): r.truss for r in t_deg.collect()}
    assert got_id == got_deg == truss_python_oracle(edge_list)
