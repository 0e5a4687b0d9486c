"""PageRank vs the independent numpy power-iteration oracle — allclose at
1e-6 per the north rule (BASELINE.json), float64 end-to-end (risk R5)."""

from __future__ import annotations

import math

import pytest

from parallel_connected_components_spark.operators import (
    pagerank,
    pagerank_numpy_oracle,
)
from tests.conftest import GOLDEN_EDGES
from tests.test_cc import gen_component_graph


def ranks_dict(df):
    return {r["vertex"]: r["rank"] for r in df.collect()}


@pytest.mark.parametrize(
    "edge_list",
    [
        GOLDEN_EDGES,
        gen_component_graph(120, 4, 2, seed=5),
        [(0, 1), (1, 2), (2, 0), (2, 3)],  # cycle + dangling tail
    ],
    ids=["golden", "property", "dangling"],
)
def test_pagerank_allclose_oracle(spark, edge_list):
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got, runner = pagerank(spark, edges, tol=1e-6)
    oracle = pagerank_numpy_oracle(edge_list, tol=1e-6)
    gd = ranks_dict(got)
    assert set(gd) == set(oracle)
    for v in oracle:
        assert gd[v] == pytest.approx(oracle[v], abs=1e-6), v
    # probability mass conserved
    assert sum(gd.values()) == pytest.approx(1.0, abs=1e-9)
    assert runner.num_iterations >= 2


def test_pagerank_explicit_vertex_universe(spark):
    """``vertices`` (e.g. the MTX header range) adds isolated vertices as
    dangling nodes: they hold teleport+dangling mass, every n-dependent
    term changes, and mass stays conserved. Verified against a hand power
    iteration over the 3-vertex universe."""
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    got, _ = pagerank(spark, edges, tol=1e-9, vertices=verts)
    gd = ranks_dict(got)
    assert set(gd) == {1, 2, 3}
    # independent dense iteration: out-links 1->2; 2 and 3 dangling
    d, n = 0.85, 3
    r = {1: 1 / 3, 2: 1 / 3, 3: 1 / 3}
    for _ in range(200):
        dang = r[2] + r[3]
        base = (1 - d) / n + d * dang / n
        r = {1: base, 2: base + d * r[1], 3: base}
    for v in r:
        assert gd[v] == pytest.approx(r[v], abs=1e-7), v
    assert sum(gd.values()) == pytest.approx(1.0, abs=1e-9)
    # and without the universe, vertex 3 does not exist and n=2
    got2, _ = pagerank(spark, edges, tol=1e-9)
    assert set(ranks_dict(got2)) == {1, 2}


def test_pagerank_duplicate_vertex_ids(spark):
    """A ``vertices`` that lists every id twice ranks each vertex once,
    as the distinct universe does (|V| counts each id once)."""
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    once = ranks_dict(pagerank(spark, edges, tol=1e-9, vertices=verts)[0])
    got, _ = pagerank(spark, edges, tol=1e-9, vertices=verts.union(verts))
    assert ranks_dict(got) == pytest.approx(once, abs=1e-9)
    assert got.count() == 3  # ranks_dict would hide a duplicate row


def test_pagerank_deterministic_across_partitioning(spark):
    edge_list = gen_component_graph(100, 3, 2, seed=9)
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    r1 = ranks_dict(pagerank(spark, edges, tol=1e-8)[0])
    r2 = ranks_dict(pagerank(spark, edges.repartition(7), tol=1e-8)[0])
    for v in r1:
        assert r1[v] == pytest.approx(r2[v], abs=1e-12)


def test_pagerank_fixed_matches_numpy_exact_steps(spark):
    from parallel_connected_components_spark.operators import pagerank_fixed

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 2), (6, 6)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["vertex"]: r["rank"] for r in pagerank_fixed(spark, e, n_iterations=4).collect()}
    want = pagerank_numpy_oracle(edges, tol=0.0, max_iterations=4)
    assert set(got) == set(want)
    assert all(math.isclose(got[v], want[v], rel_tol=1e-12) for v in want)


def test_pagerank_cap_returns_best_effort(spark):
    """Hitting max_iterations returns ranks (oracle cap semantics), it
    does not raise (ADVICE r1)."""
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 2)]  # non-regular
    e = spark.createDataFrame(edges, "src long, dst long")
    ranks, runner = pagerank(spark, e, tol=1e-15, max_iterations=2)
    assert ranks.count() == 6
    assert runner.num_iterations == 2
