"""Coreness (iterated H-index) vs the sequential-peel oracle, and
multi-source bounded BFS vs a plain queue BFS — adversarial shapes the
derived sf graph doesn't cover. The driver-side exact integer twins
live in entry.py (_coreness_sql / _khop_sql)."""

from __future__ import annotations

import random

import pytest

from parallel_connected_components_spark.operators import (
    bfs_hops,
    bfs_python_oracle,
    coreness,
    coreness_python_oracle,
)


def gen_graph(n, m, seed):
    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


def sym(edge_list):
    return list({(u, v) for u, v in edge_list} | {(v, u) for u, v in edge_list})


def cores_dict(df):
    return {r["vertex"]: r["core"] for r in df.collect()}


# ---------------------------------------------------------------------------
# coreness
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "edge_list,want",
    [
        # triangle + pendant: triangle coreness 2, pendant 1
        ([(0, 1), (1, 2), (2, 0), (2, 3)], {0: 2, 1: 2, 2: 2, 3: 1}),
        # K4 with a 2-chain tail: clique 3, tail 1
        (
            [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5)],
            {0: 3, 1: 3, 2: 3, 3: 3, 4: 1, 5: 1},
        ),
        # pure path: everything coreness 1
        ([(0, 1), (1, 2), (2, 3)], {0: 1, 1: 1, 2: 1, 3: 1}),
        # self-loop-only vertex: degree 0 after the drop -> core 0
        ([(7, 7), (0, 1)], {7: 0, 0: 1, 1: 1}),
    ],
    ids=["triangle_pendant", "k4_tail", "path", "selfloop"],
)
def test_coreness_golden(spark, edge_list, want):
    edges = spark.createDataFrame(sym(edge_list), "src long, dst long")
    got, runner = coreness(spark, edges)
    assert cores_dict(got) == want
    assert cores_dict(got) == coreness_python_oracle(edge_list)
    assert runner.num_iterations >= 1


@pytest.mark.parametrize(
    "seed,copies",
    [
        pytest.param(1, 0, id="1"),
        pytest.param(2, 0, id="2"),
        pytest.param(3, 0, id="3"),
        # a vertex universe (four isolated ids) with every id listed twice
        pytest.param(3, 2, id="duplicate_vertices"),
    ],
)
def test_coreness_differential_random(spark, seed, copies):
    edge_list = gen_graph(50, 160, seed)
    edges = spark.createDataFrame(sym(edge_list), "src long, dst long")
    vertex_ids = list(range(54)) if copies else None
    verts = (
        spark.createDataFrame([(v,) for v in vertex_ids * copies], "id long")
        if copies else None
    )
    got, _ = coreness(spark, edges, vertices=verts)
    want = coreness_python_oracle(edge_list, vertex_ids)
    assert cores_dict(got) == want
    assert got.count() == len(want)  # cores_dict would hide a duplicate row


def test_coreness_long_cascade_and_sql_round_bound(spark):
    """A chain hanging off a triangle cascades the H-index one hop per
    round — the worst convergence shape. The entry twin unrolls 16
    rounds; the derived graph's cascades are within-block chains
    (length < BLOCK=8), so pin that a length-10 chain still converges
    well under the unroll + that the oracle peel agrees."""
    chain = [(i, i + 1) for i in range(3, 13)]
    edge_list = [(0, 1), (1, 2), (2, 0), (2, 3)] + chain
    edges = spark.createDataFrame(sym(edge_list), "src long, dst long")
    got, runner = coreness(spark, edges)
    assert cores_dict(got) == coreness_python_oracle(edge_list)
    assert runner.num_iterations <= 16


def test_coreness_vertex_universe_isolated_zero(spark):
    edges = spark.createDataFrame(sym([(0, 1)]), "src long, dst long")
    verts = spark.createDataFrame([(0,), (1,), (9,)], "id long")
    got, _ = coreness(spark, edges, vertices=verts)
    assert cores_dict(got) == {0: 1, 1: 1, 9: 0}


# ---------------------------------------------------------------------------
# bfs_hops
# ---------------------------------------------------------------------------

def dists_dict(df):
    return {r["vertex"]: r["dist"] for r in df.collect()}


def test_bfs_directed_respects_direction(spark):
    edge_list = [(0, 1), (1, 2), (3, 2)]  # 3 is NOT reachable from 0
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    srcs = spark.createDataFrame([(0,)], "id long")
    got, _ = bfs_hops(spark, edges, srcs)
    assert dists_dict(got) == {0: 0, 1: 1, 2: 2}
    assert dists_dict(got) == bfs_python_oracle(edge_list, [0])


def test_bfs_multi_source_min_settles(spark):
    # 0 and 10 race toward 5; 10's side wins at 4, 0's at 5
    edge_list = [(i, i + 1) for i in range(10)] + [(10, 6)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    srcs = spark.createDataFrame([(0,), (10,)], "id long")
    got, _ = bfs_hops(spark, edges, srcs)
    want = bfs_python_oracle(edge_list, [0, 10])
    assert dists_dict(got) == want
    assert want[7] == 2  # via 10->6->7, not 0->...->7


def test_bfs_max_hops_caps_expansion(spark):
    edge_list = [(i, i + 1) for i in range(8)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    srcs = spark.createDataFrame([(0,)], "id long")
    got, runner = bfs_hops(spark, edges, srcs, max_hops=3)
    assert dists_dict(got) == {0: 0, 1: 1, 2: 2, 3: 3}
    assert dists_dict(got) == bfs_python_oracle(edge_list, [0], max_hops=3)
    assert runner.num_iterations == 3
    assert runner.metrics[-1].extra.get("capped") is True


# vertex 0 (a seed) and vertex 2 take the extreme 64-bit ids
EXTREME = {0: -(2**63), 2: 2**63 - 1}


@pytest.mark.parametrize(
    "seed,ids,id_type",
    [
        pytest.param(4, {}, "long", id="4"),
        pytest.param(5, {}, "long", id="5"),
        pytest.param(4, EXTREME, "long", id="extreme_ids"),
        pytest.param(5, {}, "int", id="int_sources"),
    ],
)
def test_bfs_differential_random(spark, seed, ids, id_type):
    edge_list = [(ids.get(u, u), ids.get(v, v)) for u, v in gen_graph(60, 140, seed)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    seeds = [ids.get(0, 0), ids.get(1, 1)]
    srcs = spark.createDataFrame([(s,) for s in seeds], f"id {id_type}")
    got, _ = bfs_hops(spark, edges, srcs)
    want = bfs_python_oracle(edge_list, seeds)
    assert dists_dict(got) == want
    assert set(ids.values()) <= set(want)


def test_bfs_seed_only_when_isolated(spark):
    edges = spark.createDataFrame([(5, 6)], "src long, dst long")
    srcs = spark.createDataFrame([(0,)], "id long")
    got, _ = bfs_hops(spark, edges, srcs)
    assert dists_dict(got) == {0: 0}
