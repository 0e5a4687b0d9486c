"""SCC (trim+coloring) vs the iterative-Tarjan oracle, plus
personalized-PageRank and HITS reference checks. The driver-side
bit-exact twins live in entry.py; these tests pin algorithmic
correctness on adversarial shapes the derived sf graph doesn't cover."""

from __future__ import annotations

import random

import pytest

from parallel_connected_components_spark.operators import (
    hits_fixed,
    hits_numpy_oracle,
    personalized_pagerank_fixed,
    scc,
    scc_python_oracle,
)


def labels_dict(df):
    return {r["vertex"]: r["label"] for r in df.collect()}


def gen_digraph(n, m, seed):
    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


# ---------------------------------------------------------------------------
# SCC
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "edge_list",
    [
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)],  # 3-cycle + tail
        [(0, 1), (1, 0), (2, 3), (3, 2), (1, 2)],  # two 2-cycles, bridged
        [(0, 1), (1, 2), (2, 3)],  # pure DAG -> all singletons
        [(0, 1), (1, 2), (2, 0), (0, 3), (3, 4), (4, 0)],  # figure-eight: ONE SCC
        [(5, 5), (5, 6), (6, 5), (5, 6)],  # self-loop + dup edges
    ],
    ids=["cycle_tail", "bridged_cycles", "dag", "figure_eight", "selfloop_dup"],
)
def test_scc_golden_shapes(spark, edge_list):
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got, info = scc(spark, edges)
    assert labels_dict(got) == scc_python_oracle(edge_list)
    assert info["rounds"] >= 1


@pytest.mark.parametrize(
    "seed,ids,vertex_type,copies",
    [
        pytest.param(1, {}, None, 1, id="1"),
        pytest.param(2, {}, None, 1, id="2"),
        pytest.param(3, {}, None, 1, id="3"),
        # the smallest and the largest 64-bit id
        pytest.param(1, {0: -(2**63), 1: 2**63 - 1}, None, 1, id="extreme_ids"),
        # a vertex universe with int ids, four of them isolated
        pytest.param(2, {}, "int", 1, id="int_vertices"),
        # the same universe with every id listed twice
        pytest.param(3, {}, "long", 2, id="duplicate_vertices"),
    ],
)
def test_scc_differential_random(spark, seed, ids, vertex_type, copies):
    # dense enough for a giant SCC plus periphery — the bowtie regime
    edge_list = [(ids.get(u, u), ids.get(v, v)) for u, v in gen_digraph(60, 150, seed)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    vertex_ids = list(range(64)) if vertex_type else None
    verts = (
        spark.createDataFrame([(v,) for v in vertex_ids * copies], f"id {vertex_type}")
        if vertex_type else None
    )
    got, _ = scc(spark, edges, vertices=verts)
    want = scc_python_oracle(edge_list, vertex_ids)
    assert labels_dict(got) == want
    assert got.count() == len(want)  # labels_dict would hide a duplicate row
    assert set(ids.values()) <= set(want)


def test_scc_sparse_differential(spark):
    # sparse: mostly singletons, long condensation chains — trim's regime
    edge_list = gen_digraph(80, 60, seed=9)
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got, info = scc(spark, edges)
    assert labels_dict(got) == scc_python_oracle(edge_list)
    assert info["trim_passes"] >= 1


def test_scc_vertex_universe_adds_isolated_singletons(spark):
    edges = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    verts = spark.createDataFrame([(0,), (1,), (7,)], "id long")
    got, _ = scc(spark, edges, vertices=verts)
    assert labels_dict(got) == {0: 0, 1: 0, 7: 7}


def test_scc_selfloop_only_vertices_are_singletons(spark):
    # a self-loop is dropped as an edge, but its vertex is still a
    # singleton SCC — the default vertex set must come from the RAW
    # endpoints, not the filtered edge table (found by /verify probe)
    edge_list = [(1, 1), (2, 2), (2, 3)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got, _ = scc(spark, edges)
    assert labels_dict(got) == scc_python_oracle(edge_list) == {1: 1, 2: 2, 3: 3}


def test_hits_selfloop_only_vertex_stays_with_zero_scores(spark):
    edge_list = [(1, 1), (2, 3)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["vertex"]: (r["authority"], r["hub"]) for r in
           hits_fixed(spark, edges, n_iterations=2).collect()}
    want = hits_numpy_oracle(edge_list, n_iterations=2)
    assert set(got) == {1, 2, 3}
    assert got[1] == (0.0, 0.0)
    for v, (a, h) in want.items():
        assert got[v][0] == pytest.approx(a, abs=1e-12)
        assert got[v][1] == pytest.approx(h, abs=1e-12)


def test_scc_empty_edges(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    verts = spark.createDataFrame([(3,), (4,)], "id long")
    got, _ = scc(spark, edges, vertices=verts)
    assert labels_dict(got) == {3: 3, 4: 4}


def test_scc_block_structure(spark):
    """The entry-query shape: full blocks of 8 closed into directed
    cycles, chained head->head, trailing partial block stays singleton."""
    BLOCK = 8
    n = 28  # blocks 0..2 full, block 3 partial (24..27)
    edge_list = []
    for i in range(n):
        edge_list.append((i, i - i % BLOCK))
        if i % BLOCK:
            edge_list.append((i, i - 1))
        if i % BLOCK == 0 and i + BLOCK - 1 < n:
            edge_list.append((i, i + BLOCK - 1))
        if i % BLOCK == 0 and i >= BLOCK:
            edge_list.append((i, i - BLOCK))
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got, info = scc(spark, edges)
    want = {v: (v - v % BLOCK if v < 24 else v) for v in range(n)}
    assert labels_dict(got) == want
    assert want == scc_python_oracle(edge_list)  # oracle sanity
    # condensation is a 3-SCC path + singleton tail, but coloring roots
    # every block at its own head: a handful of rounds, not O(depth)
    assert info["rounds"] <= 4


def test_scc_leaves_only_its_output_checkpoints(spark):
    """Every superseded one-shot checkpoint of a multi-round scc (trim
    survivors, remaining vertices and edges, colors, the coloring and
    marking loops' results) is released: the persisted RDDs a run leaves
    behind are exactly the checkpoints its output reads. Python GC is off
    so that a leak cannot be hidden by a collection during the run."""
    import gc

    # three 4-cycles chained 0 -> 4 -> 8 plus a tail to trim: coloring
    # floods all cycles from 0, so each round extracts one cycle
    edge_list = [(b + i, b + (i + 1) % 4) for b in (0, 4, 8) for i in range(4)]
    edge_list += [(0, 4), (4, 8), (8, 12), (12, 13)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    jsc = spark.sparkContext._jsc
    gc.disable()
    try:
        before = set(jsc.getPersistentRDDs().keySet())
        got, info = scc(spark, edges)
        left = set(jsc.getPersistentRDDs().keySet()) - before
        leaves = got._jdf.queryExecution().logical().collectLeaves()
        read = {
            leaves.apply(k).rdd().id()
            for k in range(leaves.size())
            if leaves.apply(k).nodeName() == "LogicalRDD"
        }
        assert labels_dict(got) == scc_python_oracle(edge_list)
    finally:
        gc.enable()
    assert info["rounds"] >= 3 and info["trim_passes"] >= 2, info
    assert left == read, (sorted(left), sorted(read))


# ---------------------------------------------------------------------------
# Personalized PageRank
# ---------------------------------------------------------------------------

def ppr_python_oracle(edge_list, seeds, n_iterations=5, damping=0.85, verts=None):
    e = sorted(set(edge_list))
    vs = sorted({u for u, _ in e} | {v for _, v in e} | set(verts or []))
    out = {v: 0 for v in vs}
    for u, _ in e:
        out[u] += 1
    tele = {v: (1.0 / len(seeds) if v in set(seeds) else 0.0) for v in vs}
    r = dict(tele)
    for _ in range(n_iterations):
        contrib = {v: 0.0 for v in vs}
        for u, v in e:
            if out[u]:
                contrib[v] += r[u] / out[u]
        dang = sum(r[v] for v in vs if out[v] == 0)
        r = {
            v: (1 - damping) * tele[v] + damping * (contrib[v] + dang * tele[v])
            for v in vs
        }
    return r


def test_ppr_matches_reference(spark):
    edge_list = [(0, 1), (1, 0), (1, 2), (2, 1), (2, 3), (3, 2), (4, 5), (5, 4)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got, seeds = None, [0]
    got = personalized_pagerank_fixed(spark, edges, seeds, n_iterations=6)
    gd = {r["vertex"]: r["rank"] for r in got.collect()}
    oracle = ppr_python_oracle(edge_list, seeds, n_iterations=6)
    assert set(gd) == set(oracle)
    for v in oracle:
        assert gd[v] == pytest.approx(oracle[v], abs=1e-12), v
    # restart locality: the 4-5 component is unreachable from seed 0
    assert gd[4] == 0.0 and gd[5] == 0.0
    assert all(gd[v] > 0 for v in (0, 1, 2, 3))
    assert gd[0] == max(gd.values())  # the seed dominates


def test_ppr_isolated_seed_keeps_restart_mass(spark):
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,), (9,)], "id long")
    got = personalized_pagerank_fixed(
        spark, edges, seeds=[9], n_iterations=4, vertices=verts
    )
    gd = {r["vertex"]: r["rank"] for r in got.collect()}
    oracle = ppr_python_oracle([(1, 2), (2, 1)], [9], n_iterations=4, verts=[1, 2, 9])
    for v in oracle:
        assert gd[v] == pytest.approx(oracle[v], abs=1e-15), v
    assert gd[9] > 0.9  # isolated seed: dangling mass restarts home


def test_ppr_requires_seeds(spark):
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        personalized_pagerank_fixed(spark, edges, seeds=[])


# ---------------------------------------------------------------------------
# HITS
# ---------------------------------------------------------------------------

def test_hits_matches_reference(spark):
    edge_list = gen_digraph(40, 120, seed=11)
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = hits_fixed(spark, edges, n_iterations=5)
    gd = {r["vertex"]: (r["authority"], r["hub"]) for r in got.collect()}
    oracle = hits_numpy_oracle(edge_list, n_iterations=5)
    assert set(gd) == set(oracle)
    for v, (a, h) in oracle.items():
        assert gd[v][0] == pytest.approx(a, abs=1e-9), v
        assert gd[v][1] == pytest.approx(h, abs=1e-9), v


def test_hits_requires_one_round(spark):
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        hits_fixed(spark, edges, n_iterations=0)


def test_hits_star_hub_and_authority(spark):
    # 1..4 all point at 0: 0 is the pure authority, 1..4 equal pure hubs
    edges = spark.createDataFrame([(i, 0) for i in range(1, 5)], "src long, dst long")
    got = hits_fixed(spark, edges, n_iterations=3)
    gd = {r["vertex"]: (r["authority"], r["hub"]) for r in got.collect()}
    assert gd[0][0] == pytest.approx(1.0)
    assert gd[0][1] == 0.0
    for i in range(1, 5):
        assert gd[i][0] == 0.0
        assert gd[i][1] == pytest.approx(0.25)
