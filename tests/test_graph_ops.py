"""Graph-build semantics, degree/component stats, LPA, triangles, MTX
round-trip, giant-component sampling."""

from __future__ import annotations

import itertools
import os

import pytest
from pyspark.sql import functions as F

from parallel_connected_components_spark.operators import (
    canonicalize,
    cc_two_phase,
    component_stats,
    degree_stats,
    giant_component_sample,
    label_propagation_communities,
    symmetrize,
    top_components,
    triangle_count,
    triangles_per_vertex,
)
from parallel_connected_components_spark.sources.mtx import (
    read_mtx,
    read_mtx_header,
    write_mtx,
)
from tests.conftest import GOLDEN_EDGES
from tests.test_cc import gen_component_graph, labels_dict


def brute_force_triangles(edge_list):
    adj = {}
    canon = {(min(u, v), max(u, v)) for u, v in edge_list if u != v}
    for u, v in canon:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    count = 0
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            count += 1
    return count


def test_symmetrize_and_canonicalize(spark, golden_edges):
    sym = symmetrize(golden_edges)
    rows = {(r["src"], r["dst"]) for r in sym.collect()}
    assert (0, 1) in rows and (1, 0) in rows
    assert all(s != d for s, d in rows)
    canon = canonicalize(golden_edges)
    crows = {(r["src"], r["dst"]) for r in canon.collect()}
    assert crows == {(0, 1), (1, 2), (0, 2), (3, 4), (4, 5)}


def test_degree_stats_golden(spark, golden_edges):
    # FIXTURES.md §3: degree min/max 2/2, avg 10/6
    row = degree_stats(symmetrize(golden_edges)).collect()[0]
    assert row["min_degree"] == 1  # vertices 3,5 have degree 1
    assert row["max_degree"] == 2
    assert row["num_vertices"] == 6


def test_component_stats_golden(spark, golden_edges):
    labels, _ = cc_two_phase(spark, golden_edges)
    row = component_stats(labels).collect()[0]
    assert (row["num_components"], row["min_size"], row["max_size"], row["avg_size"]) == (
        2, 3, 3, 3.0,
    )
    top = top_components(labels, k=1).collect()[0]
    assert top["size"] == 3


@pytest.mark.parametrize("orient_by_degree", [False, True])
def test_triangle_count(spark, golden_edges, orient_by_degree):
    assert triangle_count(spark, golden_edges, orient_by_degree) == 1
    edge_list = gen_component_graph(80, 2, 3, seed=13)
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    assert triangle_count(spark, edges, orient_by_degree) == brute_force_triangles(edge_list)


def test_triangles_per_vertex_golden(spark, golden_edges):
    per = {r["vertex"]: r["triangles"] for r in triangles_per_vertex(spark, golden_edges).collect()}
    assert per == {0: 1, 1: 1, 2: 1}


def test_lpa_two_cliques(spark):
    # two 4-cliques joined by one bridge edge → LPA keeps them separate
    cliq1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    cliq2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges = spark.createDataFrame(cliq1 + cliq2 + [(3, 10)], "src long, dst long")
    labels, _ = label_propagation_communities(spark, symmetrize(edges), max_iterations=10)
    got = labels_dict(labels)
    assert len({got[v] for v in range(4)}) == 1
    assert len({got[v] for v in range(10, 14)}) == 1
    assert got[0] != got[10]


def test_lpa_long_min_label(spark):
    # a 64-bit hashed vertex id can be exactly -2^63; the pre-round-6
    # struct (cnt, -label) argmax ordering ANSI-overflowed on it — the
    # decimal-packed key must order it correctly instead (smallest label
    # wins ties, so the triangle converges to the minimum id)
    lo = -(2**63)
    edges = spark.createDataFrame([(lo, 1), (1, 2), (2, lo)], "src long, dst long")
    labels, _ = label_propagation_communities(spark, symmetrize(edges), max_iterations=6)
    got = labels_dict(labels)
    assert set(got) == {lo, 1, 2}
    assert all(v == lo for v in got.values())


def test_mtx_roundtrip(spark, golden_edges, tmp_path):
    path = os.path.join(tmp_path, "g.mtx")
    write_mtx(canonicalize(golden_edges), 6, path)
    hdr = read_mtx_header(path)
    assert hdr["symmetric"] and hdr["num_vertices"] == 6 and hdr["nnz"] == 5
    edges, hdr2 = read_mtx(spark, path)
    rows = {(r["src"], r["dst"]) for r in edges.collect()}
    assert rows == {(0, 1), (1, 2), (0, 2), (3, 4), (4, 5)}


def test_reference_test_small_mtx_direct(spark):
    """Read the reference's own golden file and reproduce `make test`'s
    '6 vertices, 2 components' (/root/reference/Makefile:56-68)."""
    path = "/root/reference/data/test_small.mtx"
    if not os.path.exists(path):
        pytest.skip("reference data not present")
    edges, hdr = read_mtx(spark, path)
    assert hdr["num_vertices"] == 6
    labels, _ = cc_two_phase(spark, edges)
    assert labels_dict(labels) == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}


def test_mtx_isolated_vertices_counted_via_header(spark, tmp_path):
    """The reference allocates all n header vertices (graph_create over
    mtx dims), so an edge-less vertex is a singleton component. The CLI
    loader must surface the header range as the vertex set — deriving
    vertices from edges would drop vertex 6 here."""
    import argparse

    from parallel_connected_components_spark.__main__ import _load_edges
    from parallel_connected_components_spark.operators import count_components

    path = os.path.join(tmp_path, "iso.mtx")
    with open(path, "w", encoding="utf-8") as f:
        f.write("%%MatrixMarket matrix coordinate pattern symmetric\n")
        f.write("7 7 5\n2 1\n3 2\n4 3\n6 5\n5 6\n")
    args = argparse.Namespace(pages=None, edges=None, mtx=path)
    edges, verts = _load_edges(spark, args)
    assert verts is not None and verts.count() == 7
    labels, _ = cc_two_phase(spark, edges, vertices=verts)
    got = labels_dict(labels)
    assert got[6] == 6  # isolated vertex is its own component
    assert count_components(labels) == 3


def test_giant_component_sample(spark):
    # skew fixture: one giant component (90 vertices) + 5 small ones
    edge_list = [(i, i + 1) for i in range(89)] + [
        (100 + 10 * k, 101 + 10 * k) for k in range(5)
    ]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    labels, _ = cc_two_phase(spark, edges)
    giant, hits = giant_component_sample(labels, num_samples=64, seed=1)
    assert giant == 0


def test_count_components_approx(spark):
    from parallel_connected_components_spark.operators import count_components_approx

    edge_list = gen_component_graph(2000, 40, 2, seed=21)
    labels, _ = cc_two_phase(spark, spark.createDataFrame(edge_list, "src long, dst long"))
    est = count_components_approx(labels)
    assert abs(est - 40) <= 3  # HLL++ at rsd=0.02 on 40 distinct values
