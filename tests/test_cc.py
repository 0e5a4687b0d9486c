"""CC correctness: golden fixture, cross-algorithm differential testing
(the reference's real strategy, /root/reference/benchmarks/
benchmark_sequential.c:81-98), property-based seeded graphs with component
count known by construction (/root/reference/tools/generate_graph.c:43-66),
and idempotence under duplicates/self-loops."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from parallel_connected_components_spark.operators import (
    cc_afforest,
    cc_alternating_stars,
    cc_auto,
    cc_label_propagation,
    cc_two_phase,
    count_components,
    normalize_labels,
    symmetrize,
    union_find_oracle,
    vertices_of,
)
from tests.conftest import GOLDEN_EDGES, GOLDEN_LABELS


def labels_dict(labels_df) -> dict[int, int]:
    return {r["vertex"]: r["label"] for r in labels_df.collect()}


def gen_component_graph(num_vertices: int, num_components: int, extra_per_vertex: int, seed: int):
    """Seeded port of the reference generator's property: P components by
    construction — spanning path per contiguous block + extra intra-block
    edges (tools/generate_graph.c:43-66, with the time(NULL) seed fixed)."""
    rng = random.Random(seed)
    bs = -(-num_vertices // num_components)
    edges = []
    for i in range(num_vertices):
        start = (i // bs) * bs
        end = min(start + bs, num_vertices)
        if i > start:
            edges.append((i, i - 1))
        for _ in range(extra_per_vertex):
            edges.append((i, rng.randrange(start, end)))
    return edges


ALGOS = {
    "stars": lambda spark, e: cc_alternating_stars(spark, e)[0],
    "two_phase": lambda spark, e: cc_two_phase(spark, e)[0],
    "label_prop": lambda spark, e: cc_label_propagation(spark, symmetrize(e))[0],
}


@pytest.mark.parametrize("algo", sorted(ALGOS))
def test_golden_fixture(spark, golden_edges, algo):
    labels = ALGOS[algo](spark, golden_edges)
    assert labels_dict(labels) == GOLDEN_LABELS
    assert count_components(labels) == 2


@pytest.mark.parametrize("algo", sorted(ALGOS))
@pytest.mark.parametrize(
    "num_vertices,num_components,epv,seed",
    [(60, 3, 4, 1), (300, 10, 2, 2), (1000, 7, 3, 3)],
)
def test_property_graphs_match_oracle(spark, algo, num_vertices, num_components, epv, seed):
    edge_list = gen_component_graph(num_vertices, num_components, epv, seed)
    oracle = union_find_oracle(edge_list)
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    labels = ALGOS[algo](spark, edges)
    got = labels_dict(labels)
    # union_find_oracle only covers vertices appearing in edges; ours too
    assert got == oracle
    assert count_components(labels) == num_components


@pytest.mark.parametrize(
    "algo",
    [cc_alternating_stars, cc_two_phase, cc_afforest, cc_label_propagation, cc_auto],
    ids=lambda f: f.__name__,
)
def test_duplicate_vertex_ids_label_once(spark, algo):
    """A caller's vertex set that lists every id twice (four of them
    isolated) labels each vertex once, as the oracle does."""
    edge_list = gen_component_graph(60, 3, 4, seed=1)
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    if algo in (cc_label_propagation, cc_auto):
        edges = symmetrize(edges)
    verts = spark.createDataFrame([(v,) for v in range(64)] * 2, "id long")
    labels = algo(spark, edges, vertices=verts)[0]
    want = {v: v for v in range(64)} | union_find_oracle(edge_list)
    assert labels_dict(labels) == want
    assert labels.count() == len(want)  # labels_dict would hide a duplicate row


def test_idempotent_under_duplicates_and_self_loops(spark):
    base = gen_component_graph(100, 4, 2, seed=7)
    noisy = base + base[::3] + [(i, i) for i in range(0, 100, 9)]
    e1 = spark.createDataFrame(base, "src long, dst long")
    e2 = spark.createDataFrame(noisy, "src long, dst long")
    l1 = labels_dict(cc_alternating_stars(spark, e1)[0])
    l2 = labels_dict(cc_alternating_stars(spark, e2)[0])
    # self-loops add their vertex (labeling itself) but change no component
    for v, lab in l1.items():
        assert l2[v] == lab


def test_permutation_invariance(spark):
    base = gen_component_graph(80, 4, 2, seed=11)
    rng = random.Random(99)
    perm = list(range(200))
    rng.shuffle(perm)
    permuted = [(perm[u], perm[v]) for u, v in base]
    l_base = union_find_oracle(base)
    labels = labels_dict(
        cc_alternating_stars(
            spark, spark.createDataFrame(permuted, "src long, dst long")
        )[0]
    )
    # same partition structure: grouping by label must induce the same
    # vertex groups (after mapping through perm)
    def groups(lab: dict):
        g = {}
        for v, l in lab.items():
            g.setdefault(l, set()).add(v)
        return {frozenset(s) for s in g.values()}

    base_groups = {frozenset(perm[v] for v in s) for s in groups(l_base)}
    assert groups(labels) == base_groups


def test_isolated_vertices_label_themselves(spark, golden_edges):
    verts = spark.range(8).select(F.col("id"))
    labels, _ = cc_alternating_stars(spark, golden_edges, vertices=verts)
    got = labels_dict(labels)
    assert got[6] == 6 and got[7] == 7
    assert count_components(labels) == 4


def test_normalize_labels(spark):
    # arbitrary representatives → min-id convention (SURVEY.md §1.2)
    raw = spark.createDataFrame(
        [(0, 2), (1, 2), (2, 2), (3, 5), (4, 5), (5, 5)], "vertex long, label long"
    )
    got = labels_dict(normalize_labels(raw))
    assert got == GOLDEN_LABELS


def test_vertices_of(spark, golden_edges):
    assert {r["id"] for r in vertices_of(golden_edges).collect()} == set(range(6))


def test_two_phase_empty_edges_with_vertices(spark):
    """ADVICE r1 regression: edge-less input must label supplied vertices
    as themselves, not crash on empty-schema inference."""
    e = spark.createDataFrame([], "src long, dst long")
    verts = spark.range(5).select(F.col("id"))
    labels = labels_dict(cc_two_phase(spark, e, vertices=verts)[0])
    assert labels == {i: i for i in range(5)}


def test_afforest_golden_and_property(spark, golden_edges):
    from parallel_connected_components_spark.operators import cc_afforest

    labels = labels_dict(cc_afforest(spark, golden_edges)[0])
    assert labels == GOLDEN_LABELS
    base = gen_component_graph(400, 5, 3, seed=31)
    e = spark.createDataFrame(base, "src long, dst long")
    assert labels_dict(cc_afforest(spark, e)[0]) == union_find_oracle(base)


def test_afforest_hub_graph(spark):
    """Skewed star-plus-chains graph — the shape Afforest's sampling
    pre-rounds are for: one giant hub component + small satellites."""
    edges = [(0, i) for i in range(1, 2000)]  # hub
    edges += [(3000 + i, 3000 + i + 1) for i in range(0, 50)]  # chain
    edges += [(5000, 5001), (5002, 5003)]
    e = spark.createDataFrame(edges, "src long, dst long")
    from parallel_connected_components_spark.operators import cc_afforest

    labels, runner = cc_afforest(spark, e)
    assert labels_dict(labels) == union_find_oracle(edges)
    # per-phase iteration counts split sampling from the finish
    phases = runner.phase_iterations
    assert set(phases) <= {"a_sample", "b_finish"} and phases["a_sample"] >= 1
    assert runner.num_iterations == sum(phases.values())


# two paths and a cycle, ids at both ends of the int64 range
HANDOFF_EDGES = [
    (-(2**63), 5), (5, 3), (3, 9), (9, 1),
    (100, 2**63 - 1), (2**63 - 1, 50), (50, 70), (70, 60),
    (10, 30), (30, 20), (20, 40), (40, 11), (11, 10),
]


@pytest.mark.parametrize("k", [1, 2, 3])
def test_relabel_finishes_capped_label_propagation(spark, k):
    """The CC hand-off on its own: label propagation stopped after k
    rounds leaves a partly solved labeling; contracting the edges through
    it and relabeling through two-phase gives the exact min-id labels."""
    from parallel_connected_components_spark.operators.cc import relabel
    from parallel_connected_components_spark.operators.graph import contract_edges

    sym = symmetrize(spark.createDataFrame(HANDOFF_EDGES, "src long, dst long"))
    mid, runner = cc_label_propagation(spark, sym, max_iterations=k, raise_on_cap=False)
    assert runner.num_iterations == k
    labels, _ = relabel(spark, mid, contract_edges(sym, mid))
    assert labels_dict(labels) == union_find_oracle(HANDOFF_EDGES)


def test_two_phase_reads_pinned_input_as_is(spark):
    """A Pinned table skips the canonicalize: symmetric edges with
    duplicates and self-loops (weaker than canonical) still give the
    oracle's labels."""
    from parallel_connected_components_spark.operators.graph import pin_edges

    base = gen_component_graph(120, 4, 2, seed=41)
    noisy = base + [(v, u) for u, v in base] + base[::4] + [(i, i) for i in range(0, 120, 7)]
    pinned = pin_edges(spark, spark.createDataFrame(noisy, "src long, dst long"))
    try:
        labels, _ = cc_two_phase(spark, pinned)
        assert labels_dict(labels) == union_find_oracle(noisy)
    finally:
        pinned.edges.unpersist()


def rdds_read_by(df) -> set[int]:
    """Ids of the RDDs ``df``'s logical plan reads (its checkpoints, and
    the local data of a ``createDataFrame``)."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    return {
        leaves.apply(k).rdd().id()
        for k in range(leaves.size())
        if leaves.apply(k).nodeName() == "LogicalRDD"
    }


@pytest.mark.parametrize("algo", ["two_phase", "afforest", "auto"])
def test_cc_family_leaves_only_its_output_checkpoints(spark, algo):
    """cc_two_phase, cc_afforest and cc_auto release every checkpoint they
    supersede (the contracted graph, afforest's symmetrized sample
    source, the label-propagation labels cc_auto re-checkpoints): the
    persisted RDDs a call leaves behind are exactly those its output
    reads. cc_auto runs on a 300-vertex path, where the stall detector
    hands it to two-phase. Python GC is off so that a collection cannot
    free a leak during the check."""
    import gc

    from parallel_connected_components_spark.operators import cc_afforest, cc_auto

    if algo == "auto":
        edge_list = [(v, v + 1) for v in range(299)]
        edges = symmetrize(spark.createDataFrame(edge_list, "src long, dst long"))
        run = lambda: cc_auto(spark, edges)  # noqa: E731
    else:
        edge_list = gen_component_graph(500, 5, 2, seed=23)
        edges = spark.createDataFrame(edge_list, "src long, dst long")
        fn = cc_two_phase if algo == "two_phase" else cc_afforest
        run = lambda: fn(spark, edges)  # noqa: E731
    jsc = spark.sparkContext._jsc
    gc.disable()
    try:
        before = set(jsc.getPersistentRDDs().keySet())
        labels, info = run()
        after = set(jsc.getPersistentRDDs().keySet())
        left, read = after - before, rdds_read_by(labels) & after
        assert labels_dict(labels) == union_find_oracle(edge_list)
    finally:
        gc.enable()
    if algo == "auto":
        assert info["algorithm"] == "lp+two_phase", info["algorithm"]
    assert left == read, (sorted(left), sorted(read))


def test_label_prop_prune_resume_invariant(spark, tmp_path):
    """Resume keeps the frontier invariant without a resend round: cap a
    checkpointed run mid-way (snapshot at iteration 4), resume from the
    snapshot, and the labels must equal the oracle. The snapshot keeps
    each vertex's ``changed`` flag and the edge set never changes, so
    every edge has already carried, or is about to carry, its source's
    current label. (Named after the deleted edge-pruning path, whose
    rewritten edge sets needed a full resend on resume.)"""
    chain = [(0, 8), (8, 9), (9, 1), (1, 2), (2, 3), (3, 4), (4, 5)]
    sym = symmetrize(spark.createDataFrame(chain, "src long, dst long"))
    with pytest.raises(RuntimeError):  # cap mid-run, snapshot persisted
        cc_label_propagation(
            spark, sym, checkpoint_dir=str(tmp_path), max_iterations=5
        )
    labels, runner = cc_label_propagation(
        spark, sym, checkpoint_dir=str(tmp_path), resume=True
    )
    assert runner.metrics[0].iteration > 0  # genuinely resumed
    assert labels_dict(labels) == union_find_oracle(chain)


# ---------------------------------------------------------------------------
# Round-5 vectorized local-CC kernel (_numpy_cc_kernel): must reproduce the
# sequential union-find oracle exactly on every id-space shape, including
# the sparse-64-bit-id fallback path and the dense/sparse boundary.
# ---------------------------------------------------------------------------

def _kernel_vs_oracle(edges):
    import numpy as np

    from parallel_connected_components_spark.operators.cc import (
        _numpy_cc_kernel,
        union_find_oracle,
    )

    src = np.array([e[0] for e in edges], dtype=np.int64)
    dst = np.array([e[1] for e in edges], dtype=np.int64)
    nodes, roots = _numpy_cc_kernel(src, dst)
    want = union_find_oracle(edges)
    got = dict(zip(nodes.tolist(), roots.tolist()))
    assert got == want, (sorted(got.items())[:5], sorted(want.items())[:5])


def test_numpy_kernel_matches_oracle_dense_random():
    import random

    rng = random.Random(421)
    for trial in range(10):
        n = rng.randrange(2, 400)
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(1, 3 * n))
        ]
        _kernel_vs_oracle(edges)


def test_numpy_kernel_matches_oracle_sparse_64bit_ids():
    """Hash-random id space (embedding fingerprints): span >> 8x edges
    forces the unique+searchsorted fallback."""
    import random

    rng = random.Random(99)
    ids = [rng.randrange(1, 1 << 62) for _ in range(300)]
    edges = [
        (ids[rng.randrange(len(ids))], ids[rng.randrange(len(ids))])
        for _ in range(500)
    ]
    _kernel_vs_oracle(edges)


def test_numpy_kernel_long_chain_and_star():
    # chain: worst case for hooking depth; star: worst case for hub fanout
    chain = [(i + 1, i) for i in range(2000)]
    _kernel_vs_oracle(chain)
    star = [(0, i) for i in range(1, 2000)]
    _kernel_vs_oracle(star)
    # chain with reversed orientation + shuffled order
    import random

    rev = [(i, i + 1) for i in range(2000)]
    random.Random(5).shuffle(rev)
    _kernel_vs_oracle(rev)


def test_numpy_kernel_self_loops_and_empty():
    import numpy as np

    from parallel_connected_components_spark.operators.cc import _numpy_cc_kernel

    nodes, roots = _numpy_cc_kernel(
        np.array([7, 7], dtype=np.int64), np.array([7, 7], dtype=np.int64)
    )
    assert len(nodes) == 0 and len(roots) == 0
    nodes, roots = _numpy_cc_kernel(
        np.array([], dtype=np.int64), np.array([], dtype=np.int64)
    )
    assert len(nodes) == 0


def test_numpy_kernel_dense_sparse_boundary():
    """Edges whose span sits exactly around the 8x+1024 dense cutoff give
    identical labels through either compaction path."""
    # 100 edges, span ~1824 (dense) and span ~3000000 (sparse), same topology
    base_edges = [(2 * i, 2 * i + 2) for i in range(100)]
    _kernel_vs_oracle(base_edges)
    stretched = [(30000 * u, 30000 * v) for u, v in base_edges]
    _kernel_vs_oracle(stretched)
