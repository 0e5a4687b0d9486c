"""Connected components — three Spark-native algorithms + the oracle.

The reference implements ~15 CC variants over 5 backends (SURVEY.md §2.4);
they collapse into three genuinely distinct dataflow strategies here:

1. :func:`cc_alternating_stars` — large-star/small-star (Kiveris et al.,
   "Connected Components in MapReduce and Beyond"), the DataFrame
   descendant of Shiloach-Vishkin's hook+shortcut
   (/root/reference/src/cc_openmp.c:312-379): pointer doubling as
   alternating groupBy-min + join rounds, O(log n) rounds expected.
2. :func:`cc_two_phase` — per-partition local union-find inside
   ``mapInPandas`` (path-halving + union-by-min, the reference's oracle
   algorithm /root/reference/src/cc_sequential.c:264-368, run on each
   partition's edge batch) contracting the graph by ~the average local
   component size, then alternating stars on the contracted remainder.
   This is the Spark blueprint of the MPI distributed union-find
   (/root/reference/src/mpi/cc_mpi.c:2018-2341): local UF per rank,
   batched exchange of cross-rank (root,root) edges, iterate.
3. :func:`cc_label_propagation` — min-label propagation with the
   frontier/delta optimization (queue + in_queue bitmap in the
   reference, /root/reference/src/cc_sequential.c:75-162; here a
   semi-join of edges against the changed-vertex set).

All three converge to identical labels under the min-vertex-id convention
(union-by-minimum /root/reference/src/cc_sequential.c:325-331) — the
reference's cross-algorithm differential test
(/root/reference/benchmarks/benchmark_sequential.c:81-98) is reproduced in
tests/ by asserting pairwise equality plus equality with
:func:`union_find_oracle`.

Skew: hub vertices make some neighborhoods enormous. The groupBy-min
aggregations are safe (partial aggregation bounds reduce-side rows per key
by the map-task count). The Afforest giant-component trick
(/root/reference/src/cc_openmp.c:596-613) generalizes to the frontier:
resolved regions leave the frontier and stop shuffling.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.runner import FixpointRunner, IterationMetrics, gather, release
from .graph import canonicalize, contract_edges, pin_edges


# --------------------------------------------------------------------------
# Oracle: sequential union-find, port of the reference's baseline semantics
# (path halving /root/reference/src/cc_sequential.c:264-271, union-by-min
# :325-331, final compression :345-349). Driver-side, test-scale only.
# --------------------------------------------------------------------------

def union_find_oracle(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = parent.setdefault(x, x)
        while parent[root] != root:
            parent[root] = parent[parent[root]]  # path halving
            root = parent[root]
        parent[x] = root
        return root

    for u, v in edges:
        if u == v:
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo  # union by minimum id
    return {x: find(x) for x in parent}


# --------------------------------------------------------------------------
# Shared pieces
# --------------------------------------------------------------------------

def labels_from_star_edges(star_edges: DataFrame, vertices: DataFrame | None) -> DataFrame:
    """Star edges (child > root) → labels(vertex, label); roots label
    themselves; vertices absent from any edge (isolated) label themselves."""
    labels = star_edges.select(
        F.col("src").alias("vertex"), F.col("dst").alias("label")
    ).union(
        star_edges.select(F.col("dst").alias("vertex"), F.col("dst").alias("label"))
    ).groupBy("vertex").agg(F.min("label").alias("label"))
    if vertices is not None:
        labels = (
            vertices.select(F.col("id").alias("vertex"))
            .join(labels, "vertex", "left")
            .select(
                "vertex", F.coalesce("label", F.col("vertex")).alias("label")
            )
        )
    return labels


def normalize_labels(labels: DataFrame) -> DataFrame:
    """Canonicalize arbitrary component representatives to min-vertex-id —
    the reference's "same components, different labels is VALID"
    equivalence (/root/reference/benchmarks/benchmark_openmp.c:114-127)
    made exact (SURVEY.md §1.2)."""
    rep = labels.groupBy("label").agg(F.min("vertex").alias("canon"))
    return labels.join(rep, "label").select("vertex", F.col("canon").alias("label"))


def count_components(labels: DataFrame) -> int:
    """count_unique_labels (/root/reference/src/cc_common.c:7-38) — the
    partial-distinct + merge physical plan is exactly the reference's
    per-thread hash-set + bitmap merge
    (/root/reference/src/pthreads/afforest_simple.c:441-517)."""
    return labels.select(F.countDistinct("label")).collect()[0][0]


# --------------------------------------------------------------------------
# 1. Alternating large-star / small-star
# --------------------------------------------------------------------------

def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u}).
    Input/output invariant: src > dst on every pair."""
    nbrs = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = nbrs.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("m"))
    out = (
        nbrs.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    return out


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every smaller neighbor of u (and u itself) to the min of
    the smaller neighborhood. Input oriented src > dst."""
    m = edges.groupBy("src").agg(F.min("dst").alias("m"))
    to_nbrs = (
        edges.join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    to_self = m.select(F.col("src"), F.col("m").alias("dst"))
    return (
        to_nbrs.union(to_self)
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def cc_alternating_stars(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    max_iterations: int = 50,
    resume: bool = False,
    assume_oriented: bool = False,
) -> tuple[DataFrame, FixpointRunner]:
    """→ (labels(vertex, label=min id of component), runner with metrics).

    ``assume_oriented``: input is already deduped and oriented src > dst
    (skips the canonicalization shuffle)."""
    if assume_oriented:
        init = edges.select("src", "dst")
    else:
        init = canonicalize(edges).select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )  # orient src > dst
    runner = FixpointRunner(
        spark, "cc_stars", checkpoint_dir=checkpoint_dir, max_iterations=max_iterations
    )
    prev_sum = {"v": None}

    def step(state: DataFrame, it: int) -> DataFrame:
        return _small_star(_large_star(state))

    # set-equality checksum observed during materialization (no extra
    # job): count + XOR of per-edge hashes, sound because deduped
    observe = [
        F.count(F.lit(1)).alias("c"),
        F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
    ]

    def converged(got: dict, it: int):
        chk = (got["c"], got["h"] or 0)
        changed = 0 if chk == prev_sum["v"] else 1
        prev_sum["v"] = chk
        return changed, {"edges": chk[0]}

    final_edges = runner.run(init, step, observe, converged, resume=resume)
    labels = labels_from_star_edges(final_edges, vertices)
    return labels, runner


# --------------------------------------------------------------------------
# 2. Two-phase: partition-local union-find contraction + stars
# --------------------------------------------------------------------------

def estimate_edge_locality(
    edges: DataFrame,
    num_ranges: int,
    sample_limit: int = 200_000,
    seed: int = 7,
) -> tuple[float, dict]:
    """Fraction of edges whose endpoints fall in the same equal-width id
    range block — the signal for whether range partitioning will make
    :func:`cc_two_phase`'s local contraction effective (round-5 VERDICT
    item 5). Spatially-numbered graphs (road networks, meshes — the
    reference's roadNet/europe_osm inputs number vertices by geography)
    measure near 1.0; hash-random id spaces measure ~1/num_ranges. The
    separation is huge, so the 0.5 decision threshold is robust.

    Equal-width blocks approximate ``repartitionByRange``'s sampled
    equal-count quantiles; they agree whenever ids are near-uniform over
    their span (true for both regimes above — a spatially-numbered graph
    is dense in its id space). Cost: one min/max/count aggregate + one
    avg over a bounded sample (two small jobs); integer ``div`` keeps the
    block arithmetic exact for 64-bit id spans where double division
    would lose low bits."""
    stats = edges.agg(
        F.count(F.lit(1)).alias("m"),
        F.min("src").alias("s0"), F.max("src").alias("s1"),
        F.min("dst").alias("d0"), F.max("dst").alias("d1"),
    ).collect()[0]
    m = stats["m"]
    if not m:
        return 0.0, {"edges": 0, "sampled": 0, "num_ranges": num_ranges}
    lo = min(stats["s0"], stats["d0"])
    hi = max(stats["s1"], stats["d1"])
    span = hi - lo + 1
    width = max(1, -(-span // num_ranges))
    sample = (
        edges.sample(False, min(1.0, sample_limit / m), seed=seed)
        if m > sample_limit
        else edges
    )
    if span < 2**62:
        # |id - lo| <= span, so the subtraction cannot overflow: exact
        # integer block arithmetic
        blk = lambda c: F.expr(f"({c} - {lo}) DIV {width}")  # noqa: E731
    else:
        # full-range 64-bit id spaces (xxhash64 vertex ids): (id - lo)
        # overflows int64 under ANSI mode — compute blocks in double
        # (≤2^-53 relative error, irrelevant for a >=0.5-vs-~1/n_ranges
        # decision signal; such id spaces are hash-random anyway)
        blk = lambda c: F.floor(  # noqa: E731
            (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(float(width))
        )
    same_block = (blk("src") == blk("dst")).cast("double")
    row = sample.agg(
        F.avg(same_block).alias("loc"), F.count(F.lit(1)).alias("k")
    ).collect()[0]
    return float(row["loc"] or 0.0), {
        "edges": m,
        "sampled": row["k"],
        "num_ranges": num_ranges,
        "id_span": span,
    }

def _numpy_cc_kernel(
    src: "np.ndarray", dst: "np.ndarray"
) -> tuple["np.ndarray", "np.ndarray"]:
    """Vectorized local connected components: (nodes, root-per-node), root
    = min vertex id of the node's component within this edge batch.

    Round-5 replacement for the per-edge Python UF loop (which capped
    contraction at ~1M edges/s/core — the reference's hottest loop too,
    /root/reference/src/mpi/cc_mpi.c:1856-1934). Round 2 measured naive
    numpy formulations LOSING to the dict UF (PLANS.md §7: minimum.at
    0.4x, per-round reduceat 0.7x); this kernel differs in the three ways
    that measured decisive (shootout, BENCH/BASELINE.md):

    1. compaction is a dense lookup table whenever the batch's id span is
       ≤ 8x its edge count (every bounded-id graph: generator pages, MTX,
       grids, doc-id pair graphs) — `np.unique(return_inverse=True)`
       alone cost 2.5x the dict UF's TOTAL on a 560k-edge batch; the
       sorted-unique + searchsorted fallback covers hash-random 64-bit id
       spaces (embedding fingerprints) at ~0.2s/1M endpoints;
    2. min-hooks are applied via one packed-key sort per round — keys
       (hi << bits | lo) sorted ascending put each hi's minimum lo at the
       head of its run, so the scatter is a plain unique-index assignment
       (no ufunc.at);
    3. each round REPLACES the edge set with its deduped label-space
       contraction, so per-round work tracks the shrinking contracted
       graph, then pointer-jumps parent to full convergence (log passes).

    Convergence: hooks strictly decrease parent values within a
    component; the component's min vertex m always has parent[m] = m
    (hooks only ever assign larger ids a smaller parent), and rounds stop
    only when every edge's endpoints share a root — a second root r != m
    in m's component would leave some connecting edge live — so all roots
    are component minima, exactly the dict UF's union-by-min result
    (differential-tested in tests/test_cc.py)."""
    import numpy as np

    mask = src != dst
    src, dst = src[mask], dst[mask]
    if len(src) == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    lo_id = min(int(src.min()), int(dst.min()))
    hi_id = max(int(src.max()), int(dst.max()))
    span = hi_id - lo_id + 1
    if span <= 8 * len(src) + 1024:
        present = np.zeros(span, dtype=bool)
        present[src - lo_id] = True
        present[dst - lo_id] = True
        nodes = np.flatnonzero(present).astype(np.int64) + lo_id  # sorted
        lut = np.empty(span, dtype=np.int64)
        lut[nodes - lo_id] = np.arange(len(nodes), dtype=np.int64)
        s, d = lut[src - lo_id], lut[dst - lo_id]
    else:
        nodes = np.unique(np.concatenate([src, dst]))  # sorted
        s = np.searchsorted(nodes, src)
        d = np.searchsorted(nodes, dst)
    n = len(nodes)
    bits = max(1, int(n).bit_length())
    if 2 * bits > 62:  # packed key would overflow int64 (n >= 2^31 local
        # vertices in ONE partition batch — repartition instead)
        raise ValueError(f"partition batch too large for packed keys: {n} vertices")
    low_mask = (1 << bits) - 1
    parent = np.arange(n, dtype=np.int64)
    while True:
        ps, pd_ = parent[s], parent[d]
        hi = np.maximum(ps, pd_)
        lo = np.minimum(ps, pd_)
        live = hi != lo
        if not live.any():
            break
        keys = np.unique((hi[live] << bits) | lo[live])
        his = keys >> bits
        starts = np.empty(len(keys), dtype=bool)
        starts[0] = True
        np.not_equal(his[1:], his[:-1], out=starts[1:])
        uh = his[starts]
        parent[uh] = np.minimum(parent[uh], keys[starts] & low_mask)
        while True:  # pointer jumping to convergence
            p2 = parent[parent]
            if np.array_equal(p2, parent):
                break
            parent = p2
        s, d = his, keys & low_mask  # contracted deduped edge set
    return nodes, nodes[parent]


def _local_uf_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition connected components over the partition's edge batch;
    emits the local spanning star (vertex > local_root pairs). Pure
    function of the partition content — safe under task retry
    (deterministic for a given partition assignment; the downstream star
    rounds make the final labels independent of partitioning entirely,
    verified by tests). Arrow hands the partition over as ~10k-row
    batches; the vectorized kernel wants the whole batch at once."""
    import numpy as np

    srcs, dsts = [], []
    for pdf in batches:
        srcs.append(pdf["src"].to_numpy(dtype=np.int64, copy=False))
        dsts.append(pdf["dst"].to_numpy(dtype=np.int64, copy=False))
    if not srcs:
        yield pd.DataFrame({"src": [], "dst": []}).astype("int64")
        return
    nodes, roots = _numpy_cc_kernel(np.concatenate(srcs), np.concatenate(dsts))
    keep = nodes != roots
    yield pd.DataFrame({"src": nodes[keep], "dst": roots[keep]})


def cc_two_phase(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    max_iterations: int = 50,
    final_local_threshold: int = 2_000_000,
    assume_canonical: bool = False,
    partition_by: str = "hash",
) -> tuple[DataFrame, FixpointRunner]:
    """Local-UF contraction, then merge of the contracted graph.
    Contraction output is ≤ (#distinct vertices per partition) rows per
    partition regardless of edge count, so the merge phase sees a graph
    smaller by the average local component size — the same work-split as
    the MPI UF (local pass, then only cross-partition (root, root) edges
    travel, /root/reference/src/mpi/cc_mpi.c:2018-2341).

    ``partition_by``: "hash" (default), "range", "auto" (sample edge
    locality and pick), or "pre" (input is already partitioned — e.g. a
    bucketed canonical table — phase 1 runs with zero exchange).
    Contraction quality is
    entirely a function of how much of the graph is partition-LOCAL:
    hash partitioning scatters ids, so on hash-random vertex ids the
    local pass barely contracts (round-2 measurement: 18M → 16.5M).
    When ids CORRELATE with topology — road networks and meshes number
    vertices spatially; the reference's roadNet/europe_osm inputs do —
    ``range`` keeps contiguous id blocks together and each partition's
    subgraph collapses to a handful of roots. The contracted output is
    a spanning star per partition (~|V| rows either way — every vertex
    needs its label), but its STRUCTURE is what the merge pays for:
    measured on the 2M-vertex road-scale grid, range vs hash in the same
    session is 30.2 s vs 51.9 s wall, 96 MB vs 509 MB merge shuffle, 6
    vs 13 star rounds (BENCH/BASELINE.md).

    Merge strategy: if the contracted graph fits comfortably on the
    driver (< final_local_threshold rows) finish with one in-memory
    union-find — the analog of the MPI version gathering final state at
    rank 0 (/root/reference/src/mpi/cc_mpi.c:1393-1406) and ~10x cheaper
    than log-rounds of star shuffles at that size. Above the threshold,
    alternating large/small-star rounds (fully distributed, O(log n)
    rounds) take over, so the operator has no driver-memory cliff at
    10^12-vertex scale.
    """
    n = num_partitions or spark.sparkContext.defaultParallelism
    # ``assume_canonical`` skips the dedup shuffle when the caller already
    # holds a canonical (src<dst, deduped, no-self-loop) edge table
    canon = edges if assume_canonical else canonicalize(edges)
    partition_info: dict | None = None
    if partition_by == "auto":
        # measured (BENCH/BASELINE.md, 2M-vertex grid): range vs hash is
        # 30.2s vs 51.9s wall / 96 vs 509 MB merge shuffle when ids carry
        # spatial locality, and a wash on hash-random ids — the caller
        # shouldn't have to know which regime they're in
        locality, pinfo = estimate_edge_locality(canon, n)
        partition_by = "range" if locality >= 0.5 else "hash"
        partition_info = {**pinfo, "locality": round(locality, 4), "selected": partition_by}
    if partition_by == "range":
        parted = canon.repartitionByRange(n, "src")
    elif partition_by == "hash":
        parted = canon.repartition(n, "src")
    elif partition_by == "pre":
        # Caller already laid the edges out (a bucketed canonical table,
        # sources/bucketed.py, or any deliberate partitioning): the local
        # pass reads partitions as-is — zero exchange in phase 1. Pair
        # with assume_canonical=True, else the canonicalize dedup above
        # re-shuffles anyway and "pre" buys nothing. Contraction quality
        # is whatever the caller's layout gives (bucketed-by-src ≈ hash).
        parted = canon
    else:
        raise ValueError(
            f"partition_by must be 'hash', 'range', 'auto' or 'pre', "
            f"got {partition_by!r}"
        )
    contracted = (
        parted
        .mapInPandas(_local_uf_partition, schema="src long, dst long")
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=True)
    )
    n_contracted = contracted.count()
    if n_contracted <= final_local_threshold:
        import time as _time

        t0 = _time.perf_counter()
        cpdf = contracted.toPandas()  # Arrow path
        mapping = union_find_oracle(
            list(zip(cpdf["src"].tolist(), cpdf["dst"].tolist()))
        )
        runner = FixpointRunner(spark, "cc_two_phase_local", checkpoint_dir=None)
        runner.metrics.append(
            IterationMetrics(
                0, 0, _time.perf_counter() - t0, extra={"merge": "driver_uf", "edges": n_contracted}
            )
        )
        out = pd.DataFrame(
            {"vertex": list(mapping.keys()), "label": list(mapping.values())}
        )
        # explicit schema: an empty contracted graph (edge-less input)
        # must yield an empty, correctly-typed labels table, not an
        # inference error
        labels = spark.createDataFrame(out, schema="vertex long, label long")
    else:
        labels, runner = cc_alternating_stars(
            spark,
            contracted,  # local-UF output is already (vertex > root) deduped
            vertices=None,
            checkpoint_dir=checkpoint_dir,
            max_iterations=max_iterations,
            assume_oriented=True,
        )
    # Contraction preserves the vertex set (every endpoint of `canon`
    # appears in the contracted output), so labels already cover all
    # non-isolated vertices; attach isolated ones if a vertex table came.
    if vertices is not None:
        labels = (
            vertices.select(F.col("id").alias("vertex"))
            .join(labels, "vertex", "left")
            .select("vertex", F.coalesce("label", F.col("vertex")).alias("label"))
        )
    runner.partition_info = partition_info  # None unless partition_by="auto"
    return labels, runner


# --------------------------------------------------------------------------
# 3. Afforest: k-neighbor sampling pre-rounds + giant-component skip
# --------------------------------------------------------------------------

def cc_afforest(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    sample_rounds: int = 2,
    num_samples: int = 1024,
    checkpoint_dir: str | None = None,
    max_iterations: int = 50,
    detect_giant: bool = False,
) -> tuple[DataFrame, FixpointRunner]:
    """Afforest (Sutton/Ben-Nun/Barak, IPDPS'18) re-expressed as Spark
    dataflow — the reference's best algorithm on skewed graphs
    (/root/reference/README.md:150, cc_openmp.c:560-621):

    phase a (sampling pre-rounds, cc_openmp.c:582-594): link each vertex
      to its r-th neighbor only, for r = 1..sample_rounds — here the r
      smallest neighbors per vertex via r chained MIN aggregations (no
      per-vertex sort, partial agg bounds hub keys), then the sampled
      subgraph (≤ sample_rounds·|V| edges, independent of |E|) is fully
      resolved with :func:`cc_two_phase` (round 5: the vectorized
      local-UF contraction + driver/star merge resolves the ≤2|V|-edge
      subgraph in one pass — measured 1.7 s vs 7.1 s for alternating
      stars' ~5 join rounds on the 700k-edge bench graph; labels are the
      same min-id fixpoint either way). On power-law graphs this cheap
      pass already collapses most of the giant component.

    giant detection (cc_openmp.c:422-496): ~num_samples random vertices
      vote; the plurality label is the probable giant component —
      recorded in the runner metrics (the reference's skew detector).
      OFF by default: in the reference the vote *feeds* the skip, but
      here the contraction subsumes the skip, so the vote is purely
      diagnostic — a count + sample job that doesn't belong on the
      critical path unless explicitly requested.

    phase b (the skip, cc_openmp.c:596-613, strengthened): edges whose
      endpoints share a phase-a label are redundant for connectivity —
      the reference skips exactly the giant's internal edges; mapping
      every edge through the phase-a labels and keeping only
      differing-label pairs drops the giant's internal edges AND every
      other already-resolved region, i.e. contraction subsumes the
      giant-component exclusion. The contracted remainder (tiny after a
      good phase a) finishes with :func:`cc_two_phase`, and final labels
      compose: label(v) = root(label_a(v)). Sound because phase-a labels
      are component minima of a SUBgraph (never cross true components)
      and every dropped edge's endpoints stay connected through their
      shared representative.
    """
    canon = canonicalize(edges)
    sym = canon.union(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    n_part = spark.sparkContext.defaultParallelism
    sym = sym.repartition(n_part, "src").localCheckpoint(eager=True)

    # phase a: r-th-smallest-neighbor edges, r = 1..sample_rounds
    picked = sym.groupBy("src").agg(F.min("dst").alias("dst"))
    sampled = picked
    for _ in range(1, sample_rounds):
        picked = (
            sym.join(picked.withColumnRenamed("dst", "_prev"), "src")
            .filter(F.col("dst") > F.col("_prev"))
            .groupBy("src")
            .agg(F.min("dst").alias("dst"))
        )
        sampled = sampled.union(picked)
    labels_a, runner = cc_two_phase(
        spark,
        sampled,
        vertices=None,
        checkpoint_dir=checkpoint_dir,
        max_iterations=max_iterations,
    )
    for m in runner.metrics:  # tag so phase_iterations can split a vs b
        m.extra.setdefault("phase", "a_sample")
    labels_a = labels_a.localCheckpoint(eager=True)
    if labels_a.isEmpty():  # edge-less input: everyone is their own component
        out = (
            vertices.select(F.col("id").alias("vertex"), F.col("id").alias("label"))
            if vertices is not None
            else labels_a
        )
        return out, runner

    # giant detection — the sampling vote, recorded like the reference's
    # "skipping component X (sampled share Y)" progress line. Purely
    # diagnostic here (the contraction below subsumes the skip), so it is
    # flag-gated: it costs a count + a sample job on the critical path.
    if detect_giant:
        from .stats import giant_component_sample

        giant_label, giant_hits = giant_component_sample(
            labels_a, num_samples=num_samples
        )
        runner.metrics.append(
            IterationMetrics(
                len(runner.metrics), -1, 0.0,
                extra={"phase": "giant_sample", "giant_label": giant_label,
                       "giant_hits": giant_hits, "num_samples": num_samples},
            )
        )

    # phase b: contract through phase-a labels, finish on the remainder
    la = labels_a.withColumnsRenamed({"vertex": "src", "label": "_ls"})
    lb = labels_a.withColumnsRenamed({"vertex": "dst", "label": "_ld"})
    contracted = (
        canon.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("_ls") != F.col("_ld"))
        .select(
            F.least("_ls", "_ld").alias("src"), F.greatest("_ls", "_ld").alias("dst")
        )
        .dropDuplicates(["src", "dst"])
    )
    roots, runner_b = cc_two_phase(
        spark, contracted, vertices=None,
        checkpoint_dir=checkpoint_dir, max_iterations=max_iterations,
        assume_canonical=True,
    )
    for m in runner_b.metrics:
        m.extra.setdefault("phase", "b_finish")
    runner.metrics.extend(runner_b.metrics)
    labels = (
        labels_a.join(
            roots.select(F.col("vertex").alias("label"), F.col("label").alias("_root")),
            "label",
            "left",
        )
        .select("vertex", F.coalesce("_root", F.col("label")).alias("label"))
    )
    if vertices is not None:
        labels = (
            vertices.select(F.col("id").alias("vertex"))
            .join(labels, "vertex", "left")
            .select("vertex", F.coalesce("label", F.col("vertex")).alias("label"))
        )
    return labels, runner


# --------------------------------------------------------------------------
# 4. Min-label propagation with frontier
# --------------------------------------------------------------------------

def cc_label_propagation(
    spark: SparkSession,
    edges_sym: DataFrame,
    vertices: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    max_iterations: int = 200,
    resume: bool = False,
    stall_window: int = 0,
    stall_ratio: float = 0.6,
    stall_min_iterations: int = 5,
    raise_on_cap: bool = True,
    assume_pinned: bool = False,
) -> tuple[DataFrame, FixpointRunner]:
    """Jacobi-style min-label propagation
    (label_propagation_sync_omp, /root/reference/src/cc_openmp.c:38-142;
    double-buffering is free — DataFrames are immutable).

    Only vertices whose label changed last round send messages (the
    queue-based delta iteration of the reference's
    src/cc_sequential.c:131-161). Every edge has then
    carried its source's current label at least once, so a run resumed
    from a snapshot (which keeps each vertex's ``changed`` flag) simply
    continues.

    ``stall_window=w`` (w > 0) arms a high-diameter stall detector: LP is
    O(diameter) rounds, which on web graphs (diameter ~ log V) converges
    in a handful of rounds but on road-network-like graphs (diameter
    O(sqrt V) — the reference's roadNet-CA/europe_osm validation set,
    /root/reference/README.md:120-123) degenerates into thousands of
    near-constant-size rounds. The signature of that regime is that the
    changed-count stops decaying: on a web graph `changed` drops
    geometrically (each round resolves a constant fraction), while on a
    lattice the propagation is a wavefront of roughly constant size. When
    ``changed(it) >= stall_ratio · changed(it - w)`` after at least
    ``stall_min_iterations`` rounds, the loop exits early with
    ``runner.stalled = True`` and mid-flight labels — :func:`cc_auto`
    then finishes the job with O(log n) alternating stars on the
    label-contracted graph. Default off (w=0): plain LP to convergence.
    """
    # ``assume_pinned=True``: the caller guarantees edges_sym is already
    # symmetrized, deduped, src-partitioned, and persisted (a pinned
    # repartition or a bucketed table scan, sources/bucketed.py) — the
    # pin exchange is skipped and the table is NOT unpersisted on return.
    if assume_pinned:
        e, n_part = edges_sym, edges_sym.rdd.getNumPartitions()
    else:
        e, n_part = pin_edges(spark, edges_sym)  # (already materialized)
    if vertices is not None:
        verts = vertices.select(F.col("id")).localCheckpoint(eager=True)
    else:
        # the input is symmetrized, so every vertex appears on the src
        # side — and the pinned table is hash(src)-partitioned, so this
        # distinct needs NO exchange (vs the union-both-endpoints +
        # distinct full shuffle of vertices_of; round 6)
        verts = (
            e.select(F.col("src").alias("id")).distinct().localCheckpoint(eager=True)
        )
    init = verts.select(
        F.col("id").alias("vertex"),
        F.col("id").alias("label"),
        F.lit(True).alias("changed"),
    )
    runner = FixpointRunner(
        spark,
        "cc_lp",
        checkpoint_dir=checkpoint_dir,
        max_iterations=max_iterations,
        raise_on_cap=raise_on_cap,
        n_part=n_part,
    )
    runner.stalled = False
    changed_history: list[int] = []

    def step(state: DataFrame, it: int) -> DataFrame:
        # The state is hash(vertex)-partitioned from birth (init derives
        # from the pinned table's src side) and gather's output matches
        # it, so the join-back needs no exchange: one exchange per
        # iteration, moving only frontier-emitted labels.
        mins = gather(
            e, state.filter("changed").select("vertex", "label"),
            F.min("label").alias("_m"),
        )
        return (
            state.select("vertex", F.col("label").alias("_old"))
            .join(mins, "vertex", "left")
            .select(
                "vertex",
                F.least(F.col("_old"), F.coalesce("_m", F.col("_old"))).alias("label"),
                (F.coalesce("_m", F.col("_old")) < F.col("_old")).alias("changed"),
            )
        )

    def converged(got: dict, it: int):
        changed = got["changed"] or 0
        if stall_window > 0 and changed > 0:
            changed_history.append(changed)
            if (
                it + 1 >= stall_min_iterations
                and len(changed_history) > stall_window
                and changed >= stall_ratio * changed_history[-stall_window - 1]
            ):
                runner.stalled = True
                return 0, {"stalled": True, "changed_at_stall": changed}
        return changed, {}

    final = runner.run(
        init, step, [F.sum(F.col("changed").cast("long")).alias("changed")],
        converged, resume=resume,
    )
    release(verts)
    if not assume_pinned:
        e.unpersist()
    return final.select("vertex", "label"), runner


# --------------------------------------------------------------------------
# 4. Auto-selecting hybrid: frontier LP with a high-diameter escape hatch
# --------------------------------------------------------------------------

def cc_auto(
    spark: SparkSession,
    edges_sym: DataFrame,
    vertices: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    max_iterations: int = 200,
    stall_window: int = 3,
    stall_ratio: float = 0.6,
    stall_min_iterations: int = 5,
) -> tuple[DataFrame, dict]:
    """Algorithm-selecting CC: frontier label propagation until it either
    converges (web-graph regime, diameter ~ log V — measured 2.4x faster
    than stars there, BENCH/BASELINE.md) or the stall detector fires
    (road-network regime, diameter O(sqrt V) — the reference's
    roadNet-CA/europe_osm validation graphs,
    /root/reference/README.md:120-123, where O(diameter) LP is a
    scale-killer), in which case the mid-flight labels contract the graph
    and O(log n) alternating stars finishes.

    Correctness of the hand-off: at any LP round, ``l(v)`` is the id of a
    vertex in v's component (labels only ever arrive over edges), so
    contracting every edge (u, v) to (l(u), l(v)) preserves the component
    structure exactly — components of the contracted graph are the images
    of the original components. Stars then yields, per contracted
    component, its minimum label value; since the true minimum vertex m
    of an original component always has ``l(m) = m`` (labels are
    min-monotone, nothing smaller exists to displace it), that minimum IS
    the component's min vertex id, and composing
    ``label(v) = stars_label(l(v))`` gives the exact min-id labeling —
    identical to every other algorithm in this module (differential test:
    tests/test_highdiam.py).

    → (labels(vertex, label), info) where info carries the chosen path
    (``algorithm``: "label_propagation" or "lp+two_phase"), both runners, and
    per-phase iteration counts.
    """
    lp_labels, lp_runner = cc_label_propagation(
        spark,
        edges_sym,
        vertices=vertices,
        checkpoint_dir=checkpoint_dir,
        max_iterations=max_iterations,
        stall_window=stall_window,
        stall_ratio=stall_ratio,
        stall_min_iterations=stall_min_iterations,
    )
    info: dict = {
        "algorithm": "label_propagation",
        "lp_runner": lp_runner,
        "finish_runner": None,
        "lp_iterations": lp_runner.num_iterations,
        "finish_iterations": 0,
    }
    if not getattr(lp_runner, "stalled", False):
        return lp_labels, info

    # High-diameter escape: contract by the mid-flight labels, then finish
    # the contracted graph with two-phase CC under auto partition
    # selection (round 5; previously alternating stars). Rationale,
    # measured at the 2M-vertex grid (BENCH/BASELINE.md): label ids are
    # component-region minima, so on spatially-numbered graphs the
    # contracted graph KEEPS id locality — range-partitioned local UF cut
    # the merge shuffle 5.4x vs hash and beat stars 30.2s vs 71.6s; and
    # when LP already shrank the graph under the driver-merge threshold,
    # two_phase finishes in a single in-memory pass instead of log-n star
    # rounds. On graphs without locality the estimator picks hash and
    # two_phase's merge IS alternating stars — never worse than before.
    lab = lp_labels.localCheckpoint(eager=True)
    contracted = contract_edges(edges_sym, lab)
    finish_labels, finish_runner = cc_two_phase(
        spark,
        contracted,
        max_iterations=max_iterations,
        checkpoint_dir=checkpoint_dir,
        partition_by="auto",
    )
    # Compose: label(v) = finish_label(l(v)); labels whose component was
    # already fully resolved by LP never reach the contracted graph —
    # left join + coalesce keeps them as-is.
    finish_map = finish_labels.select(
        F.col("vertex").alias("label"), F.col("label").alias("_sl")
    )
    final = lab.join(finish_map, "label", "left").select(
        "vertex", F.coalesce("_sl", F.col("label")).alias("label")
    )
    info.update(
        algorithm="lp+two_phase",
        finish_runner=finish_runner,
        finish_iterations=finish_runner.num_iterations,
        partition_info=getattr(finish_runner, "partition_info", None),
    )
    return final, info
