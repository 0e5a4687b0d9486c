"""Strongly connected components of the DIRECTED link graph.

Target-only capability: the reference computes undirected CC only
(cc_sequential.c / cc_openmp.c / cc_mpi.c), but a web link graph is
directed — its bowtie structure (one giant SCC, IN/OUT cones, tendrils)
is a standard crawl-quality signal, so SCC belongs in the same toolbox.

Algorithm: Trim + Coloring (the classic distributed SCC decomposition —
Slota/Rajamanickam/Madduri's Multistep and Hong et al.'s coloring
method; same BSP skeleton as this package's CC operators):

  round:
    1. TRIM to fixpoint — a vertex with no in-edge or no out-edge in the
       remaining graph is a singleton SCC (label = itself). Removing it
       can expose more, so iterate. This peels the web graph's periphery
       (tendrils/IN/OUT fringes), one edge aggregation per pass.
    2. COLOR — propagate min vertex id FORWARD to fixpoint:
       color(v) = min({v} ∪ {color(u) : u→v}). At the fixpoint color(v)
       is the smallest remaining vertex that can reach v. Every nonempty
       color class c contains its root (color(c) = c: if some a < c
       reached c, everything c reaches would be colored ≤ a).
    3. BACKWARD MARK — from each root r, walk edges BACKWARD restricted
       to edges whose two endpoints share one color. The vertices
       reached are exactly SCC(r): mark(v) means v⇝r inside color r,
       and color(v) = r means r⇝v; conversely members of SCC(r) all
       have color r and their witness cycles never leave the SCC.
    4. EXTRACT marked vertices with label = their color — the label is
       therefore the MINIMUM member id of the SCC (r is a member and an
       ancestor-minimum) — remove them, repeat.

Exactness: each extracted set is a complete SCC (step 3 argument), and
each round removes at least every color root's SCC, so the loop
terminates in at most condensation-depth rounds. The min-member label
makes results comparable with any independent SCC implementation
(DuckDB twin in entry.py: recursive-CTE mutual reachability; tests:
iterative Tarjan).

Scale design: every fixpoint runs on :class:`FixpointRunner`, the
superstep loop the CC operators share. The trim is a runner loop of its
own whose state is the live vertex set. Coloring IS a
:func:`cc_label_propagation` run over the directed edges (min-label
propagation restricted to the edge direction is exactly min-ancestor).
The backward mark is a :func:`bfs_hops` run from the color roots over
the REVERSED same-color edges: v is in a root's SCC iff v reaches the
root inside its class, and BFS enters each vertex into its frontier
once. So SCC inherits the pinned sorted edge cache and the
Observation-based convergence (zero extra actions per step) of those
loops, and each coloring and mark step exchanges only its messages. On
a bowtie-shaped web graph the expected shape is: trim peels the cones,
one coloring pass floods the giant SCC from its minimum member, one
backward sweep extracts it — a handful of rounds.
The adversarial worst case (a long chain of singleton SCCs) degrades to
O(chain) trim passes and is bounded by ``max_iterations``; a
high-diameter escape analogous to cc_auto's is possible but not
implemented (road networks are not meaningfully directed).
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.runner import FixpointRunner, fixpoint_conf, release
from .bfs import bfs_hops
from .graph import Pinned, distinct_ids, long_ids, pinned, vertices_of


def scc(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 64,
    max_iterations: int = 500,
) -> tuple[DataFrame, dict]:
    """→ ((vertex long, label long), info). ``label`` = min member id of
    the vertex's strongly connected component. Self-loops and duplicate
    edges are dropped (a self-loop vertex is still a singleton SCC — the
    default vertex set is taken from the RAW endpoints, before the
    filter); ``vertices`` (optional superset of endpoints) adds isolated
    vertices as singleton SCCs.

    Plan shape:
    - the deduped directed edge table is pinned (hash(src), sorted,
      persisted) with ONE exchange — hash(src) already satisfies the
      (src, dst) dedup's clustering requirement — and the round-1
      coloring LP is handed that ``Pinned`` table instead of re-pinning;
    - the trim's first pass in a round is one union + max-aggregation
      over the round's edges (has-in AND has-out, one exchange), its
      survivor count riding the pass's own materialization; a later
      pass first restricts the edges to the live set. The trimmed
      singletons and the round's edge table are built once per round,
      after the trim has converged;
    - the backward mark's same-color edges are joined shuffle-hash (no
      sort-merge sorts) and its roots keep the colors' hash(vertex)
      partitioning, so each mark step exchanges only its messages;
    - extraction attaches the class label in one join, and the marked
      count comes from the mark's own observed state size, not a job;
    - the sub-loops (trim, coloring, mark) share one budget of
      ``max_iterations`` steps per call."""
    e_raw = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    # fused self-loop filter + dedup + pin: one exchange total, and the
    # result IS the round-1 coloring LP's pinned layout. Every frame scc
    # builds is then made in the pin's n_part partitions, the layout its
    # LP and BFS loops run in.
    with fixpoint_conf(spark), pinned(spark, e_raw) as e_pin, fixpoint_conf(
        spark, e_pin.n_part
    ):
        return _scc_impl(spark, e_raw, e_pin, vertices, max_rounds, max_iterations)


def _scc_impl(
    spark: SparkSession,
    e_raw: DataFrame,
    e_pin: Pinned,
    vertices: DataFrame | None,
    max_rounds: int,
    max_iterations: int,
) -> tuple[DataFrame, dict]:
    from .cc import cc_label_propagation

    ids = long_ids(distinct_ids(vertices) if vertices is not None else vertices_of(e_raw))
    verts = ids.select(F.col("id").alias("vertex")).localCheckpoint(eager=True)
    info = {"rounds": 0, "trim_passes": 0, "color_steps": 0, "mark_steps": 0}
    n_v = verts.count()
    if n_v == 0:
        return verts.select("vertex", F.col("vertex").alias("label")), info
    done: list[DataFrame] = []  # the output's frames
    # rem_v and every rem_e but the pinned table are scc's own checkpoints
    rem_v, rem_e = verts, e_pin.edges
    left = max_iterations  # the steps the sub-loops may still take

    def restrict(vs: DataFrame) -> None:
        nonlocal rem_e
        old_e, rem_e = rem_e, _between(rem_e, vs).localCheckpoint(eager=True)
        if old_e is not e_pin.edges:
            release(old_e)

    try:
        while True:
            info["rounds"] += 1
            if info["rounds"] > max_rounds:
                raise RuntimeError(f"scc exceeded max_rounds={max_rounds}")

            # ---- 1. trim to fixpoint ----------------------------------
            # A vertex with no in-edge or no out-edge in the remaining
            # graph is a singleton SCC.
            keep, n_keep, runner = _trim(spark, rem_v, rem_e, n_v, e_pin.n_part, left)
            info["trim_passes"] += runner.num_iterations
            left -= runner.num_iterations
            old_v, rem_v = rem_v, keep
            if n_keep < n_v:
                # keep ⊆ endpoints(rem_e) ⊆ rem_v, so rem_v \ keep is the
                # trimmed set (including vertices isolated by extraction)
                done.append(
                    old_v.join(keep.hint("shuffle_hash"), "vertex", "leftanti")
                    .select("vertex", F.col("vertex").alias("label"))
                    .localCheckpoint(eager=True)
                )
            release(old_v)
            if n_keep == 0:
                break
            if n_keep < n_v:
                restrict(keep)
            n_v = n_keep

            # ---- 2. coloring: forward min-id propagation to fixpoint --
            # This IS min-label propagation restricted to the edge
            # direction: feeding cc_label_propagation the DIRECTED edge
            # table makes its fixpoint label(v) = min({v} ∪ {u : u ⇝ v})
            # — exactly the coloring. While nothing was trimmed, the LP
            # gets the pinned table itself instead of re-exchanging it.
            colors, runner = cc_label_propagation(
                spark, e_pin if rem_e is e_pin.edges else rem_e,
                vertices=rem_v.select(F.col("vertex").alias("id")),
                max_iterations=left,
            )
            info["color_steps"] += runner.num_iterations
            left -= runner.num_iterations

            # ---- 3. backward mark from the color roots + 4. extract ---
            sel, runner = _mark(spark, rem_e, colors, left)
            done.append(sel)
            info["mark_steps"] += runner.num_iterations
            left -= runner.num_iterations
            # the mark's final state is the marked set, sel ⊆ rem_v
            n_marked = runner.metrics[-1].extra["vertices"]
            if n_marked >= n_v:  # everything extracted — no remainder
                break
            old_v, rem_v = rem_v, (
                rem_v.join(sel.select("vertex").hint("shuffle_hash"), "vertex", "leftanti")
                .localCheckpoint(eager=True)
            )
            release(old_v)
            n_v -= n_marked
            restrict(rem_v)
    except BaseException:
        # the cap or a failing step: nothing will read the output's frames
        for df in done:
            release(df)
        raise
    finally:
        release(rem_v)
        if rem_e is not e_pin.edges:
            release(rem_e)

    out = done[0]
    for d in done[1:]:
        out = out.union(d)
    return out, info


def _trim(
    spark: SparkSession,
    rem_v: DataFrame,
    rem_e: DataFrame,
    n_v: int,
    n_part: int,
    max_iterations: int,
) -> tuple[DataFrame, int, FixpointRunner]:
    """Peel the vertices of ``rem_v`` (``n_v`` rows) that have no in-edge
    or no out-edge among the live ones, until none is left to peel.
    → (live vertices ``(vertex)``, their count, runner). The state is the
    live set; one pass is one union + max-aggregation over the live edges
    (partial aggregation bounds hub keys), and the live count rides the
    pass's own materialization. The loop has converged when that count
    stops falling."""

    def step(live: DataFrame, it: int) -> DataFrame:
        # at iteration 0 every edge is live: rem_e ⊆ rem_v × rem_v
        e = _between(rem_e, live) if it > 0 else rem_e
        return (
            e.select(F.col("src").alias("vertex"), F.lit(1).alias("o"), F.lit(0).alias("i"))
            .union(
                e.select(F.col("dst").alias("vertex"), F.lit(0).alias("o"), F.lit(1).alias("i"))
            )
            .groupBy("vertex")
            .agg(F.max("o").alias("o"), F.max("i").alias("i"))
            .filter((F.col("o") == 1) & (F.col("i") == 1))
            .select("vertex")
        )

    counts = [n_v]

    def converged(got: dict, it: int):
        counts.append(got["live"])
        return (counts[-2] - counts[-1] if counts[-1] else 0), {"live": counts[-1]}

    runner = FixpointRunner(spark, "scc_trim", max_iterations=max_iterations, n_part=n_part)
    live = runner.run(rem_v, step, [F.count(F.lit(1)).alias("live")], converged)
    return live, counts[-1], runner


def _between(edges: DataFrame, vs: DataFrame) -> DataFrame:
    """The edges with both endpoints in ``vs`` ``(vertex)``."""
    return edges.join(
        vs.select(F.col("vertex").alias("src")).hint("shuffle_hash"), "src", "leftsemi"
    ).join(vs.select(F.col("vertex").alias("dst")).hint("shuffle_hash"), "dst", "leftsemi")


def _mark(
    spark: SparkSession, rem_e: DataFrame, colors: DataFrame, max_iterations: int
) -> tuple[DataFrame, FixpointRunner]:
    """→ (the SCCs of the color roots as a checkpoint ``(vertex, label)``,
    the mark's runner). ``colors`` is the coloring LP's ``(vertex,
    label)``; it is released here.

    A color root r is the MINIMUM of its class (color(v) = r means r ⇝ v,
    and v ⇝ v gives r ≤ v), and v ∈ SCC(r) iff v reaches r inside the
    class: the marked set is the BACKWARD reachability cone of the roots
    over the same-color edges. bfs_hops enters each vertex into its
    frontier once, where a second min-label propagation would re-send as
    smaller labels cascade. The color joins stay shuffle-hash (no
    sort-merge sorts)."""
    with ExitStack() as frees:
        frees.callback(release, colors)
        cs = colors.select(F.col("vertex").alias("src"), F.col("label").alias("_c1"))
        cd = colors.select(F.col("vertex").alias("dst"), F.col("label").alias("_c2"))
        ec_rev = (
            rem_e.join(cs.hint("shuffle_hash"), "src")
            .join(cd.hint("shuffle_hash"), "dst")
            .filter(F.col("_c1") == F.col("_c2"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        roots = colors.filter(F.col("vertex") == F.col("label")).select(
            F.col("vertex").alias("id")
        )
        # rem_e is deduplicated and loop-free, and the color joins add no
        # rows, so the reversed edges are pinned without a dedup
        ec = frees.enter_context(pinned(spark, ec_rev, dedup=False))
        dists, runner = bfs_hops(spark, ec, roots, max_iterations=max_iterations)
        frees.callback(release, dists)
        # the reached set IS the union of the roots' SCCs, labelled by root
        sel = (
            dists.select("vertex")
            .join(colors.hint("shuffle_hash"), "vertex")
            .localCheckpoint(eager=True)
        )
    return sel, runner


def scc_python_oracle(edge_list, vertex_ids=None) -> dict[int, int]:
    """Iterative Tarjan — the independent differential anchor for tests
    (mirrors the union-find oracle's role for CC). → vertex -> min member
    id of its SCC. Test-scale only."""
    verts = set(int(v) for v in (vertex_ids or []))
    for u, v in edge_list:  # RAW endpoints — self-loop-only verts stay
        verts.add(int(u))
        verts.add(int(v))
    e = sorted({(int(u), int(v)) for u, v in edge_list if u != v})
    adj: dict[int, list[int]] = {}
    for u, v in e:
        adj.setdefault(u, []).append(v)
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on_stack: set[int] = set()
    stack: list[int] = []
    sccs: list[list[int]] = []
    counter = [0]

    def strongconnect(root: int):
        work = [(root, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            neighbors = adj.get(v, [])
            for i in range(pi, len(neighbors)):
                w = neighbors[i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if not recurse:
                if low[v] == index[v]:
                    comp = []
                    while True:
                        w = stack.pop()
                        on_stack.discard(w)
                        comp.append(w)
                        if w == v:
                            break
                    sccs.append(comp)
                if work:
                    parent = work[-1][0]
                    low[parent] = min(low[parent], low[v])

    for v in sorted(verts):
        if v not in index:
            strongconnect(v)
    out: dict[int, int] = {}
    for comp in sccs:
        m = min(comp)
        for v in comp:
            out[v] = m
    return out
