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
       (tendrils/IN/OUT fringes) for a few cheap semi-joins per pass.
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

Scale design: both fixpoints ARE :func:`cc_label_propagation` runs —
coloring feeds it the directed edges (min-label propagation restricted
to the edge direction is exactly min-ancestor), the backward mark feeds
it the REVERSED same-color edges (a color root is its class minimum, so
v is in the root's SCC iff its min-descendant-within-class equals its
color). The SCC operator therefore inherits the frontier semi-join, the
exchange-free join-back update, the pinned sorted edge cache, and the
Observation-based convergence (zero extra actions per step) from the CC
path, and any future LP tuning speeds SCC for free. On a bowtie-shaped
web graph the expected shape is: trim peels the cones, one coloring pass
floods the giant SCC from its minimum member, one backward sweep
extracts it — a handful of rounds.
The adversarial worst case (a long chain of singleton SCCs) degrades to
O(chain) trim passes and is bounded by ``max_iterations``; a
high-diameter escape analogous to cc_auto's is possible but not
implemented (road networks are not meaningfully directed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..plans.runner import fixpoint_conf, release
from .graph import pin_dedup_edges, vertices_of


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

    Round-6 plan shape (the r5 verdict's "trim loop costs one action per
    peel pass" fix, measured in OPTIMIZATION_r06.md):
    - the deduped directed edge table is pinned (hash(src), sorted,
      persisted) with ONE exchange — hash(src) already satisfies the
      (src, dst) dedup's clustering requirement — and the round-1
      coloring LP reuses it via ``assume_pinned`` instead of re-pinning;
    - each trim pass is one union + max-aggregation over the edge
      endpoints (has-in AND has-out) with the survivor count riding an
      Observation on the pass's own materialization — replacing the 2
      distinct + 2 semi-join + count() formulation (5 jobs → 1);
    - the backward-mark edge table keeps the color joins shuffle-hash
      (no sort-merge sorts) and is handed to the mark LP already
      persisted with its dst-join partitioning (= the reversed table's
      src), skipping the third exchange;
    - extraction fuses the marked-filter and label joins into one and
      derives the shrunken vertex count arithmetically (marked ⊆ rem_v),
      and the remainder's edge table is only rebuilt when a remainder
      exists."""
    with fixpoint_conf(spark):
        return _scc_impl(spark, edges, vertices, max_rounds, max_iterations)


def _scc_impl(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None,
    max_rounds: int,
    max_iterations: int,
) -> tuple[DataFrame, dict]:
    from .cc import cc_label_propagation

    e_raw = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    # fused self-loop filter + dedup + pin: one exchange total, and the
    # result IS the round-1 coloring LP's pinned layout
    e_pin, _n_part = pin_dedup_edges(spark, e_raw)
    verts = (
        (vertices.select("id") if vertices is not None else vertices_of(e_raw))
        .select(F.col("id").cast("long").alias("vertex"))
        .localCheckpoint(eager=True)
    )
    info = {"rounds": 0, "trim_passes": 0, "color_steps": 0, "mark_steps": 0}
    done: list[DataFrame] = []
    rem_v, rem_e = verts, e_pin
    rem_pinned = True  # rem_e is e_pin (src-partitioned + persisted)
    n_v = rem_v.count()
    steps = 0

    def _drop(df: DataFrame):
        # a superseded one-shot checkpoint; `verts` (the no-SCC output)
        # and `e_pin` (unpersisted on exit) live to the end, and the
        # `done` frames are never dropped: the output union reads them
        if df is not verts and df is not e_pin:
            release(df)

    def _tick(kind: str):
        nonlocal steps
        info[kind] += 1
        steps += 1
        if steps > max_iterations:
            raise RuntimeError(
                f"scc exceeded max_iterations={max_iterations} "
                f"(rounds={info['rounds']}) — adversarially deep "
                "condensation; raise the cap"
            )

    try:
        while n_v > 0:
            info["rounds"] += 1
            if info["rounds"] > max_rounds:
                raise RuntimeError(f"scc exceeded max_rounds={max_rounds}")

            # ---- 1. trim to fixpoint ----------------------------------
            # A vertex with no in-edge or no out-edge in the remaining
            # graph is a singleton SCC. One union + max-agg per pass
            # (partial aggregation bounds hub keys); survivor count rides
            # the pass's own materialization.
            while True:
                _tick("trim_passes")
                obs = Observation()
                keep = (
                    rem_e.select(
                        F.col("src").alias("vertex"),
                        F.lit(1).alias("o"), F.lit(0).alias("i"),
                    )
                    .union(
                        rem_e.select(
                            F.col("dst").alias("vertex"),
                            F.lit(0).alias("o"), F.lit(1).alias("i"),
                        )
                    )
                    .groupBy("vertex")
                    .agg(F.max("o").alias("o"), F.max("i").alias("i"))
                    .filter((F.col("o") == 1) & (F.col("i") == 1))
                    .select("vertex")
                    .observe(obs, F.count(F.lit(1)).alias("c"))
                    .localCheckpoint(eager=True)
                )
                n_keep = obs.get["c"] or 0
                if n_keep == n_v:
                    release(keep)
                    break
                # keep ⊆ endpoints(rem_e) ⊆ rem_v, so rem_v \ keep is the
                # trimmed set (including vertices isolated by extraction)
                done.append(
                    rem_v.join(keep.hint("shuffle_hash"), "vertex", "leftanti")
                    .select("vertex", F.col("vertex").alias("label"))
                    .localCheckpoint(eager=True)
                )
                _drop(rem_v)
                rem_v, n_v = keep, n_keep
                if n_v == 0:
                    break
                old_e = rem_e
                rem_e = (
                    rem_e.join(
                        keep.select(F.col("vertex").alias("src")).hint("shuffle_hash"),
                        "src", "leftsemi",
                    )
                    .join(
                        keep.select(F.col("vertex").alias("dst")).hint("shuffle_hash"),
                        "dst", "leftsemi",
                    )
                    .select("src", "dst")
                    .localCheckpoint(eager=True)
                )
                _drop(old_e)
                rem_pinned = False
            if n_v == 0:
                break

            # ---- 2. coloring: forward min-id propagation to fixpoint --
            # This IS min-label propagation restricted to the edge
            # direction: feeding cc_label_propagation the DIRECTED edge
            # table makes its fixpoint label(v) = min({v} ∪ {u : u ⇝ v})
            # — exactly the coloring. Round 1 reuses the pinned table
            # (assume_pinned) instead of re-exchanging it.
            rem_ids = rem_v.select(F.col("vertex").alias("id"))
            colors, lp_runner = cc_label_propagation(
                spark, rem_e, vertices=rem_ids,
                max_iterations=max_iterations, assume_pinned=rem_pinned,
            )
            info["color_steps"] += lp_runner.num_iterations
            steps += lp_runner.num_iterations
            color = colors.select(
                "vertex", F.col("label").alias("color")
            ).localCheckpoint(eager=True)
            release(colors)

            # ---- 3. backward mark from the color roots ----------------
            # A color root r is the MINIMUM of its class (color(v) = r
            # means r ⇝ v, and v ⇝ v gives r ≤ v), and v ∈ SCC(r) iff v
            # reaches r inside the class — i.e. the marked set is the
            # multi-source BACKWARD reachability cone of the roots over
            # the same-color edges. Round 6 runs it as bfs_hops (sources
            # = the roots, edges = the reversed same-color table) instead
            # of a second min-label propagation: same round count (class
            # eccentricity) but each vertex enters the frontier at most
            # ONCE, so total mark messages are |V_class| instead of the
            # LP's re-sends as smaller labels cascade. The color joins
            # stay shuffle-hash (no sort-merge sorts); bfs_hops pins the
            # reversed table itself (pin_dedup_edges — one exchange).
            cs = color.select(
                F.col("vertex").alias("src"), F.col("color").alias("_c1")
            ).hint("shuffle_hash")
            cd = color.select(
                F.col("vertex").alias("dst"), F.col("color").alias("_c2")
            ).hint("shuffle_hash")
            ec_rev = (
                rem_e.join(cs, "src")
                .join(cd, "dst")
                .filter(F.col("_c1") == F.col("_c2"))
                .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            roots = color.filter(F.col("vertex") == F.col("color")).select(
                F.col("vertex").alias("id")
            )
            from .bfs import bfs_hops

            dists, bw_runner = bfs_hops(
                spark, ec_rev, roots, max_hops=None, max_iterations=max_iterations
            )
            info["mark_steps"] += bw_runner.num_iterations
            steps += bw_runner.num_iterations

            # ---- 4. extract + shrink ----------------------------------
            # the reached set IS the union of the roots' SCCs; one join
            # attaches the class label (= the root id).
            obs = Observation()
            sel = (
                dists.select("vertex")
                .join(color.hint("shuffle_hash"), "vertex")
                .select("vertex", F.col("color").alias("label"))
                .observe(obs, F.count(F.lit(1)).alias("c"))
                .localCheckpoint(eager=True)
            )
            done.append(sel)
            release(color)
            release(dists)
            n_marked = obs.get["c"] or 0
            if n_marked >= n_v:  # everything extracted — no remainder
                n_v = 0
                break
            old_v, old_e = rem_v, rem_e
            rem_v = (
                rem_v.join(
                    sel.select("vertex").hint("shuffle_hash"), "vertex", "leftanti"
                )
                .localCheckpoint(eager=True)
            )
            n_v -= n_marked  # sel ⊆ rem_v, distinct — no count job
            rem_e = (
                rem_e.join(
                    rem_v.select(F.col("vertex").alias("src")).hint("shuffle_hash"),
                    "src", "leftsemi",
                )
                .join(
                    rem_v.select(F.col("vertex").alias("dst")).hint("shuffle_hash"),
                    "dst", "leftsemi",
                )
                .select("src", "dst")
                .localCheckpoint(eager=True)
            )
            _drop(old_v)
            _drop(old_e)
            rem_pinned = False
    finally:
        _drop(rem_v)
        _drop(rem_e)
        e_pin.unpersist()

    if not done:
        out = verts.select("vertex", F.col("vertex").alias("label"))
    else:
        release(verts)
        out = done[0]
        for d in done[1:]:
            out = out.union(d)
    return out.select("vertex", "label"), info


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
