"""Structural graph statistics: clustering coefficients, transitivity,
degree assortativity, reciprocity, per-edge triangle support and k-truss
decomposition.

Target-only capabilities (BASELINE.json north rule's "link-graph
analytics engine" surface): all are standard web-graph structure
measures built on the package's existing triangle/degree plans — the
reference's canonical-orientation trick (/root/reference/src/
cc_sequential.c:418) is what makes every one of them a plain
equi-join + aggregation, so they inherit the triangle module's skew
story (degree orientation + AQE skew-join splits for hub wedges).

Cross-engine exactness: every emitted number is either an integer
aggregate (counts, supports, truss numbers) or ONE IEEE754 division of
two integer-exact operands — both are reproduced bit-identically by the
DuckDB oracle twins in entry.py, with no transcendental functions and
no order-dependent float accumulation anywhere.

Scale notes (100 TB): the triangle enumeration underneath support/truss
is the same two-shuffle oriented join the triangle counter uses —
degree orientation bounds per-vertex wedge fan-out by O(sqrt(E)).
Assortativity/transitivity/reciprocity are single-pass integer
aggregations with map-side partial combine (no per-key blowup at all).
Truss peeling re-enumerates triangles over the SURVIVING edge set each
round — the standard distributed k-truss (Cohen's MapReduce truss
algorithm), where each round's input only shrinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .graph import canonicalize, degrees, symmetrize
from .triangles import triangle_count, triangles_per_vertex


def clustering_coefficients(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    orient_by_degree: bool = True,
) -> DataFrame:
    """→ (vertex, degree, triangles, lcc): local clustering coefficient
    lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), 0.0 for deg < 2.

    One division of two exact integers per vertex — bit-identical in any
    IEEE754 engine. ``vertices`` (optional superset) adds isolated
    vertices with degree = triangles = 0."""
    sym = symmetrize(edges)
    deg = degrees(sym).select(F.col("id").alias("vertex"), "degree")
    tri = triangles_per_vertex(spark, edges, orient_by_degree=orient_by_degree)
    base = (
        vertices.select(F.col("id").alias("vertex"))
        if vertices is not None
        else deg.select("vertex")
    )
    out = (
        base.join(deg, "vertex", "left")
        .join(tri, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("degree", F.lit(0)).alias("degree"),
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
        )
    )
    d = F.col("degree")
    return out.select(
        "vertex",
        "degree",
        "triangles",
        F.when(
            d >= 2,
            (F.lit(2) * F.col("triangles")).cast("double") / (d * (d - 1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )


def transitivity(
    spark: SparkSession, edges: DataFrame, orient_by_degree: bool = True
) -> DataFrame:
    """→ 1 row (triangles, wedges, transitivity): the global clustering
    coefficient 3·|triangles| / |wedges|, wedges = Σ_v d(v)(d(v)−1)/2.

    Both operands are exact integers (one global triangle count + one
    integer degree aggregation), so the single division is bit-exact
    cross-engine. 0.0 when the graph has no wedge. All integer paths use
    integer division (DIV / //) so no float accumulation sneaks in."""
    n_tri = triangle_count(spark, edges, orient_by_degree=orient_by_degree)
    deg = degrees(symmetrize(edges))
    w = deg.agg(F.sum(F.col("degree") * (F.col("degree") - 1)).alias("sum_dd1"))
    return w.select(
        F.lit(n_tri).cast("long").alias("triangles"),
        F.expr("sum_dd1 DIV 2").alias("wedges"),
        F.when(
            F.col("sum_dd1") > 0,
            (F.lit(6) * F.lit(n_tri)).cast("double") / F.col("sum_dd1").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("transitivity"),
    )


def degree_assortativity(
    spark: SparkSession, edges: DataFrame, exact_ints: bool = True
) -> DataFrame:
    """→ 1 row (num_edges, sum_jk, sum_jpk, sum_j2k2, assortativity):
    Newman's degree assortativity (Pearson correlation of endpoint
    degrees over the undirected edge list).

    With per-canonical-edge endpoint degrees (j, k), multiply Newman's
    r numerator and denominator by 4M² to clear the fractions:

        r = (4M·Σjk − (Σ(j+k))²) / (2M·Σ(j²+k²) − (Σ(j+k))²)

    ``exact_ints=True`` (default — the oracle-verified gate mode) forms
    num/den in int64: every term exact, ONE division (cast to double)
    that any IEEE754 engine reproduces bit-identically. The squares
    overflow int64 once Σ(j+k) exceeds ~3·10^9 (well under crawl scale,
    and Spark's non-ANSI arithmetic would wrap silently), so
    ``exact_ints=False`` — the production mode for big graphs (r5
    advisor fix) — computes the same closed form over double-cast sums:
    ≤2^-53 relative error per term, no overflow at any scale. The four
    emitted sums are raw int64 aggregates (exact) in both modes. NULL
    assortativity when the graph is degree-regular (denominator 0)."""
    canon = canonicalize(edges)
    deg = degrees(symmetrize(edges))
    e = canon.join(
        deg.withColumnsRenamed({"id": "src", "degree": "j"}), "src"
    ).join(deg.withColumnsRenamed({"id": "dst", "degree": "k"}), "dst")
    j, k = F.col("j"), F.col("k")
    sums = e.agg(
        F.count("*").alias("num_edges"),
        F.sum(j * k).alias("sum_jk"),
        F.sum(j + k).alias("sum_jpk"),
        F.sum(j * j + k * k).alias("sum_j2k2"),
    )
    if exact_ints:
        m = F.col("num_edges")
        num = F.lit(4) * m * F.col("sum_jk") - F.col("sum_jpk") * F.col("sum_jpk")
        den = F.lit(2) * m * F.col("sum_j2k2") - F.col("sum_jpk") * F.col("sum_jpk")
        r = F.when(den != 0, num.cast("double") / den.cast("double"))
    else:
        m = F.col("num_edges").cast("double")
        jk = F.col("sum_jk").cast("double")
        jpk = F.col("sum_jpk").cast("double")
        j2k2 = F.col("sum_j2k2").cast("double")
        num = F.lit(4.0) * m * jk - jpk * jpk
        den = F.lit(2.0) * m * j2k2 - jpk * jpk
        r = F.when(den != 0.0, num / den)
    return sums.select(
        "num_edges",
        "sum_jk",
        "sum_jpk",
        "sum_j2k2",
        r.alias("assortativity"),
    )


def reciprocity(edges_directed: DataFrame) -> DataFrame:
    """→ 1 row (num_edges, mutual_edges, reciprocity): fraction of
    directed (non-loop, deduped) edges whose reverse edge also exists —
    the standard link-reciprocity measure on web graphs. One semi-join +
    two counts + one exact-integer division."""
    e = (
        edges_directed.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = e.join(rev, ["src", "dst"], "left_semi")
    stats = e.agg(F.count("*").alias("num_edges")).crossJoin(
        mutual.agg(F.count("*").alias("mutual_edges"))
    )
    return stats.select(
        "num_edges",
        "mutual_edges",
        F.when(
            F.col("num_edges") > 0,
            F.col("mutual_edges").cast("double") / F.col("num_edges").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("reciprocity"),
    )


def edge_support(
    spark: SparkSession, edges: DataFrame, orient_by_degree: bool = False
) -> DataFrame:
    """→ (src, dst, support) over the canonical (src < dst) edge table:
    support = number of triangles through the edge = |N(src) ∩ N(dst)|.

    Same two-join plan as the triangle counter, but an INNER closure join
    (not semi) so each triangle emits support for all three of its
    edges. Edges in no triangle get support 0 (left join back onto the
    edge table). ``orient_by_degree`` enumerates under the (degree, id)
    order — identical output, hub-skew-safe wedge fan-out (see
    ``_supports``)."""
    canon = canonicalize(edges)
    deg = degrees(symmetrize(edges)) if orient_by_degree else None
    sup = _supports(canon, deg)
    return (
        canon.join(sup.hint("shuffle_hash"), ["src", "dst"], "left")
        .select("src", "dst", F.coalesce("support", F.lit(0)).alias("support"))
    )


def _supports(canon: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """(src, dst, support) for canonical edges with ≥1 triangle.

    The edge input of each join is shuffle_hash-hinted: per-partition
    edge slices are bounded build sides, and sort-merge's per-join sorts
    of the 18M-edge table are pure overhead — measured 46s (SMJ) vs 19s
    (hash) warm at 18M edges, local[32]. The wedge stream stays the
    PROBE side (no hint): hinting it too lets Spark's meaningless
    self-join size estimate pick a 100M-row build map → executor OOM.

    ``deg`` (optional ``(id, degree)`` table) switches the enumeration
    to degree orientation — each edge low→high by (degree, id) instead
    of id — which bounds every vertex's oriented out-degree by O(√E) and
    kills the wedge blowup of a mid-id hub (a hub that is its block's
    MINIMUM id is harmless under id order, which is why the synthetic
    bench graph doesn't need this; a crawl hub has no such luck). Any
    total order enumerates each triangle exactly once, so supports are
    identical; emitted edges are re-canonicalized by id. For the truss
    peel, degrees of the ORIGINAL graph remain a valid total order on
    every survivor subset — no per-round degree recount."""
    if deg is None:
        e = canon
    else:
        d = deg.select(F.col("id"), F.col("degree"))
        ed = canon.join(
            d.withColumnsRenamed({"id": "src", "degree": "_ds"}).hint("shuffle_hash"),
            "src",
        ).join(
            d.withColumnsRenamed({"id": "dst", "degree": "_dd"}).hint("shuffle_hash"),
            "dst",
        )
        fwd = F.struct("_ds", "src") < F.struct("_dd", "dst")
        e = ed.select(
            F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("src"),
            F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("dst"),
        )
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c")).hint("shuffle_hash")
    ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c")).hint("shuffle_hash")
    tri = ab.join(bc, "b").join(ac, ["a", "c"])  # one row per triangle
    pairs = [("a", "b"), ("b", "c"), ("a", "c")]
    if deg is None:
        sides = [
            tri.select(F.col(x).alias("src"), F.col(y).alias("dst")) for x, y in pairs
        ]  # orientation IS canonical (a<b<c by id)
    else:
        sides = [
            tri.select(F.least(x, y).alias("src"), F.greatest(x, y).alias("dst"))
            for x, y in pairs
        ]
    per_edge = sides[0].unionAll(sides[1]).unionAll(sides[2])
    return per_edge.groupBy("src", "dst").agg(F.count("*").alias("support"))


def ktruss(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    max_rounds: int = 64,
    orient_by_degree: bool = False,
    _pinned: bool = False,
    _deg: DataFrame | None = None,
) -> tuple[DataFrame, dict]:
    """→ (edges (src, dst) of the k-truss, info): the maximal subgraph
    whose every edge sits in ≥ k−2 triangles WITHIN the subgraph —
    iterative support peel (Cohen's MapReduce k-truss): recount supports
    over survivors, drop edges below k−2, repeat to fixpoint.

    Each round is one triangle enumeration + one filter over a set that
    only shrinks; peeling is monotone, so re-running a converged round is
    a no-op (the property the unrolled DuckDB twin relies on).
    localCheckpoint truncates lineage per round, and the superseded
    round's checkpoint blocks are unpersisted immediately (the runner's
    prev-unpersist discipline — without it the per-round edge snapshots
    accumulate and a deep peel at 18M edges exhausts the executor
    heap). ``_pinned`` (internal, truss_decomposition) declares the
    input already canonical + checkpointed: skips the redundant copy
    and never unpersists the caller-owned input. ``orient_by_degree``
    enumerates under the original graph's (degree, id) order — a valid
    total order on every survivor subset, identical peel result,
    hub-skew-safe (``_deg`` lets truss_decomposition pass the degree
    table once instead of recomputing per stage)."""
    e = edges if _pinned else canonicalize(edges).localCheckpoint(eager=True)
    owned = not _pinned
    deg = _deg
    if orient_by_degree and deg is None:
        deg = degrees(symmetrize(e)).localCheckpoint(eager=True)
    n = e.count()
    rounds = 0
    converged = False
    # NOTE: unlike the message-passing fixpoints, this loop keeps AQE ON —
    # the wedge join's fan-out is data-dependent and AQE's runtime
    # partition sizing measurably beats the fixed-partition plan here
    # (A/B on the bench graph: 4.3 vs 8.2 s, OPTIMIZATION_r06.md).
    for _ in range(max_rounds):
        if n == 0:
            converged = True
            break
        sup = _supports(e, deg)
        kept = (
            e.join(sup.hint("shuffle_hash"), ["src", "dst"], "left")
            .filter(F.coalesce("support", F.lit(0)) >= k - 2)
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        n_kept = kept.count()
        rounds += 1
        done = n_kept == n
        if owned:
            e.unpersist()
        e, owned, n = kept, True, n_kept
        if done:
            converged = True
            break
    # ``converged=False`` means the peel hit max_rounds mid-cascade and
    # the returned edge set may be a SUPERSET of the true k-truss (the
    # r5 advisor's silent-truncation finding) — surfaced, not raised, so
    # the bounded-round behavior callers rely on is unchanged.
    if deg is not None and _deg is None:
        deg.unpersist()  # built here, not caller-owned
    return e, {"k": k, "rounds": rounds, "edges": n, "converged": converged}


def truss_decomposition(
    spark: SparkSession,
    edges: DataFrame,
    max_k: int = 32,
    orient_by_degree: bool = False,
) -> tuple[DataFrame, dict]:
    """→ ((src, dst, truss), info): per-edge truss number — the largest k
    for which the edge survives the k-truss peel (2 for triangle-free
    edges, by convention).

    Staged peel, single-enumeration form (round 6): the (k+1)-truss is a
    subgraph of the k-truss, so each stage starts from the previous
    survivor set — and a stage's CONVERGED round leaves the survivor set
    (hence its supports) unchanged, so the next stage's first filter is
    applied to the same materialized (src, dst, support) table instead
    of re-enumerating triangles. Each triangle enumeration is therefore
    a round that actually drops edges (plus one final), cutting the
    enumeration count by one per stage versus the per-stage-fixpoint
    form (bench graph: 11 → 8 enumerations, identical truss integers —
    differential-tested against truss_python_oracle).

    info: ``stage_rounds`` counts threshold applications per stage (a
    stage entered for free on a converged enumeration contributes its
    count without a new enumeration), ``enumerations`` the triangle
    passes, ``converged`` False iff some stage hit ``max_rounds``
    mid-cascade (truss numbers may then be overstated — the r5 advisor's
    silent-truncation finding, now surfaced). ``orient_by_degree``:
    hub-skew-safe enumeration order, identical truss numbers (degrees
    computed once on the input graph — a valid total order on every
    survivor subset)."""
    max_rounds = 64  # per-stage safety valve, matching ktruss's default
    canon = canonicalize(edges).localCheckpoint(eager=True)
    deg = (
        degrees(symmetrize(canon)).localCheckpoint(eager=True)
        if orient_by_degree
        else None
    )
    truss = canon.select("src", "dst", F.lit(2).alias("truss"))
    truss_owned = False  # truss is a lazy view over canon until first update
    survivors = canon
    backing: DataFrame | None = None  # checkpoint backing survivors (never canon)
    n = canon.count()
    stage_rounds: dict[int, int] = {}
    enumerations = 0
    converged = True
    k = 3
    # AQE stays ON here — see ktruss's note on the wedge join.
    while n > 0 and k <= max_k:
        # one triangle enumeration, materialized WITH its support
        # column — every threshold below reads this cache; the
        # shrunken survivor set is a lazy filter over it (no second
        # checkpoint per dropping round)
        sup = _supports(survivors, deg)
        st = (
            survivors.join(sup.hint("shuffle_hash"), ["src", "dst"], "left")
            .select(
                "src", "dst", F.coalesce("support", F.lit(0)).alias("support")
            )
            .localCheckpoint(eager=True)
        )
        enumerations += 1
        if backing is not None:
            backing.unpersist()
        survivors, backing = st.select("src", "dst"), st
        while True:
            stage_rounds[k] = stage_rounds.get(k, 0) + 1
            capped = stage_rounds[k] > max_rounds
            if capped:
                converged = False  # overstated truss possible past here
            kept = st.filter(F.col("support") >= k - 2).select("src", "dst")
            n_kept = kept.count()
            if n_kept < n and not capped:
                # drops at this k — re-enumerate over the shrunken set
                # (kept stays a cache-backed filter view of st)
                survivors, n = kept, n_kept
                break
            # fixpoint at k (or the safety valve fired, matching the
            # old per-stage bounded behavior): every survivor has
            # truss ≥ k; advance k over the SAME supports
            upd = st.select("src", "dst", F.lit(k).alias("_t")).hint(
                "shuffle_hash"
            )
            new_truss = (
                truss.join(upd, ["src", "dst"], "left")
                .select(
                    "src", "dst",
                    F.coalesce("_t", F.col("truss")).alias("truss"),
                )
                .localCheckpoint(eager=True)
            )
            if truss_owned:
                truss.unpersist()
            else:
                canon.unpersist()  # truss's base view just materialized
            truss, truss_owned = new_truss, True
            k += 1
            if k > max_k:
                break
    if backing is not None:
        backing.unpersist()  # not returned; truss snapshots are independent
    if deg is not None:
        deg.unpersist()
    return truss, {
        "stage_rounds": stage_rounds,
        "max_truss": k - 1,
        "enumerations": enumerations,
        "converged": converged,
    }


# ---------------------------------------------------------------------------
# Independent Python simulations — differential anchors for tests
# ---------------------------------------------------------------------------


def _py_canon(edge_list):
    return {(min(u, v), max(u, v)) for u, v in edge_list if u != v}


def _py_supports(canon):
    from collections import defaultdict

    adj = defaultdict(set)
    for u, v in canon:
        adj[u].add(v)
        adj[v].add(u)
    return {(u, v): len(adj[u] & adj[v]) for u, v in canon}


def support_python_oracle(edge_list):
    """→ {(u, v) canonical: triangle support}. Test-scale."""
    return _py_supports(_py_canon(edge_list))


def truss_python_oracle(edge_list):
    """→ {(u, v) canonical: truss number}. Sequential staged peel,
    test-scale anchor for truss_decomposition."""
    canon = _py_canon(edge_list)
    truss = {e: 2 for e in canon}
    survivors = set(canon)
    k = 3
    while survivors:
        while True:
            s = _py_supports(survivors)
            kept = {e for e in survivors if s[e] >= k - 2}
            if kept == survivors:
                break
            survivors = kept
        for e in survivors:
            truss[e] = k
        k += 1
    return truss
