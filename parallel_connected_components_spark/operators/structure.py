"""Structural graph statistics: clustering coefficients, transitivity,
degree assortativity, reciprocity, per-edge triangle support and k-truss
decomposition.

Target-only capabilities (BASELINE.json north rule's "link-graph
analytics engine" surface): all are standard web-graph structure
measures built on the package's existing triangle/degree plans — the
reference's canonical-orientation trick (/root/reference/src/
cc_sequential.c:418) is what makes every one of them a plain
equi-join + aggregation.

Cross-engine exactness: every emitted number is either an integer
aggregate (counts, supports, truss numbers) or ONE IEEE754 division of
two integer-exact operands — both are reproduced bit-identically by the
DuckDB oracle twins in entry.py, with no transcendental functions and
no order-dependent float accumulation anywhere.

Scale notes (100 TB): clustering, transitivity, supports and the truss
peel all read the one triangle enumerator,
:func:`.triangles.triangles`, and inherit its skew handling: degree
orientation bounds per-vertex wedge fan-out by O(sqrt(E)), and AQE's
skew join splits hot middle keys. Assortativity/transitivity/reciprocity
are single-pass integer aggregations with map-side partial combine (no
per-key blowup at all). Truss peeling re-enumerates triangles over the
SURVIVING edge set each round — the standard distributed k-truss
(Cohen's MapReduce truss algorithm), where each round's input only
shrinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.runner import release
from .graph import canonicalize, degrees, distinct_ids, symmetrize
from .triangles import _degree_table, _per_vertex, triangles


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
    deg = degrees(symmetrize(edges))
    tri = _per_vertex(triangles(canonicalize(edges), deg if orient_by_degree else None))
    deg = deg.select(F.col("id").alias("vertex"), "degree")
    base = (
        distinct_ids(vertices).select(F.col("id").alias("vertex"))
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
    deg = degrees(symmetrize(edges))
    n_tri = triangles(canonicalize(edges), deg if orient_by_degree else None).count()
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

    The triangle counter's enumeration, each triangle emitting support
    for all three of its edges. Edges in no triangle get support 0 (left
    join back onto the edge table). ``orient_by_degree`` enumerates
    under the (degree, id) order — identical output, hub-skew-safe
    wedge fan-out (see ``_supports``)."""
    canon = canonicalize(edges)
    sup = _supports(canon, _degree_table(edges, orient_by_degree))
    return (
        canon.join(sup.hint("shuffle_hash"), ["src", "dst"], "left")
        .select("src", "dst", F.coalesce("support", F.lit(0)).alias("support"))
    )


def _supports(canon: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """(src, dst, support) for canonical edges with ≥1 triangle: each
    triangle of :func:`.triangles.triangles` counts once for each of its
    three edges, re-canonicalized by id (the enumeration order may be
    (degree, id)). ``deg`` switches to degree orientation, which kills
    the wedge blowup of a mid-id hub (a hub that is its block's MINIMUM
    id is harmless under id order, which is why the synthetic bench graph
    doesn't need it; a crawl hub has no such luck). For the truss peel,
    degrees of the ORIGINAL graph remain a valid total order on every
    survivor subset — no per-round degree recount."""
    sides = [
        F.struct(F.least(x, y).alias("src"), F.greatest(x, y).alias("dst"))
        for x, y in (("a", "b"), ("b", "c"), ("a", "c"))
    ]
    per_edge = triangles(canon, deg).select(F.inline(F.array(*sides)))
    return per_edge.groupBy("src", "dst").agg(F.count("*").alias("support"))


def ktruss(
    spark: SparkSession, edges: DataFrame, k: int, orient_by_degree: bool = False
) -> tuple[DataFrame, dict]:
    """→ (edges (src, dst) of the k-truss, info): the maximal subgraph
    whose every edge sits in ≥ k−2 triangles WITHIN the subgraph — by
    definition the edges of truss number ≥ k, so this is
    :func:`truss_decomposition` stopped at ``max_k=k``. info:
    ``converged`` False iff a peel stage hit its round cap (the edge set
    may then be a SUPERSET of the k-truss), ``edges`` the edge count,
    and the decomposition's stage counters."""
    truss, info = truss_decomposition(
        spark, edges, max_k=k, orient_by_degree=orient_by_degree
    )
    kept = truss.filter(F.col("truss") >= k).select("src", "dst")
    return kept, {**info, "k": k, "edges": kept.count()}


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
    max_rounds = 64  # per-stage safety valve
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
    # NOTE: unlike the message-passing fixpoints, this loop keeps AQE ON —
    # the wedge join's fan-out is data-dependent and AQE's runtime
    # partition sizing measurably beats the fixed-partition plan here
    # (A/B on the bench graph: 4.3 vs 8.2 s, OPTIMIZATION_r06.md).
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
            release(backing)
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
                release(truss)
            else:
                release(canon)  # truss's base view just materialized
            truss, truss_owned = new_truss, True
            k += 1
            if k > max_k:
                break
    if backing is not None:
        release(backing)  # not returned; truss snapshots are independent
    if deg is not None:
        release(deg)
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
