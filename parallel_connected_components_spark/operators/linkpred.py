"""Neighborhood-overlap link prediction over the undirected link graph.

Target-only capability: scores NON-adjacent vertex pairs by shared
neighborhood — the classic candidate generator for "pages that should
link" / related-page suggestions, and (with the walk corpus in
operators/walks.py) the second standard bridge from a link graph to
training data. Three published measures per candidate pair (u, v):

    common_neighbors  |N(u) ∩ N(v)|                 (integer)
    jaccard           |N(u) ∩ N(v)| / |N(u) ∪ N(v)|  (one int division)
    resource_alloc    Σ_{w ∈ N(u)∩N(v)} 1 / deg(w)   (Zhou et al. 2009)

Resource allocation is used instead of Adamic-Adar (Σ 1/ln deg(w))
deliberately: RA is reported at least as accurate on link prediction
benchmarks, and 1/deg is a single correctly-rounded IEEE754 division,
so the score is reproducible BIT-EXACTLY by an independent engine —
Adamic-Adar's ln() is libm-dependent and would break the cross-engine
gate. The RA sum folds in ascending common-neighbor order
(``plans/runner.py:ordered_sum``, shared with the fixed-iteration twins).

Plan: one wedge self-join through the middle vertex w — candidate pairs
are exactly the 2-hop pairs — then an anti-join against the existing
edge set, one grouped aggregation, one top-k. Skew: a hub middle emits
deg(w)² candidate pairs; ``max_degree`` caps the middle (the standard
practice — a hub's endorsement carries no signal anyway, which is the
same insight RA's 1/deg weight encodes; at the cap the pairs it would
emit are exactly the lowest-weight ones). The top-k is the salted
two-stage pattern's job at scale; here the ordering is deterministic
(count desc, then pair ids) so the plan is a plain TakeOrdered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.runner import ordered_sum
from .graph import canonicalize, degrees, symmetrize


def link_prediction_topk(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 50,
    max_degree: int | None = None,
    exact_fold: bool = False,
) -> DataFrame:
    """→ top-k (src, dst, common_neighbors, jaccard, resource_alloc)
    over non-adjacent pairs src < dst, ordered by (common_neighbors
    desc, src, dst). ``max_degree`` drops wedge middles above the cap
    (hub fan-out guard; None = uncapped). Note the cap also excludes
    capped middles from ``common_neighbors`` and the jaccard numerator
    while the denominator keeps full degrees — capped jaccard is a
    lower bound on the true coefficient, not the coefficient itself
    (tests encode this semantics).

    ``exact_fold`` picks the resource-allocation accumulation:
    False (default — the scale mode, round 6 per the r5 verdict) uses a
    plain associative F.sum — constant aggregation state with map-side
    partial combine. True (the verification mode, what the oracle-gated
    entry query passes) folds Σ 1/deg(w) in ascending middle-id order
    (``ordered_sum``) — bit-reproducible by any engine, but the per-pair
    struct lists are real aggregation-state memory at crawl scale.
    Identical operands either way, so the two differ by at most
    summation-order ulps."""
    sym = symmetrize(edges)
    canon = canonicalize(edges)
    deg = degrees(sym)
    mid = deg.withColumnsRenamed({"id": "w", "degree": "dw"})
    if max_degree is not None:
        mid = mid.filter(F.col("dw") <= max_degree)
    # wedges through w: (u, w), (w, v) with u < v → candidate pair (u, v).
    # The middle-degree join (which also APPLIES the max_degree cap) sits
    # BELOW the self-join, so a capped hub never reaches the deg(w)^2
    # fan-out at all; dw rides the left input onto every wedge row.
    # shuffle_hash on the bounded build sides only (vertex/edge tables);
    # the wedge stream stays the probe side — hinting it lets Spark's
    # meaningless self-join estimate build a huge hash map (OOM).
    left = sym.select(F.col("dst").alias("w"), F.col("src").alias("u")).join(
        mid.hint("shuffle_hash"), "w"
    )
    right = sym.select(F.col("src").alias("w"), F.col("dst").alias("v")).hint(
        "shuffle_hash"
    )
    wedges = left.join(right, "w").filter(F.col("u") < F.col("v"))
    cand = wedges.join(
        canon.select(F.col("src").alias("u"), F.col("dst").alias("v")).hint(
            "shuffle_hash"
        ),
        ["u", "v"],
        "left_anti",
    )
    ra_term = F.lit(1.0) / F.col("dw").cast("double")
    ra = ordered_sum("w", ra_term) if exact_fold else F.sum(ra_term)
    scored = cand.groupBy(F.col("u").alias("src"), F.col("v").alias("dst")).agg(
        F.count("*").alias("common_neighbors"),
        ra.alias("resource_alloc"),
    )
    du = deg.withColumnsRenamed({"id": "src", "degree": "du"})
    dv = deg.withColumnsRenamed({"id": "dst", "degree": "dv"})
    out = (
        scored.join(du, "src")
        .join(dv, "dst")
        .select(
            "src",
            "dst",
            "common_neighbors",
            (
                F.col("common_neighbors").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common_neighbors")).cast("double")
            ).alias("jaccard"),
            "resource_alloc",
        )
    )
    return out.orderBy(
        F.desc("common_neighbors"), F.asc("src"), F.asc("dst")
    ).limit(k)
