"""HITS (hubs & authorities) over the directed link graph.

Target-only capability (like PageRank — the reference computes CC only,
but the gather/scatter dataflow is the same message-passing skeleton,
/root/reference/src/cc_openmp.c:38-142 with min() swapped for sum()).

Kleinberg's mutual reinforcement, L1-normalized each half-step so the
scores stay a probability-like distribution and never overflow:

    a_{t+1}(v) = Σ_{u→v} h_t(u)        then a ← a / Σ_v a(v)
    h_{t+1}(u) = Σ_{u→v} a_{t+1}(v)    then h ← h / Σ_u h(u)

Self-loops are dropped (a page endorsing itself is noise for HITS) and
duplicate edges deduped. Summation is order-deterministic
(``plans/runner.py:ordered_gather`` folds each receiver's messages in
sender-id order, ``ordered_total`` folds the normalization denominator
in vertex order), so the DuckDB twin (entry._hits_fixed_sql) reproduces
every score BIT-EXACTLY — the same operands added in the same order,
then one identical division.

Both half-steps are one :func:`_half_step`; the hub direction sends over
the reversed edge frame. The normalization sum rides as a 1-row
broadcast cross join. Scale note: the fold arrays are bounded by max
degree (the packed-adjacency gather, same bound as pagerank_fixed); a
production deployment at 100 TB would swap the folds for plain SUMs
(order-free, partial-agg-friendly) — the fold variant exists for the
cross-engine correctness gate, exactly as pagerank_fixed vs pagerank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.runner import ordered_gather, ordered_total, release
from .graph import pin_dedup_edges, vertices_of


def hits_fixed(
    spark: SparkSession,
    edges: DataFrame,
    n_iterations: int = 5,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """→ (vertex long, authority double, hub double) after exactly
    ``n_iterations`` rounds (at least 1). ``vertices`` (optional superset
    of the edge endpoints) adds isolated vertices with authority = hub = 0."""
    if n_iterations < 1:
        raise ValueError(f"hits_fixed needs n_iterations >= 1, got {n_iterations}")
    e_raw = edges.select("src", "dst")
    e, n_part = pin_dedup_edges(spark, e_raw)
    e_rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    verts = (
        # default vertex set from the RAW endpoints: a self-loop-only
        # vertex stays in the output (scores 0 — its loop is dropped)
        (vertices.select("id") if vertices is not None else vertices_of(e_raw))
        .select(F.col("id").alias("vertex"))
        .localCheckpoint(eager=True)
    )

    def _half_step(edges: DataFrame, scores: DataFrame, col: str) -> DataFrame:
        """``col`` = the L1-normalized fold of ``scores`` sent along
        ``edges``, for every vertex (0 without in-messages)."""
        got = verts.join(ordered_gather(edges, scores, n_part, col), "vertex", "left")
        s = got.select("vertex", F.coalesce(col, F.lit(0.0)).alias(col))
        # try_divide -> NULL when the graph has no edges at all (total 0);
        # coalesce keeps the all-zero fixpoint instead of an ANSI error
        return (
            s.crossJoin(F.broadcast(ordered_total(s, col, "_s")))
            .select(
                "vertex",
                F.coalesce(F.try_divide(F.col(col), F.col("_s")), F.lit(0.0)).alias(col),
            )
            .localCheckpoint(eager=True)
        )

    hub = verts.select("vertex", F.lit(1.0).alias("hub"))
    for it in range(n_iterations):
        new_auth = _half_step(e, hub, "auth")
        new_hub = _half_step(e_rev, new_auth, "hub")
        if it:  # the first hub is a projection of verts, which `out` reads
            release(auth)
            release(hub)
        auth, hub = new_auth, new_hub
    out = (
        verts.join(auth, "vertex", "left")
        .join(hub, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("auth", F.lit(0.0)).alias("authority"),
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
        )
    )
    e.unpersist()
    return out


def hits_numpy_oracle(
    edge_list: list[tuple[int, int]], n_iterations: int = 5
) -> dict[int, tuple[float, float]]:
    """Independent dense implementation, same recipe (L1-normalized,
    plain float accumulation — tests compare with allclose, the bit-exact
    check lives in the DuckDB twin). Test-scale only."""
    e = sorted({(u, v) for u, v in edge_list if u != v})
    verts = sorted({u for u, _ in edge_list} | {v for _, v in edge_list})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    h = [1.0] * n
    a = [0.0] * n
    for _ in range(n_iterations):
        a = [0.0] * n
        for u, v in e:
            a[idx[v]] += h[idx[u]]
        s = sum(a)
        a = [x / s if s else 0.0 for x in a]
        h = [0.0] * n
        for u, v in e:
            h[idx[u]] += a[idx[v]]
        s = sum(h)
        h = [x / s if s else 0.0 for x in h]
    return {v: (a[idx[v]], h[idx[v]]) for v in verts}
