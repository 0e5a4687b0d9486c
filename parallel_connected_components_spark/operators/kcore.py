"""k-core decomposition (coreness) of the undirected link graph.

Target-only capability: the reference computes CC only, but coreness is
the standard next notch on the same gather/apply skeleton
(/root/reference/src/cc_openmp.c:38-142 with min() swapped for the
H-index), and a first-class crawl-quality signal — the k-core separates
a web graph's densely-linked center from its tendrils far more finely
than component size does, so it is a routine filter in link-graph-based
training-data curation (keep documents whose pages sit in a deep core).

Algorithm: iterated neighborhood H-index (Lü, Zhou, Zhang, Stanley,
"The H-index of a network node and its relation to degree and
coreness", Nat. Commun. 2016):

    c_0(v)  = deg(v)
    c_t+1(v) = H({c_t(u) : u ~ v})     (H = largest h with >= h
                                        neighbor values >= h)

The sequence is pointwise non-increasing and its fixpoint is exactly
the coreness. Unlike the classic sequential peel (remove min-degree
vertices one by one — inherently serial), every vertex updates
independently per round from neighbor state only, which is the same
message-passing shape as this package's CC/PageRank loops: one
edges ⋈ state shuffle join, one repartition on the receiver, then a
window rank + agg evaluating the H-index JVM-side (desc row_number
inside the exchange's partitions; no Python in the loop, no per-vertex
array materialization). Convergence rides the materialization
job via Observation — zero extra actions per round. At 100 TB the
per-vertex fold is bounded by max degree (same packed-adjacency gather
bound as pagerank_fixed); rounds are bounded by the peel-cascade depth,
which on bowtie-shaped web graphs is small (the dense core stabilizes
immediately; only tendril chains cascade).

Exactness anchors: the DuckDB twin (entry._coreness_sql) unrolls the
same integer recurrence with a window-rank H-index; tests run a
differential against the independent sequential peel
(:func:`coreness_python_oracle`) on random graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..plans.runner import FixpointRunner, release, send
from .graph import pin_dedup_edges, vertices_of


def coreness(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iterations: int = 200,
) -> tuple[DataFrame, FixpointRunner]:
    """→ ((vertex long, core long), runner). ``core`` = the coreness
    (largest k such that the vertex survives in the k-core) of the
    UNDIRECTED graph; pass symmetrized edges (direction is ignored only
    if you ignore it — this operator uses the edge table as given, so
    symmetrize first exactly as for CC). Self-loops dropped, duplicate
    edges deduped; ``vertices`` (optional superset of endpoints) adds
    isolated vertices with core 0."""
    e_raw = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    e, n_part = pin_dedup_edges(spark, e_raw)
    verts = (
        (vertices.select("id") if vertices is not None else vertices_of(e_raw))
        .select(F.col("id").cast("long").alias("vertex"))
        .localCheckpoint(eager=True)
    )

    init = (
        verts.join(
            e.groupBy(F.col("src").alias("vertex")).agg(F.count("*").alias("core")),
            "vertex",
            "left",
        ).select("vertex", F.coalesce("core", F.lit(0)).cast("long").alias("core"))
    )

    def step(state: DataFrame, it: int) -> DataFrame:
        # The H-index comes from a window rank over the gathered
        # neighbor values — rank desc within each vertex, H = max rank
        # whose value still >= rank. Measured 2.4x over the collect_list
        # + sort_array + HOF-fold formulation (10.8 -> 4.4 s/round at
        # 18M edges, local[32], interleaved A/B, identical integers):
        # the window sorts rows in place inside the exchange's
        # partitions instead of materializing a per-vertex array per row
        # group. A vertex with no incoming rows keeps core (0-degree =>
        # H=0 from init — least(old, H) also guards monotonicity).
        # Join-back update (round 6, same rationale as cc_label_propagation):
        # the H-index window + aggregation run over the gathered NEIGHBOR
        # values only (no null-tagged self rows to rank around), and the
        # old core joins back exchange-free — the checkpointed state keeps
        # its hash(vertex) partitioning with AQE off in the loop, so only
        # the messages shuffle.
        w = Window.partitionBy("vertex").orderBy(F.desc("_nc"))
        h = (
            send(e, state.select("vertex", F.col("core").alias("_nc")))
            .repartition(n_part, "vertex")
            .withColumn("rn", F.row_number().over(w))
            .groupBy("vertex")
            .agg(
                F.max(F.when(F.col("_nc") >= F.col("rn"), F.col("rn")))
                .cast("long")
                .alias("_h")
            )
            .hint("shuffle_hash")
        )
        new_core = F.least(F.coalesce("_h", F.lit(0).cast("long")), F.col("_old"))
        return (
            state.select("vertex", F.col("core").alias("_old"))
            .join(h, "vertex", "left")
            .select(
                "vertex",
                new_core.alias("core"),
                (new_core < F.col("_old")).alias("changed"),
            )
        )

    def converged(got: dict, it: int):
        return got["changed"] or 0, {}

    runner = FixpointRunner(spark, "coreness", max_iterations=max_iterations)
    out = runner.run(
        init, step, [F.sum(F.col("changed").cast("long")).alias("changed")], converged
    )
    release(verts)
    e.unpersist()
    return out.select("vertex", "core"), runner


def coreness_python_oracle(edge_list, vertex_ids=None) -> dict[int, int]:
    """Independent sequential peel (Batagelj–Zaveršnik order): repeatedly
    delete a minimum-degree vertex; its coreness is the running maximum
    of the minimum degree seen. Test-scale differential anchor only."""
    import heapq

    verts = set(int(v) for v in (vertex_ids or []))
    adj: dict[int, set[int]] = {}
    for u, v in edge_list:
        u, v = int(u), int(v)
        verts.add(u)
        verts.add(v)
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    deg = {v: len(adj.get(v, ())) for v in verts}
    heap = [(d, v) for v, d in deg.items()]
    heapq.heapify(heap)
    removed: set[int] = set()
    out: dict[int, int] = {}
    k = 0
    while heap:
        d, v = heapq.heappop(heap)
        if v in removed or d != deg[v]:
            continue  # stale heap entry
        k = max(k, d)
        out[v] = k
        removed.add(v)
        for w in adj.get(v, ()):
            if w not in removed:
                deg[w] -= 1
                heapq.heappush(heap, (deg[w], w))
    return out
