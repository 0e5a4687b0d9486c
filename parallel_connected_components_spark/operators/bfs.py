"""Multi-source BFS hop distance / k-hop neighborhood extraction.

Target-only capability: the frontier expansion IS the reference's CC
frontier loop (/root/reference/src/cc_openmp.c:86-128's changed-only
resend) with min-label swapped for min-distance — and k-hop
neighborhoods around seed sets are a routine link-graph curation step
(expand a trusted/spam seed list a few hops before scoring, extract a
subgraph for inspection, bound a crawl frontier).

State is (vertex, dist, frontier). Per round, frontier rows send dist+1
over the pinned directed edges, one min aggregation combines the
arrivals per receiver, and a full-outer join back to the state settles
every newly reached vertex at the round number — a settled vertex keeps
its (smaller) distance, and `frontier` for the next round is exactly the
set of newly reached vertices. Convergence (empty frontier) rides the
materialization job via Observation; the optional ``max_hops`` cap
bounds the walk for neighborhood extraction.

Direction: the edge table is used AS GIVEN (src → dst). Pass the
symmetrized table for undirected distance, the raw directed table for
forward reachability, or the reversed table for ancestor distance.

Scale: identical per-round plan to frontier CC (one shuffle join + one
agg over the pinned sorted edge cache), so the shuffle decays with the
frontier; rounds = the distance bound (max_hops) or the eccentricity of
the seed set. The DuckDB twin (entry._khop_sql) unrolls the same
integer recurrence; tests differential against a plain Python BFS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.runner import FixpointRunner, gather
from .graph import pinned


def bfs_hops(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int | None = None,
    max_iterations: int = 500,
) -> tuple[DataFrame, FixpointRunner]:
    """→ ((vertex long, dist long), runner) for every vertex REACHED from
    the seed set ``sources`` (a DataFrame with an ``id`` column; seeds
    themselves at dist 0) following edges src → dst. Unreached vertices
    are absent — join against a vertex universe downstream if a dense
    output is needed. ``max_hops`` caps the expansion (k-hop
    neighborhood); None runs to exhaustion."""
    with pinned(
        spark, edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    ) as (e, n_part):
        init = sources.select(
            F.col("id").cast("long").alias("vertex"),
            F.lit(0).cast("long").alias("dist"),
            F.lit(True).alias("frontier"),
        ).dropDuplicates(["vertex"])

        def step(state: DataFrame, it: int) -> DataFrame:
            # With AQE off in the loop the checkpointed state keeps its
            # hash(vertex) partitioning, so the full-outer join-back
            # against the gathered arrivals needs no exchange on either
            # side and only the frontier's messages shuffle. A vertex is
            # newly reached exactly when it has no state row (settled
            # distances never improve: messages carry it+1, every settled
            # dist is ≤ it). Messages are built from the sender's dist + 1
            # (== it + 1 on the frontier), not a per-round literal, so
            # every round generates the same code and reuses one compiled
            # class instead of compiling a fresh one.
            senders = state.filter("frontier").select(
                "vertex", (F.col("dist") + 1).alias("dist")
            )
            arrivals = gather(e, senders, F.min("dist").alias("_m"))
            return (
                state.select("vertex", F.col("dist").alias("_old"))
                .join(arrivals, "vertex", "full")
                .select(
                    "vertex",
                    F.coalesce("_old", "_m").alias("dist"),
                    F.col("_old").isNull().alias("frontier"),
                )
            )

        def converged(got: dict, it: int):
            reached = got["reached"] or 0
            if max_hops is not None and it + 1 >= max_hops:
                return 0, {"reached": reached, "capped": reached > 0}
            return reached, {"reached": reached}

        runner = FixpointRunner(
            spark, "bfs_hops", max_iterations=max_iterations, n_part=n_part
        )
        out = runner.run(
            init, step, [F.sum(F.col("frontier").cast("long")).alias("reached")],
            converged,
        )
    return out.select("vertex", "dist"), runner


def bfs_python_oracle(edge_list, source_ids, max_hops=None) -> dict[int, int]:
    """Plain queue BFS — independent differential anchor. Test-scale."""
    from collections import deque

    adj: dict[int, list[int]] = {}
    for u, v in edge_list:
        u, v = int(u), int(v)
        if u != v:
            adj.setdefault(u, []).append(v)
    dist = {int(s): 0 for s in source_ids}
    q = deque(sorted(dist))
    while q:
        u = q.popleft()
        if max_hops is not None and dist[u] >= max_hops:
            continue
        for w in adj.get(u, ()):
            if w not in dist:
                dist[w] = dist[u] + 1
                q.append(w)
    return dist
