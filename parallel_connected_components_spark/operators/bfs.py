"""Multi-source BFS hop distance / k-hop neighborhood extraction.

Target-only capability: the frontier expansion IS the reference's CC
frontier loop (/root/reference/src/cc_openmp.c:86-128's changed-only
resend) with min-label swapped for min-distance — and k-hop
neighborhoods around seed sets are a routine link-graph curation step
(expand a trusted/spam seed list a few hops before scoring, extract a
subgraph for inspection, bound a crawl frontier).

State is (vertex, dist, frontier), one row per reached vertex. Per
round, frontier rows send dist+1 over the pinned directed edges, one min
aggregation combines the arrivals per receiver, and the next state is
the union of the settled rows (``frontier`` false) and the arrivals that
have no state row yet (a left anti join, ``frontier`` true): a settled
vertex keeps its (smaller) distance, and the next frontier is exactly the
set of newly reached vertices. Convergence (empty frontier) rides the
materialization job via Observation; the optional ``max_hops`` cap
bounds the walk for neighborhood extraction.

Direction: the edge table is used AS GIVEN (src → dst). Pass the
symmetrized table for undirected distance, the raw directed table for
forward reachability, or the reversed table for ancestor distance.

Scale: identical per-round plan to frontier CC (one shuffle join + one
agg over the pinned sorted edge cache, one hash exchange, for the
messages), so the shuffle decays with the frontier; rounds = the
distance bound (max_hops) or the eccentricity of the seed set. The
DuckDB twin (entry._khop_sql) unrolls the same integer recurrence;
tests differential against a plain Python BFS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.runner import FixpointRunner, gather
from .graph import Pinned, long_ids, pinned


def bfs_hops(
    spark: SparkSession,
    edges: DataFrame | Pinned,
    sources: DataFrame,
    max_hops: int | None = None,
    max_iterations: int = 500,
) -> tuple[DataFrame, FixpointRunner]:
    """→ ((vertex long, dist long), runner) for every vertex REACHED from
    the seed set ``sources`` (a DataFrame with an ``id`` column; seeds
    themselves at dist 0) following edges src → dst. Unreached vertices
    are absent — join against a vertex universe downstream if a dense
    output is needed. ``max_hops`` caps the expansion (k-hop
    neighborhood); None runs to exhaustion. Each iteration's metrics
    record ``reached`` (newly reached) and ``vertices`` (reached so far).
    A :class:`~.graph.Pinned` ``edges`` is used as is and stays persisted."""
    if not isinstance(edges, Pinned):
        edges = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    with pinned(spark, edges) as (e, n_part):
        # The seeds are born hash(vertex)-partitioned like every later state
        # (a seed frame can arrive range-partitioned).
        init = (
            long_ids(sources)
            .repartition(n_part, "id")
            .groupBy(F.col("id").alias("vertex"))
            .agg(F.lit(0).cast("long").alias("dist"), F.lit(True).alias("frontier"))
        )

        def step(state: DataFrame, it: int) -> DataFrame:
            # The state and gather's output are both hash(vertex, n_part),
            # so the anti join needs no exchange, the union keeps that
            # partitioning and only the frontier's messages shuffle. A
            # vertex is newly reached exactly when it has no state row
            # (messages carry it+1, every settled dist is ≤ it). Messages
            # carry the sender's dist + 1, not a per-round literal, so
            # every round reuses one compiled class.
            senders = state.filter("frontier").select(
                "vertex", (F.col("dist") + 1).alias("dist")
            )
            arrivals = gather(e, senders, F.min("dist").alias("dist"))
            return state.select("vertex", "dist", F.lit(False).alias("frontier")).union(
                arrivals.join(state.hint("shuffle_hash"), "vertex", "leftanti").select(
                    "vertex", "dist", F.lit(True).alias("frontier")
                )
            )

        def converged(got: dict, it: int):
            reached = got["reached"] or 0
            extra = {"reached": reached, "vertices": got["vertices"]}
            if max_hops is not None and it + 1 >= max_hops:
                return 0, dict(extra, capped=reached > 0)
            return reached, extra

        runner = FixpointRunner(
            spark, "bfs_hops", max_iterations=max_iterations, n_part=n_part
        )
        observe = [
            F.sum(F.col("frontier").cast("long")).alias("reached"),
            F.count(F.lit(1)).alias("vertices"),
        ]
        out = runner.run(init, step, observe, converged)
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
