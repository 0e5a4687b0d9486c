"""Message-passing PageRank over the directed link graph.

Target-only capability (BASELINE.json north_rule) — the reference computes
no PageRank, but its LP iteration structure (gather over in-neighbors,
converge by reduction, /root/reference/src/cc_openmp.c:38-142) is exactly
the dataflow reused here with min() swapped for sum() and a convergence
*norm* instead of a changed flag.

Recipe (shared verbatim with the numpy oracle so allclose(1e-6) is
meaningful — risk R5, SURVEY.md §7):
- vertices V = distinct endpoints; duplicate edges deduped first;
- r_0(v) = 1/|V|;
- r_{t+1}(v) = (1-d)/|V| + d * ( Σ_{u→v} r_t(u)/outdeg(u) + D_t/|V| )
  where D_t = Σ_{outdeg(u)=0} r_t(u)  (dangling mass redistributed);
- converged when Σ_v |r_{t+1}(v) - r_t(v)| < tol (L1), float64 throughout.

Plan shape per iteration: one shuffle join (edges ⋈ ranks on src over
the pinned edge table), a partial sum of the NARROW (vertex, w) messages
per dst in each map task, ONE exchange on dst and the final sum, then a
shuffle_hash-pinned left join back to the vertex set that needs no
exchange; convergence delta and next-iteration dangling mass ride the
materialization job as an Observation — zero extra actions.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..plans.runner import FixpointRunner, gather, release
from .graph import pin_dedup_edges, pin_edges, vertices_of


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iterations: int = 100,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    init_ranks: DataFrame | None = None,
    assume_pinned: bool = False,
    vertices: DataFrame | None = None,
) -> tuple[DataFrame, FixpointRunner]:
    """→ (ranks(vertex long, rank double), runner). ``edges`` is directed.

    ``vertices`` (id), optional: the full vertex universe when it exceeds
    the edge endpoints — e.g. the MTX header's 0..n-1 range, where
    isolated vertices are dangling nodes that hold teleport mass and
    lower every other rank via n. Must be a SUPERSET of the edge
    endpoints (it replaces, not unions, the derived set). Default:
    distinct endpoints, the web-graph convention.

    ``init_ranks`` (vertex, rank) warm-starts the power iteration: the
    fixpoint is unique (damped PageRank is a contraction), so any start
    converges to the same ranks — but starting from a previous solution
    after a small graph delta reaches tol in a fraction of the rounds
    (measured in tests/test_streaming.py). Vertices absent from
    ``init_ranks`` start at 1/n; the vector is renormalized to sum 1.
    Caveat on MULTI-COMPONENT graphs: mass moves between components only
    through teleportation, i.e. at the damping rate — a warm init whose
    per-component mass is off converges SLOWER than cold (measured: 54
    vs 16 rounds for a 5% delta). Rescale per-component mass to n_c/n
    first (``streaming.graph._rescale_by_component``) — the incremental
    fold does this automatically.

    Per-iteration plan shape: the ``rank/outdeg`` messages travel through
    one exchange, summed per dst before it (plans/runner.py:gather holds
    the rationale), then a left join back to the vertex set that needs no
    exchange.

    ``assume_pinned=True`` (round 5, for the streaming fold): the caller
    guarantees ``edges`` is already (src, dst)-deduped, hash-partitioned
    on src, and persisted — the dedup shuffle and :func:`pin_edges` are
    skipped and the table is NOT unpersisted on return (the caller owns
    its lifecycle). This is what makes the incremental fold's edge pass
    delta-proportional: the accumulated table is pinned once and reused
    across folds instead of re-shuffled per fold. A persisted bucketed
    scan (sources/bucketed.py:pin_bucketed_edges) qualifies too — its
    bucket partitioning co-locates the join with no exchange at all."""
    if assume_pinned:
        e = edges
        n_part = e.rdd.getNumPartitions()
    else:
        # fused dedup+pin: one exchange instead of two (pin_dedup_edges)
        e, n_part = pin_dedup_edges(spark, edges, drop_self_loops=False)
    # vertex table with outdeg (0 for dangling), reused every iteration.
    # Round 6: built in ONE aggregation (outdeg = count of src-side rows)
    # instead of distinct-endpoints + count + outdeg join — |V| and the
    # dangling-vertex count ride the materialization as an Observation,
    # so setup costs one job, not four.
    if vertices is not None:
        outdeg = e.groupBy(F.col("src").alias("vertex")).agg(
            F.count("*").alias("outdeg")
        )
        vo_plan = (
            vertices.select(F.col("id").alias("vertex"))
            .join(outdeg, "vertex", "left")
            .select("vertex", F.coalesce("outdeg", F.lit(0)).alias("outdeg"))
        )
    else:
        vo_plan = (
            e.select(F.col("src").alias("vertex"), F.lit(1).alias("o"))
            .union(e.select(F.col("dst").alias("vertex"), F.lit(0).alias("o")))
            .groupBy("vertex")
            .agg(F.sum("o").alias("outdeg"))
        )
    vo_obs = Observation()
    vo = vo_plan.observe(
        vo_obs,
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("outdeg") == 0).cast("long")).alias("nd"),
    ).localCheckpoint(eager=True)
    got_vo = vo_obs.get
    n = got_vo["n"]
    n_dangling = got_vo["nd"] or 0

    if init_ranks is not None:
        pr = init_ranks.select("vertex", F.col("rank").alias("_r0"))
        seeded = vo.join(pr, "vertex", "left").select(
            "vertex", "outdeg", F.coalesce("_r0", F.lit(1.0 / n)).alias("rank")
        )
        total = seeded.agg(F.sum("rank")).collect()[0][0] or 1.0
        init = seeded.select(
            "vertex", "outdeg", (F.col("rank") / F.lit(total)).alias("rank")
        ).localCheckpoint(eager=True)
    else:
        init = vo.select("vertex", "outdeg", F.lit(1.0 / n).alias("rank"))
    # cap semantics match the numpy oracle: hitting max_iterations returns
    # the best-effort ranks at the cap (last l1_delta is in the metrics),
    # it does not raise — slow-converging graphs near the cap still answer
    runner = FixpointRunner(
        spark, "pagerank", checkpoint_dir=checkpoint_dir,
        max_iterations=max_iterations, raise_on_cap=False, n_part=n_part,
    )

    # dangling mass for the *next* step is computed inside the same
    # aggregate as the convergence delta (one job per iteration instead
    # of two scalar actions); seeded from the state we actually start at
    # (the latest durable snapshot when resuming). The cold-start value
    # is n_dangling/n (every dangling vertex holds exactly 1/n) — no job;
    # warm starts and resumes aggregate their actual seed state.
    seed_state = init
    resumed = False
    if resume:
        got = runner.latest()
        if got is not None:
            seed_state = got[0]
            resumed = True
    if init_ranks is None and not resumed:
        dangling0 = n_dangling * (1.0 / n)
    else:
        dangling0 = (
            seed_state.filter(F.col("outdeg") == 0).agg(F.sum("rank")).collect()[0][0]
            or 0.0
        )
    dangling_holder = {"v": dangling0}

    def step(state: DataFrame, it: int) -> DataFrame:
        # dangling vertices (outdeg=0) send no edge mass — filter
        # before the divide (ANSI mode makes x/0 an error, not inf)
        contribs = gather(
            e,
            state.filter(F.col("outdeg") > 0).select(
                "vertex", (F.col("rank") / F.col("outdeg")).alias("w")
            ),
            F.sum("w").alias("contrib"),
        )
        base = (1.0 - damping) / n + damping * dangling_holder["v"] / n
        return (
            state.select("vertex", "outdeg", F.col("rank").alias("prev_rank"))
            .join(contribs, "vertex", "left")
            .select(
                "vertex",
                "outdeg",
                (F.lit(base) + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))).alias("rank"),
                "prev_rank",
            )
        )

    # convergence delta + next-iteration dangling mass ride along the
    # state materialization — zero extra jobs per iteration (the C analog
    # computes `changed` inside the same parallel loop that writes
    # labels, the reference's src/cc_openmp.c:92-118).
    observe = [
        F.sum(F.abs(F.col("rank") - F.col("prev_rank"))).alias("delta"),
        F.sum(
            F.when(F.col("outdeg") == 0, F.col("rank")).otherwise(F.lit(0.0))
        ).alias("dangling"),
    ]

    def converged(got: dict, it: int):
        delta = got["delta"] or 0.0
        dangling_holder["v"] = got["dangling"] or 0.0
        return (0 if delta < tol else 1), {"l1_delta": delta}

    final = runner.run(
        init.withColumn("prev_rank", F.col("rank")), step, observe, converged,
        resume=resume,
    )
    release(vo)
    if init_ranks is not None:
        release(init)
    if not assume_pinned:
        e.unpersist()
    return final.select("vertex", "rank"), runner


def _ordered_fold(pairs_struct):
    """Left fold over the key-sorted struct array; 0.0 + x == x exactly in
    IEEE754, so the fold equals w1 + w2 + … in ascending-key order — the
    order-deterministic summation shared by every cross-engine-exact
    fixpoint twin here (DuckDB side: list_reduce over list_prepend(0.0,
    list(w ORDER BY k)))."""
    return F.aggregate(
        F.array_sort(pairs_struct), F.lit(0.0), lambda acc, x: acc + x["w"]
    )


def pagerank_fixed(
    spark: SparkSession,
    edges: DataFrame,
    n_iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank with ORDER-DETERMINISTIC float summation —
    the cross-engine-verifiable twin of :func:`pagerank` (same recipe,
    same damping/dangling handling), built so an independent SQL engine
    reproduces every rank BIT-EXACTLY:

    - per-vertex contribution sums fold an array sorted by source id
      (collect_list → array_sort → aggregate left-fold) instead of an
      order-arbitrary SUM, so both engines compute ((0+w1)+w2)+… over
      identical operands in identical order;
    - the dangling mass folds (vertex, rank) sorted by vertex the same
      way;
    - scalar constants ((1−d)/n, 1/n) are computed once driver-side and
      injected as literals into both plans.

    This exists for the correctness gate and bounded-step uses; the
    convergence-driven :func:`pagerank` is the production path (its
    arbitrary-order SUM is cheaper — partial aggregation combines without
    materializing per-vertex arrays; here a hub's in-neighbor weights
    assemble into one array per vertex, which is exactly the packed-
    adjacency gather and is bounded by max in-degree, not graph size).

    → ranks(vertex long, rank double) after exactly ``n_iterations``
    steps. DuckDB twin: entry._pagerank_fixed_sql().
    """
    e = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    verts = vertices_of(e).localCheckpoint(eager=True)
    n = verts.count()
    e, n_part = pin_edges(spark, e)
    outdeg = e.groupBy(F.col("src").alias("vertex")).agg(F.count("*").alias("outdeg"))
    vo = (
        verts.select(F.col("id").alias("vertex"))
        .join(outdeg, "vertex", "left")
        .select("vertex", F.coalesce("outdeg", F.lit(0)).alias("outdeg"))
        .localCheckpoint(eager=True)
    )
    base = (1.0 - damping) / n  # driver-side literal, shared with the SQL twin
    state = vo.select("vertex", "outdeg", F.lit(1.0 / n).alias("rank"))

    for _ in range(n_iterations):
        dang = state.filter(F.col("outdeg") == 0).agg(
            _ordered_fold(
                F.collect_list(F.struct(F.col("vertex").alias("k"), F.col("rank").alias("w")))
            ).alias("dm")
        )
        w = state.filter(F.col("outdeg") > 0).select(
            F.col("vertex").alias("src"), (F.col("rank") / F.col("outdeg")).alias("w")
        ).hint("shuffle_hash")
        contribs = (
            e.join(w, "src")
            .select("dst", "src", "w")
            .repartition(n_part, "dst")
            .groupBy(F.col("dst").alias("vertex"))
            .agg(
                _ordered_fold(
                    F.collect_list(F.struct(F.col("src").alias("k"), F.col("w").alias("w")))
                ).alias("contrib")
            )
        )
        state = (
            state.select("vertex", "outdeg")
            .join(contribs, "vertex", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "vertex",
                "outdeg",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce("contrib", F.lit(0.0))
                        + F.col("dm") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    return state.select("vertex", "rank")


def personalized_pagerank_fixed(
    spark: SparkSession,
    edges: DataFrame,
    seeds: list[int],
    n_iterations: int = 5,
    damping: float = 0.85,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """Random-walk-with-restart proximity to a seed set — personalized
    PageRank with the teleport vector t(v) = 1/|S| on the seeds and 0
    elsewhere (dangling mass also restarts at the seeds):

        r_0 = t
        r_{t+1}(v) = (1-d)·t(v) + d·( Σ_{u→v} r_t(u)/outdeg(u) + D_t·t(v) )

    Same order-deterministic fold discipline as :func:`pagerank_fixed`
    (per-vertex contributions fold source-id-sorted arrays, the dangling
    mass folds vertex-sorted (vertex, rank) pairs, 1/|S| is one
    driver-computed literal injected into both plans), so an independent
    SQL engine reproduces every score bit-exactly — DuckDB twin:
    entry._ppr_fixed_sql(). ``vertices`` (optional, must be a SUPERSET of
    the edge endpoints — same contract as pagerank) adds isolated
    vertices: isolated seeds keep their restart mass, isolated non-seeds
    score exactly 0.

    Plan shape per iteration matches pagerank_fixed: one edges⋈ranks
    shuffle join, one repartition+fold on dst, one left join back — the
    seed membership test is a literal IN over a small driver list, never
    a join. Scale note: scores are nonzero only on the seed set's
    out-reachability cone, so at 100 TB the natural deployment runs many
    seed sets batched through one edge pin; the per-vertex fold is
    bounded by max in-degree (the packed-adjacency gather), not graph
    size."""
    if not seeds:
        raise ValueError("personalized_pagerank_fixed needs >= 1 seed")
    seed_ids = sorted(set(int(s) for s in seeds))
    e = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    verts = (vertices.select("id") if vertices is not None else vertices_of(e)).localCheckpoint(
        eager=True
    )
    e, n_part = pin_edges(spark, e)
    outdeg = e.groupBy(F.col("src").alias("vertex")).agg(F.count("*").alias("outdeg"))
    tele_w = 1.0 / len(seed_ids)  # driver-side literal, shared with the SQL twin

    def _tele(col):
        return F.when(col.isin(seed_ids), F.lit(tele_w)).otherwise(F.lit(0.0))

    vo = (
        verts.select(F.col("id").alias("vertex"))
        .join(outdeg, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("outdeg", F.lit(0)).alias("outdeg"),
            _tele(F.col("vertex")).alias("tele"),
        )
        .localCheckpoint(eager=True)
    )
    state = vo.select("vertex", "outdeg", "tele", F.col("tele").alias("rank"))
    for _ in range(n_iterations):
        dang = state.filter(F.col("outdeg") == 0).agg(
            _ordered_fold(
                F.collect_list(
                    F.struct(F.col("vertex").alias("k"), F.col("rank").alias("w"))
                )
            ).alias("dm")
        )
        w = state.filter(F.col("outdeg") > 0).select(
            F.col("vertex").alias("src"), (F.col("rank") / F.col("outdeg")).alias("w")
        ).hint("shuffle_hash")
        contribs = (
            e.join(w, "src")
            .select("dst", "src", "w")
            .repartition(n_part, "dst")
            .groupBy(F.col("dst").alias("vertex"))
            .agg(
                _ordered_fold(
                    F.collect_list(F.struct(F.col("src").alias("k"), F.col("w").alias("w")))
                ).alias("contrib")
            )
        )
        state = (
            state.select("vertex", "outdeg", "tele")
            .join(contribs, "vertex", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "vertex",
                "outdeg",
                "tele",
                (
                    F.lit(1.0 - damping) * F.col("tele")
                    + F.lit(damping)
                    * (
                        F.coalesce("contrib", F.lit(0.0))
                        + F.col("dm") * F.col("tele")
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    return state.select("vertex", "rank")


def pagerank_numpy_oracle(
    edge_list: list[tuple[int, int]],
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iterations: int = 100,
) -> dict[int, float]:
    """Independent dense power iteration, same recipe. Test-scale only."""
    e = sorted(set(edge_list))
    verts = sorted({u for u, _ in e} | {v for _, v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    out = np.zeros(n)
    for u, _ in e:
        out[idx[u]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(max_iterations):
        contrib = np.zeros(n)
        w = np.where(out > 0, r / np.maximum(out, 1), 0.0)
        for u, v in e:
            contrib[idx[v]] += w[idx[u]]
        dangling = r[out == 0].sum()
        newr = (1 - damping) / n + damping * (contrib + dangling / n)
        if np.abs(newr - r).sum() < tol:
            r = newr
            break
        r = newr
    return {v: float(r[idx[v]]) for v in verts}
