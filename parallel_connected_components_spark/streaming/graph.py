"""Streaming → graph bridge: incremental connected components over an
unbounded edge stream (VERDICT r3 item 7).

The reference is batch-only; its target data (continuous crawls) is not.
This module maintains an exact CC labeling as edge batches arrive,
recomputing only the components an arriving batch touches:

- CC is merge-only (edges are never deleted), so an arriving edge (u, v)
  carries exactly one bit of information: "u's component and v's
  component are the same". The per-batch update therefore runs on the
  CONTRACTED label graph — batch endpoints mapped through the current
  labels — whose size is O(|batch| + touched components), never on the
  accumulated edge set. This is the union-find "union by minimum"
  (/root/reference/src/cc_sequential.c:325-331) lifted to a streaming
  fixpoint: label state is the forest, each batch a union() burst.
- Merges are commutative and idempotent, so ANY batching of the same
  edge multiset converges to the same labels — which is what makes the
  stream == batch parity test exact, and what makes the operator safe
  under Structured Streaming's replay-on-failure semantics (a replayed
  batch re-asserts unions that already hold: no-op).
- State is the labels table itself, persisted as versioned parquet
  snapshots (one per foreachBatch invocation, monotonically numbered —
  the same snapshot+lineage shape as plans' TableLayer); the min-vertex-
  id label invariant is preserved by induction: merging components
  labeled by their min ids and relabeling to the min of the merged set
  yields the min id of the union.

At 100 TB scale the same foreachBatch plan runs against a Kafka edge
feed; the per-batch work is one left join against the state table (hash
on vertex), a CC on the tiny contracted graph, and one relabel join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.graph import pin_edges

_STATE_SCHEMA = "vertex long, label long"


def _versions(state_dir: str) -> list[int]:
    if not os.path.isdir(state_dir):
        return []
    out = []
    for name in os.listdir(state_dir):
        if name.startswith("v") and name[1:].isdigit() and os.path.exists(
            os.path.join(state_dir, name, "_SUCCESS")
        ):
            out.append(int(name[1:]))
    return sorted(out)


def cc_state_labels(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current labels(vertex, label) — the latest committed snapshot, or
    an empty table before the first batch."""
    vs = _versions(state_dir)
    if not vs:
        return spark.createDataFrame([], _STATE_SCHEMA)
    return spark.read.parquet(os.path.join(state_dir, f"v{vs[-1]}"))


def update_cc_state(
    spark: SparkSession, batch_edges: DataFrame, state_dir: str
) -> None:
    """Fold one edge batch into the persistent labeling (exact)."""
    from ..operators.cc import cc_two_phase

    edges = (
        batch_edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    labels = cc_state_labels(spark, state_dir)
    # current label of every batch endpoint; unseen vertices are their own
    # singleton component (label = vertex)
    verts = (
        edges.select(F.col("src").alias("vertex"))
        .union(edges.select(F.col("dst")))
        .distinct()
    )
    cur = (
        verts.join(labels, "vertex", "left")
        .select("vertex", F.coalesce("label", F.col("vertex")).alias("label"))
        .localCheckpoint(eager=True)
    )
    # contracted merge graph over labels — the only thing CC must run on
    from ..operators.graph import contract_edges

    merge_edges = (
        contract_edges(edges, cur)
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=True)
    )
    vs = _versions(state_dir)
    next_v = (vs[-1] + 1) if vs else 0
    out_path = os.path.join(state_dir, f"v{next_v}")

    if merge_edges.isEmpty():
        # nothing merges: state grows by the new singleton/batch-local rows
        new_state = labels.unionByName(
            cur.join(labels.select("vertex"), "vertex", "left_anti")
        )
        new_state.write.mode("overwrite").parquet(out_path)
        return

    mlabels, _ = cc_two_phase(spark, merge_edges)
    remap = mlabels.select(
        F.col("vertex").alias("label"), F.col("label").alias("_new")
    )
    # full state = (old rows ∪ newly seen vertices) relabeled through the
    # merge result; labels outside the touched components pass through
    full = labels.unionByName(
        cur.join(labels.select("vertex"), "vertex", "left_anti")
    )
    new_state = full.join(remap, "label", "left").select(
        "vertex", F.coalesce("_new", F.col("label")).alias("label")
    )
    new_state.write.mode("overwrite").parquet(out_path)


def incremental_cc_stream(
    spark: SparkSession,
    source_dir: str,
    schema_from: str,
    state_dir: str,
    timeout_sec: int = 120,
) -> None:
    """Drain all currently-available edge files (availableNow trigger)
    through foreachBatch into the persistent labeling. Restartable: the
    stream checkpoint tracks consumed files, the labels state tracks the
    unions — a re-run after new files arrive folds only the new edges."""
    schema = spark.read.parquet(schema_from).schema
    stream = spark.readStream.schema(schema).parquet(source_dir)
    q = (
        stream.writeStream.foreachBatch(
            lambda batch_df, batch_id: update_cc_state(
                batch_df.sparkSession, batch_df, state_dir
            )
        )
        .option("checkpointLocation", os.path.join(state_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_sec)
    if not finished:
        # a silent partial drain would hand the caller an incomplete
        # labeling AND leave the query holding the checkpoint; stop it
        # and fail loudly (round-4 review)
        q.stop()
        raise TimeoutError(
            f"incremental CC stream did not drain within {timeout_sec}s; "
            "state is mid-fold — re-run to continue from the checkpoint"
        )


# ---------------------------------------------------------------------------
# Incremental PageRank: warm-started recompute over an accumulated edge
# stream. Unlike CC, PageRank has no merge-only shortcut — every edge can
# shift every rank — but the damped fixpoint is UNIQUE, so recomputing
# warm-started from the previous solution is exact (not approximate) and
# converges in a fraction of the rounds after a small delta (measured:
# ~3x fewer iterations for a 5% edge delta, tests/test_streaming.py).
# ---------------------------------------------------------------------------

def _rescale_by_component(spark, labels: DataFrame, prev: DataFrame) -> DataFrame:
    """Fix the warm start's slow mode: on a multi-component graph the
    teleporting chain moves mass BETWEEN components only at the damping
    rate, so a warm init whose per-component mass is off by ε needs
    ~log(tol/ε)/log(d) rounds just to rebalance — measured: a 5% edge
    delta made the naive warm start take 54 rounds vs 16 cold, the
    delta tail contracting at exactly d=0.85/iter. A cold uniform init
    never excites that mode (its component masses are ~stationary).
    Rescaling each component's warm mass to its uniform share n_c/n
    keeps the good intra-component shape while starting the slow mode
    where uniform starts it — warm is then ≤ cold by construction.

    ``labels`` is the CURRENT component labeling — round 5: supplied by
    the incremental CC state (per-fold cost O(batch)) instead of a full
    :func:`cc_two_phase` over the accumulated edges per fold (O(|E|) + a
    CC, the last non-delta-proportional piece of the fold). Two
    aggregations, cheap next to the rounds saved."""
    labels = labels.localCheckpoint(eager=True)
    n = labels.count()
    cur = labels.join(prev, "vertex", "left").select(
        "vertex", "label", F.coalesce("rank", F.lit(1.0 / n)).alias("rank")
    )
    comp = cur.groupBy("label").agg(
        F.sum("rank").alias("m_c"), F.count("*").alias("n_c")
    )
    return (
        cur.join(comp, "label")
        .select(
            "vertex",
            (F.col("rank") * (F.col("n_c") / n) / F.col("m_c")).alias("rank"),
        )
    )


# In-session pinned edge state per state_dir: the accumulated canonical
# edge table, hash-partitioned on src and persisted ONCE, extended by each
# fold's genuinely-new edges — the pin-once discipline of the batch loop
# applied across folds (round-5 VERDICT item 6; previously every fold
# re-read and re-deduped the full accumulated set, then pagerank re-pinned
# it: three O(|E|) shuffles per fold). Invalidated when the on-disk
# committed fold count does not match (another process advanced the
# state, or this is a fresh driver).
_PR_EDGE_CACHE: dict[str, dict] = {}


def _pr_efold_versions(state_dir: str) -> list[int]:
    out = []
    if not os.path.isdir(state_dir):
        return out
    for name in os.listdir(state_dir):
        if name.startswith("efold_v") and name[7:].isdigit() and os.path.exists(
            os.path.join(state_dir, name, "meta.json")
        ):
            out.append(int(name[7:]))
    return sorted(out)


def _pr_pinned_edges(spark: SparkSession, state_dir: str):
    """(pinned edges | None, committed fold versions)."""
    vs = _pr_efold_versions(state_dir)
    cached = _PR_EDGE_CACHE.get(state_dir)
    if cached is not None and cached["versions"] == vs and cached["session"] is spark:
        return cached["pinned"], vs
    if cached is not None:
        try:
            cached["pinned"].edges.unpersist()
        except Exception:  # noqa: BLE001 — stale session/df
            pass
        _PR_EDGE_CACHE.pop(state_dir, None)
    if not vs:
        return None, vs
    paths = [os.path.join(state_dir, f"efold_v{v}", "edges") for v in vs]
    pinned = pin_edges(spark, spark.read.parquet(*paths))
    _PR_EDGE_CACHE[state_dir] = {"pinned": pinned, "versions": vs, "session": spark}
    return pinned, vs


def update_pagerank_state(
    spark: SparkSession,
    batch_edges: DataFrame,
    state_dir: str,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iterations: int = 100,
) -> int:
    """Fold one directed-edge batch: extend the pinned canonical edge
    state by the batch's genuinely-new edges, update the incremental CC
    labeling, recompute ranks warm-started from the previous snapshot
    (with the per-component mass correction). → number of power
    iterations this fold needed.

    Per-fold edge-pass cost (round 5): the delta is deduped against the
    pinned state with two broadcast map-side joins (no shuffle of the
    accumulated table), appended as one versioned commit, and the pinned
    table is extended with a single exchange; the PageRank loop then runs
    on the ``Pinned`` table so nothing re-deduplicates or re-pins O(|E|)
    per fold. Replay-safe: a retried batch deduplicates to an empty delta and
    the rank recompute is idempotent."""
    import json as _json
    import shutil as _shutil

    from ..operators.pagerank import pagerank

    os.makedirs(state_dir, exist_ok=True)
    delta = (
        batch_edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=True)
    )
    pinned, vs = _pr_pinned_edges(spark, state_dir)
    if pinned is None:
        new = delta
    else:
        # broadcast the (small) delta both ways: the accumulated table is
        # scanned from cache map-side, never exchanged
        matched = pinned.edges.join(F.broadcast(delta), ["src", "dst"], "left_semi")
        new = delta.join(F.broadcast(matched), ["src", "dst"], "left_anti")
    new = new.localCheckpoint(eager=True)
    n_new = new.count()

    if n_new:
        next_v = (vs[-1] + 1) if vs else 0
        vdir = os.path.join(state_dir, f"efold_v{next_v}")
        if os.path.isdir(vdir):  # crashed uncommitted fold: overwrite
            _shutil.rmtree(vdir)
        new.write.mode("overwrite").parquet(os.path.join(vdir, "edges"))
        tmp = os.path.join(vdir, "meta.json.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            _json.dump({"new_edges": n_new}, f)
        os.replace(tmp, os.path.join(vdir, "meta.json"))
        vs = vs + [next_v]
        # one exchange over the union; localCheckpoint FIRST would drop
        # partitioning (UnknownPartitioning), so truncate via the
        # persisted parents instead — lineage depth stays O(1) because
        # `pinned` is materialized and `new` checkpointed
        grown = pin_edges(spark, new if pinned is None else pinned.edges.union(new))
        old = _PR_EDGE_CACHE.pop(state_dir, None)
        _PR_EDGE_CACHE[state_dir] = {"pinned": grown, "versions": vs, "session": spark}
        if old is not None:
            try:
                old["pinned"].edges.unpersist()
            except Exception:  # noqa: BLE001
                pass
        pinned = grown
        # incremental CC labeling keeps the rescale delta-proportional
        update_cc_state(spark, new, os.path.join(state_dir, "cc"))

    if pinned is None:  # first-ever fold carried zero (new) edges
        os.makedirs(os.path.join(state_dir, "ranks"), exist_ok=True)
        return 0

    prev = None
    rv = _versions(os.path.join(state_dir, "ranks"))
    if rv:
        prev = _rescale_by_component(
            spark,
            cc_state_labels(spark, os.path.join(state_dir, "cc")),
            spark.read.parquet(os.path.join(state_dir, "ranks", f"v{rv[-1]}")),
        )
    ranks, runner = pagerank(
        spark, pinned, damping=damping, tol=tol,
        max_iterations=max_iterations, init_ranks=prev,
    )
    next_rv = (rv[-1] + 1) if rv else 0
    ranks.write.mode("overwrite").parquet(
        os.path.join(state_dir, "ranks", f"v{next_rv}")
    )
    return runner.num_iterations


def pagerank_state_ranks(spark: SparkSession, state_dir: str) -> DataFrame:
    """Latest committed ranks(vertex, rank), empty before the first batch."""
    vs = _versions(os.path.join(state_dir, "ranks"))
    if not vs:
        return spark.createDataFrame([], "vertex long, rank double")
    return spark.read.parquet(os.path.join(state_dir, "ranks", f"v{vs[-1]}"))


def incremental_pagerank_stream(
    spark: SparkSession,
    source_dir: str,
    schema_from: str,
    state_dir: str,
    timeout_sec: int = 300,
    tol: float = 1e-6,
) -> None:
    """availableNow foreachBatch drain of an edge-file feed into the
    warm-started rank state; restartable via the stream checkpoint, same
    contract as :func:`incremental_cc_stream`."""
    schema = spark.read.parquet(schema_from).schema
    stream = spark.readStream.schema(schema).parquet(source_dir)
    q = (
        stream.writeStream.foreachBatch(
            lambda batch_df, batch_id: update_pagerank_state(
                batch_df.sparkSession, batch_df, state_dir, tol=tol
            )
        )
        .option("checkpointLocation", os.path.join(state_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_sec)
    if not finished:
        q.stop()
        raise TimeoutError(
            f"incremental PageRank stream did not drain within {timeout_sec}s"
        )


# ---------------------------------------------------------------------------
# Incremental triangle counting: exact delta per batch, never a recount.
# ΔT for a batch B against accumulated state S partitions the new
# triangles by how many B edges they contain (1, 2 or 3 — each class
# counted by its own join, so no triangle is double-counted):
#   t1: one new edge  — (u,v)∈B closed by a wedge entirely in S;
#   t2: two new edges — a wedge of two B edges (their shared vertex is
#       unique per triangle) closed by an S edge;
#   t3: three new edges — triangles wholly inside B (existing operator).
# Work per batch is |B| joined against S's adjacency — proportional to
# the delta and the touched neighborhoods, never |S|² — plus an append
# to the canonical edge state. The running total is exact (parity test
# against a from-scratch count on the union).
# ---------------------------------------------------------------------------

def _tri_versions(state_dir: str) -> list[int]:
    """Committed fold versions: v{n}/ dirs whose meta.json exists. The
    meta write is the COMMIT POINT (written atomically, strictly after the
    edge parquet completes), so a fold that crashed mid-write leaves an
    uncommitted v{n} that the retry simply overwrites — the edge state and
    the running total can never disagree (round-5 ADVICE fix: the previous
    layout appended edges and replaced total.json as two separate commits;
    a crash between them made the replayed batch anti-join to delta=0 and
    permanently undercount)."""
    if not os.path.isdir(state_dir):
        return []
    out = []
    for name in os.listdir(state_dir):
        if name.startswith("v") and name[1:].isdigit() and os.path.exists(
            os.path.join(state_dir, name, "meta.json")
        ):
            out.append(int(name[1:]))
    return sorted(out)


def _tri_read_meta(state_dir: str, v: int) -> dict:
    import json as _json

    with open(os.path.join(state_dir, f"v{v}", "meta.json"), encoding="utf-8") as f:
        return _json.load(f)


def triangle_state_edges(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Accumulated canonical edges across committed folds (None if empty)."""
    vs = _tri_versions(state_dir)
    paths = [
        os.path.join(state_dir, f"v{v}", "edges")
        for v in vs
        if os.path.exists(os.path.join(state_dir, f"v{v}", "edges", "_SUCCESS"))
        # a committed fold can have no edges dir at all when its delta was
        # entirely duplicates (nothing new to store)
    ]
    if not paths:
        return None
    return spark.read.parquet(*paths)


def update_triangle_state(
    spark: SparkSession, batch_edges: DataFrame, state_dir: str
) -> dict:
    """Fold one edge batch. → {"delta": int, "total": int}.

    Crash/replay-safe: each fold is one versioned commit — v{n}/edges
    (this fold's genuinely-new canonical edges) plus v{n}/meta.json
    (this fold's delta and the running total), with meta.json written
    last via atomic rename as the commit marker. Reads only see committed
    versions, so a retried batch after any mid-fold crash recomputes
    against exactly the pre-fold state and overwrites the partial v{n}."""
    from ..operators.graph import canonicalize
    from ..operators.triangles import triangle_count

    os.makedirs(state_dir, exist_ok=True)
    vs = _tri_versions(state_dir)
    s = triangle_state_edges(spark, state_dir)
    b_canon = canonicalize(batch_edges)
    if s is not None:
        b = b_canon.join(s, ["src", "dst"], "left_anti").localCheckpoint(eager=True)
        sym_s = s.unionByName(
            s.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).localCheckpoint(eager=True)
        # t1: B edge closed by an S-S wedge through any common neighbor x
        t1 = (
            b.join(sym_s.select(F.col("src").alias("src"), F.col("dst").alias("x")), "src")
            .join(
                sym_s.select(F.col("src").alias("dst"), F.col("dst").alias("x")),
                ["dst", "x"],
            )
            .count()
        )
        # t2: wedge of two B edges (shared center vertex), endpoints a < c,
        # closed by an S edge (a, c) — the center is unique per triangle
        sym_b = b.unionByName(
            b.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        wedges2 = (
            sym_b.select(F.col("src").alias("center"), F.col("dst").alias("a"))
            .join(
                sym_b.select(F.col("src").alias("center"), F.col("dst").alias("c")),
                "center",
            )
            .where(F.col("a") < F.col("c"))
        )
        t2 = wedges2.join(s, (wedges2.a == s.src) & (wedges2.c == s.dst), "left_semi").count()
        # t3: triangles wholly inside the batch
        t3 = triangle_count(spark, b)
        delta = t1 + t2 + t3
    else:
        b = b_canon.localCheckpoint(eager=True)
        delta = triangle_count(spark, b)

    import json as _json
    import shutil as _shutil

    next_v = (vs[-1] + 1) if vs else 0
    vdir = os.path.join(state_dir, f"v{next_v}")
    if os.path.isdir(vdir):  # uncommitted leftovers from a crashed fold
        _shutil.rmtree(vdir)
    # 1) the fold's new edges (overwrite — idempotent under retry)
    n_new = b.count()
    if n_new:
        b.write.mode("overwrite").parquet(os.path.join(vdir, "edges"))
    else:
        os.makedirs(vdir, exist_ok=True)
    # 2) the commit marker, carrying the running total in the same unit
    total = delta + (_tri_read_meta(state_dir, vs[-1])["total"] if vs else 0)
    tmp = os.path.join(vdir, "meta.json.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        _json.dump({"delta": delta, "total": total, "new_edges": n_new}, f)
    os.replace(tmp, os.path.join(vdir, "meta.json"))
    return {"delta": delta, "total": total}


def triangle_state_total(state_dir: str) -> int:
    vs = _tri_versions(state_dir)
    if not vs:
        return 0
    return _tri_read_meta(state_dir, vs[-1])["total"]
