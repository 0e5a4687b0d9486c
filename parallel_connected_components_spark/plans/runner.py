"""Iterative-fixpoint driver: convergence, iteration caps, checkpointing,
resume, and per-iteration metrics.

This is the Spark replacement for every ``while (changed)`` loop in the
reference — the frontier loop (/root/reference/src/cc_sequential.c:75-162),
the OpenMP double-buffered sync loop (/root/reference/src/cc_openmp.c:62-125,
bounded by max_iterations = V at :82), the MPI Allreduce-voted loops
(/root/reference/src/mpi/cc_mpi.c:518-525, capped at 1000, :2060). Each
engine iteration is one Spark job; the shuffle plays the role of the
Allgatherv/halo exchange; the changed-count action is the Allreduce.

What the C code cannot have but Spark must (risk R2, SURVEY.md §7):
unbounded logical-plan growth across iterations. Handled two ways:
- every iteration: ``localCheckpoint(eager=True)`` truncates lineage
  in-memory (cheap, non-resumable);
- every ``snapshot_every`` iterations (and at convergence): a durable
  parquet/Iceberg snapshot via :class:`TableLayer`, carrying the
  iteration number, changed count, per-partition row counts and timing
  as lineage — the north rule's "resumable mid-iteration with
  per-partition lineage + metrics". :meth:`FixpointRunner.run` with
  ``resume=True`` restarts from the latest durable snapshot.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Iterable

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from ..sources.tables import TableLayer


@contextmanager
def fixpoint_conf(spark: SparkSession, n_part: int | None = None):
    """Disable AQE for the duration of a fixpoint loop (round 6) and, with
    ``n_part``, plan the loop's shuffles into ``n_part`` partitions.

    Every iteration here is a short, fully hinted query (shuffle_hash
    joins, one aggregation on the message key) whose shape is pinned by
    tests/test_plan_shape.py — there is nothing left for AQE to decide,
    but its per-stage re-optimization still costs serial driver work on
    EVERY exchange of EVERY iteration. Measured (interleaved A/B, same
    JVM, sf0.1): pagerank_1e6 10.1 → 8.0 s min-of-4, cc_labelprop and
    lpa ~15-20% — and the cost class is per-iteration driver latency, the
    same scale-killer as the round-4 shuffle-metrics poll, so the win
    grows with iteration count, not with local core count. Verified at
    18M edges too (OPTIMIZATION_r06.md). AQE on would also coalesce the
    message aggregation's exchange, after which the join-back has to
    re-exchange the state. One-shot (non-loop) queries keep the session's
    AQE.

    ``n_part`` is the pinned edge table's partition count, and becomes
    ``spark.sql.shuffle.partitions`` so that :func:`gather`'s exchange
    stays co-partitioned with the hash(vertex) state. ``n_part`` is not
    always ``defaultParallelism``: a ``Pinned`` input (a bucketed scan,
    say) brings its own count.

    Runtime bloom filters are off too. A checkpoint carries no size
    statistics, so Catalyst takes every join against one for a
    ≥10 GB application side and injects a bloom-filter subquery (its own
    aggregation job and exchange) that prunes nothing here: the loops
    join keys that all exist on both sides (scc's share of the saving:
    BENCH/BASELINE.md, "Co-partitioned first superstep").

    All settings are restored on exit, also when the loop raises. Nested
    loops (scc's LP calls inside its own scope) set and restore their
    own values the same way."""
    conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "false",
    }
    if n_part is not None:
        conf["spark.sql.shuffle.partitions"] = str(n_part)
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def send(edges: DataFrame, senders: DataFrame) -> DataFrame:
    """Every sender row ``(vertex, *payload)`` sends its payload along each
    out-edge ``vertex → dst``. → ``(vertex=dst, *payload)``, one row per
    out-edge, before any exchange (join plan: :func:`gather`)."""
    vertex, *payload = senders.columns
    return edges.join(
        senders.select(F.col(vertex).alias("src"), *payload).hint("shuffle_hash"),
        "src",
    ).select(F.col("dst").alias("vertex"), *payload)


def gather(edges: DataFrame, senders: DataFrame, *combine: Column) -> DataFrame:
    """One message exchange over a pinned edge table: :func:`send`, then
    the ``combine`` aggregates fold the messages per receiver.
    → ``(vertex, *combine)``, one row per vertex that received a message.

    Plan shape (measured on an 18M-edge graph and pinned by
    tests/test_plan_shape.py):
    - ``edges`` is hash-partitioned on src once and persisted
      (``graph.pin_edges``), so the shuffle_hash join on src moves only
      the sender side — the ghost-exchange pattern of the reference's MPI
      code (src/mpi/cc_mpi.c:950-1049): static topology
      stays put, per-iteration state travels. No broadcast: broadcasting
      either side rebuilds a hashed relation on the driver every
      iteration, serial work that caps scaling (and Catalyst, seeing no
      stats on a checkpointed state, would otherwise broadcast the edges).
    - the messages are combined per receiver inside each map task before
      the one exchange on the receiver (partial aggregate → Exchange →
      final aggregate), so a receiver with several in-links from one
      partition ships one row, not one per edge: −34% shuffle bytes per
      iteration on the crawl-web benchmark at the same iteration and
      stage count. At low in-degree per partition the partial aggregate
      combines little (a 300×300 lattice at local[16]: +1.5% bytes, wall
      time in noise — BENCH/BASELINE.md).
    - the exchange takes ``spark.sql.shuffle.partitions`` partitions,
      which :func:`fixpoint_conf` sets to the edge table's ``n_part``, so
      the output is co-partitioned with a hash(vertex) state and the
      caller's left join-back needs no exchange. The output carries the
      shuffle_hash hint: without it the join-back can be planned as a
      broadcast of the (small-looking) aggregate.

    Only associative, commutative combines belong here (min, sum, bit_or).
    A fold that needs all of one receiver's messages in a fixed order
    (:func:`ordered_gather`), or a two-level aggregation such as LPA's
    per-(vertex, label) counts, calls :func:`send` and repartitions the
    messages on the receiver explicitly instead."""
    return send(edges, senders).groupBy("vertex").agg(*combine).hint("shuffle_hash")


def ordered_sum(key: str | Column, value: str | Column) -> Column:
    """Aggregate Column: the sum of ``value`` added in ascending ``key``
    order, ((0 + w1) + w2) + … (a left fold over the key-sorted array;
    0.0 + x == x exactly in IEEE754). An order-arbitrary SUM can differ
    in the last ulp from run to run and engine to engine; this one is
    what the bit-exact twins' DuckDB side reproduces
    (``entry._ordered_sum_sql``). It collects one array per group, so it
    does not combine before an exchange."""
    k, w = (F.col(c) if isinstance(c, str) else c for c in (key, value))
    pairs = F.array_sort(F.collect_list(F.struct(k.alias("k"), w.alias("w"))))
    return F.aggregate(pairs, F.lit(0.0), lambda acc, x: acc + x["w"])


def ordered_gather(
    edges: DataFrame, senders: DataFrame, n_part: int, out: str
) -> DataFrame:
    """:func:`gather` for one double message ``(vertex, w)`` summed with
    :func:`ordered_sum` in sender-id order: :func:`send` carries the
    sender id, the messages are exchanged on the receiver and each
    receiver folds its own. → ``(vertex, out)``."""
    vertex, w = senders.columns
    return (
        send(edges, senders.select(vertex, F.col(vertex).alias("_k"), w))
        .repartition(n_part, "vertex")
        .groupBy("vertex")
        .agg(ordered_sum("_k", w).alias(out))
        .hint("shuffle_hash")
    )


def ordered_total(df: DataFrame, col: str, out: str) -> DataFrame:
    """One row: ``out`` = :func:`ordered_sum` of ``col`` in vertex order
    (0.0 on an empty ``df``)."""
    return df.agg(ordered_sum("vertex", col).alias(out))


@dataclass
class IterationMetrics:
    iteration: int
    changed: int
    seconds: float
    snapshot: int | None = None
    extra: dict = field(default_factory=dict)

    def as_dict(self) -> dict:
        d = {
            "iteration": self.iteration,
            "changed": self.changed,
            "seconds": self.seconds,
            "snapshot": self.snapshot,
        }
        d.update(self.extra)
        return d


class JvmMeter:
    """Cumulative (generated classes compiled, JIT milliseconds, GC
    milliseconds) of the driver JVM: the count of Spark's ``CodegenMetrics``
    compilation-time histogram (one entry per Janino compile, i.e. per
    codegen cache miss), ``CompilationMXBean.getTotalCompilationTime`` and
    the sum of ``GarbageCollectorMXBean.getCollectionTime`` over the JVM's
    collectors. The JVM handles are looked up once, so :meth:`totals`
    costs a py4j call per handle. Warm reruns of a pipeline should compile
    nothing; a count that keeps rising means the codegen cache is too
    small for the working set or a per-run literal is defeating it
    (session.py, ``spark.sql.codegen.cache.maxEntries``). GC time is what
    the collectors report (their collection time), not their threads'
    CPU."""

    def __init__(self, spark: SparkSession) -> None:
        jvm = spark.sparkContext._jvm
        mx = jvm.java.lang.management.ManagementFactory
        self._compiles = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        self._jit = mx.getCompilationMXBean()
        self._gcs = list(mx.getGarbageCollectorMXBeans())

    def totals(self) -> tuple[int, int, int]:
        return (
            self._compiles.getCount(),
            self._jit.getTotalCompilationTime(),
            sum(max(0, gc.getCollectionTime()) for gc in self._gcs),
        )


def release(df: DataFrame) -> None:
    """``df.unpersist()`` that also frees a ``localCheckpoint``'s blocks.

    On Spark 4.1.2 ``DataFrame.unpersist()`` only drops cache-manager
    entries; a checkpoint's blocks belong to the RDD inside its
    ``LogicalRDD`` and stay in ``getPersistentRDDs()`` until Python and
    JVM garbage collection let the ContextCleaner drop them. ``df`` may
    also be a projection of a checkpoint (an operator's ``final.select``
    output): its checkpoint is freed. The caller must not read ``df`` or
    the checkpoint afterwards (non-blocking, like ``unpersist()``).
    Goes through ``SparkContext.unpersistRDD``: ``RDD.unpersist`` would
    log a lineage warning for every released checkpoint."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    while plan.nodeName() == "Project":
        plan = plan.child()
    if plan.nodeName() == "LogicalRDD":
        df.sparkSession.sparkContext._jsc.sc().unpersistRDD(plan.rdd().id(), False)


class ShuffleMeter:
    """Incremental cumulative (shuffle read bytes, shuffle write bytes) from
    the JVM app-status store — the raw material for the reference's
    per-iteration comm/compute split (its MPI harness prints local-compute
    vs Alltoallv percentages per run,
    /root/reference/src/mpi/cc_mpi.c:2309-2330; here the shuffle IS the
    Alltoallv).

    Why incremental: ``statusStore().stageList(...)`` costs ~0.5 ms of py4j
    round-trips PER STAGE (measured), and a naive sum-over-all-stages poll
    therefore grows linearly with everything the app has ever run — on a
    multi-query session the per-iteration poll reached seconds and showed
    up as a wall-clock regression in the stage-heaviest query (round-4
    PageRank, BENCH_r04 16.2s vs r3 14.5s; the round-5 A/B pinned it on
    this poll). ``stageList`` returns stages NEWEST-FIRST (descending
    stageId, verified empirically), so the meter walks only until the first
    stage it has already finalized and keeps running totals Python-side:
    O(stages since last poll) per call, and — because finalized stages'
    bytes are remembered here — the cumulative total stays monotone even
    when the store evicts old stages (spark.ui.retainedStages can stay at
    its small default).

    Status events post asynchronously, so the listener bus is drained
    first; per-iteration deltas are diagnostics, not billing.
    """

    _FINAL = frozenset({"COMPLETE", "FAILED", "SKIPPED"})

    def __init__(self) -> None:
        self._final_read = 0
        self._final_write = 0
        # stages seen but not yet in a terminal state: id -> (read, write)
        self._active: dict[int, tuple[int, int]] = {}
        # every stageId <= floor is fully accounted in the final sums;
        # _finalized holds the (few) already-summed terminal ids ABOVE the
        # floor (a still-running stage can have a lower id than completed
        # ones — the floor can only rise past it once it finishes)
        self._floor = -1
        self._finalized: set[int] = set()

    def totals(self, spark: SparkSession, drain: bool = False) -> tuple[int, int] | None:
        """``drain=True`` waits for the async listener bus first — exact
        up-to-the-last-job totals, at a measured ~60 ms per call on a busy
        bus. The per-iteration loop polls WITHOUT draining (round 6):
        events that land late are simply attributed to the next poll, the
        cumulative totals stay correct, and per-iteration deltas are
        documented as diagnostics, not billing. The converged iteration's
        poll, like any end-of-run caller that wants exact totals, passes
        drain=True."""
        try:
            sc = spark.sparkContext
            if drain:
                try:
                    sc._jsc.sc().listenerBus().waitUntilEmpty()
                except Exception:  # noqa: BLE001 — drain is best-effort
                    pass
            jvm, gw = sc._jvm, sc._gateway
            stages = sc._jsc.sc().statusStore().stageList(
                jvm.java.util.ArrayList(), False, False,
                gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
            )
            seen: dict[int, tuple[str, int, int]] = {}
            it = stages.iterator()
            while it.hasNext():
                s = it.next()
                sid = s.stageId()
                if sid <= self._floor:
                    break  # newest-first: everything below is accounted
                if sid in self._finalized:
                    continue  # terminal and already summed
                # multiple attempts share a stageId; keep the max-bytes one
                # (retries re-run the same work; summing would double-count)
                st = s.status().toString()
                r, w = s.shuffleReadBytes(), s.shuffleWriteBytes()
                if sid in seen:
                    pr = seen[sid]
                    if r + w <= pr[1] + pr[2]:
                        continue
                seen[sid] = (st, r, w)
            # stages evicted from the store while still active: freeze at
            # their last observed values
            for sid, (r, w) in list(self._active.items()):
                if sid not in seen:
                    self._final_read += r
                    self._final_write += w
                    self._finalized.add(sid)
                    del self._active[sid]
            for sid, (st, r, w) in seen.items():
                if st in self._FINAL:
                    self._final_read += r
                    self._final_write += w
                    self._finalized.add(sid)
                    self._active.pop(sid, None)
                else:
                    self._active[sid] = (r, w)
            if self._active:
                self._floor = min(self._active) - 1
            elif self._finalized:
                self._floor = max(self._finalized)
            self._finalized = {i for i in self._finalized if i > self._floor}
            read = self._final_read + sum(r for r, _ in self._active.values())
            write = self._final_write + sum(w for _, w in self._active.values())
            return read, write
        except Exception:  # noqa: BLE001 — internal API; never fail the loop
            return None


def _partition_histogram(df: DataFrame) -> list[int]:
    """Rows per partition — the per-partition lineage recorded at each
    durable snapshot (and the skew diagnostic: a straggler partition
    shows up as an outlier row count)."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("p")).count().orderBy("p").collect()
    )
    return [r["count"] for r in rows]


def task_skew_report(
    spark: SparkSession,
    min_tasks: int = 4,
    min_stage_ms: int = 500,
    stage_ids: Iterable[int] | None = None,
) -> list[dict]:
    """Per-stage task-runtime skew from the app-status store:
    [{stage_id, tasks, p50_ms, max_ms, ratio}] for completed stages with
    ≥ ``min_tasks`` tasks and max task time ≥ ``min_stage_ms`` (tiny
    stages are all scheduler noise). ``ratio = max/p50`` is the straggler
    diagnostic the reference's pthread harness prints as per-thread work
    imbalance (/root/reference/src/pthreads/afforest_simple.c:622-649);
    here a hub key that defeats the partitioner shows up as one long task
    on the exchange stage. ``stage_ids`` looks up only those stages (ids
    the store no longer holds are skipped); otherwise every retained
    stage is read, ~1 ms each. Best-effort
    internal API: returns [] if unavailable."""
    try:
        sc = spark.sparkContext
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001
            pass
        jvm, gw = sc._jvm, sc._gateway
        store = sc._jsc.sc().statusStore()
        if stage_ids is None:
            it = store.stageList(
                jvm.java.util.ArrayList(), False, False,
                gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
            ).iterator()
            stages = (it.next() for _ in iter(it.hasNext, False))
        else:
            # the store evicts stages past spark.ui.retainedStages (never-run,
            # skipped stages first), so an id may be gone: skip it
            stages = []
            for i in stage_ids:
                try:
                    stages.append(store.lastStageAttempt(i))
                except Exception:  # noqa: BLE001
                    pass
        q = gw.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        out = []
        for s in stages:
            if s.numCompleteTasks() < min_tasks:
                continue
            summ = store.taskSummary(s.stageId(), s.attemptId(), q)
            if not summ.isDefined():
                continue
            rt = summ.get().executorRunTime()
            p50, mx = float(rt.apply(0)), float(rt.apply(1))
            if mx < min_stage_ms:
                continue
            out.append(
                {
                    "stage_id": s.stageId(),
                    "tasks": s.numCompleteTasks(),
                    "p50_ms": p50,
                    "max_ms": mx,
                    "ratio": mx / max(p50, 1.0),
                }
            )
        return sorted(out, key=lambda r: -r["ratio"])
    except Exception:  # noqa: BLE001 — diagnostics must never fail the job
        return []


class FixpointRunner:
    """Drive ``state = step(state)`` to convergence: the one gather/apply
    superstep loop every message-passing operator runs on.

    Per iteration the runner builds ``step(state, it)`` (a lazy plan),
    attaches the ``observe`` aggregates to it as one Observation,
    materializes it once (``localCheckpoint``: lineage truncation, one
    Spark job), and hands the observed values to ``converged(observed,
    it) -> (changed, extra)``; convergence is ``changed == 0``. The
    convergence test therefore always rides the iteration's own job. The
    runner owns persistence: algorithms stay pure dataflow. ``n_part`` is
    the pinned edge table's partition count, applied to the loop's
    shuffles (:func:`fixpoint_conf`).

    Every 4th iteration and at convergence the runner polls its meters and
    records the deltas since the previous poll in ``IterationMetrics.extra``:
    ``shuffle_read_bytes`` / ``shuffle_write_bytes`` (:class:`ShuffleMeter`),
    ``codegen_compiles``, the generated classes Spark compiled (codegen cache
    misses), ``jit_ms``, the driver JVM's JIT compilation time, and
    ``gc_ms``, its collectors' time (:class:`JvmMeter`). A warm rerun of
    the same pipeline should show ``codegen_compiles == 0``; ``pagerank``
    is the known exception (its per-iteration dangling mass is an inlined
    double literal).
    """

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        checkpoint_dir: str | None = None,
        snapshot_every: int = 5,
        max_iterations: int = 200,
        raise_on_cap: bool = True,
        n_part: int | None = None,
    ):
        self.spark = spark
        self.name = name
        self.tables = TableLayer(spark, checkpoint_dir) if checkpoint_dir else None
        self.snapshot_every = snapshot_every
        self.max_iterations = max_iterations
        self.raise_on_cap = raise_on_cap
        self.n_part = n_part
        self.metrics: list[IterationMetrics] = []

    # -- persistence -------------------------------------------------------
    def _save(self, state: DataFrame, it: int, m: IterationMetrics) -> int:
        lineage = {
            "iteration": it,
            "changed": m.changed,
            "seconds": m.seconds,
            "num_partitions": state.rdd.getNumPartitions(),
            "partition_rows": _partition_histogram(state),
            **m.extra,
        }
        return self.tables.save_snapshot(self.name, state, lineage=lineage)

    def latest(self) -> tuple[DataFrame, int] | None:
        """(state, iteration) of the latest durable snapshot, or None."""
        if self.tables is None or self.tables.latest_snapshot(self.name) < 0:
            return None
        snaps = self.tables.snapshots(self.name)
        it = snaps[-1]["lineage"].get("iteration", 0)
        return self.tables.load(self.name), it

    # -- the loop ----------------------------------------------------------
    def _observed(
        self, step_df: DataFrame, observe: list[Column], it: int
    ) -> tuple[DataFrame, Observation]:
        """The frame the runner materializes for iteration ``it``:
        ``step_df`` with the ``observe`` aggregates attached as one
        Observation. Plan-capture tools wrap this method to read the plan
        the loop actually ran."""
        obs = Observation()
        return step_df.observe(obs, *observe), obs

    def run(
        self,
        init_state: DataFrame,
        step: Callable[[DataFrame, int], DataFrame],
        observe: list[Column],
        converged: Callable[[dict, int], tuple[int, dict]],
        resume: bool = False,
    ) -> DataFrame:
        """``step(state, it)`` returns the next state as a *lazy* plan;
        ``observe`` lists aggregate Columns over that plan. The runner
        materializes each step exactly once with the aggregates attached,
        then calls ``converged(observed, it)`` with their values (a dict
        keyed by alias) for ``(changed, extra)`` — so convergence never
        costs a job of its own or recomputes the iteration's dataflow.
        A raising loop releases its states too.

        ``init_state`` is checkpointed inside the loop's settings, so a
        hash(vertex)-partitioned init keeps that partitioning and
        iteration 0 exchanges only its messages, like every later one.
        NOTE: a ``localCheckpoint`` records the partitioning of the plan
        it ran (``LogicalRDD``), and three things lose it:
        - AQE: under AQE the checkpoint records ``UnknownPartitioning``,
          hence every checkpoint a loop reads is made inside
          :func:`fixpoint_conf`;
        - an identity cast: ``cast(id as bigint)`` on a column that is
          already bigint is dropped by the optimizer, and the checkpoint
          then records the partitioning of an attribute it no longer
          outputs (``graph.vertex_table`` casts only other types);
        - a key aliased twice: ``id AS vertex, id AS label`` plans a
          partitioning on either name, of which the checkpoint keeps only
          the first, ``hash(label)`` (``graph.own_labels`` builds that
          state without the second alias).
        Any of them re-exchanges the whole state in the next iteration.
        tests/test_plan_shape.py pins every loop's checkpoints to
        ``hashpartitioning(vertex, n_part)``."""
        start_iter = 0
        state: DataFrame | None = None
        if resume:
            got = self.latest()
            if got is not None:
                state, start_iter = got
                start_iter += 1

        prev = None
        try:
            with fixpoint_conf(self.spark, self.n_part):
                if state is None:
                    state = init_state.localCheckpoint(eager=True)
                meter = ShuffleMeter()
                shuffle0 = meter.totals(self.spark)
                jvm_meter = JvmMeter(self.spark)
                jvm0 = jvm_meter.totals()
                for it in range(start_iter, self.max_iterations):
                    t0 = time.perf_counter()
                    df, obs = self._observed(step(state, it), observe, it)
                    new_state = df.localCheckpoint(eager=True)
                    if prev is not None:
                        release(prev)
                    prev, state = state, new_state
                    changed, extra = converged(obs.get, it)
                    # Poll the meters every few iterations plus at convergence
                    # (round 6): each shuffle poll costs ~20-40 ms of py4j
                    # round-trips even incrementally, a per-iteration driver
                    # tax on loops whose whole iteration is ~0.4 s. Cumulative
                    # totals stay exact; the per-entry deltas become
                    # per-poll-window aggregates (attributed to the polling
                    # iteration), which is fine for a diagnostic. The converged
                    # poll drains the listener bus (one ~60 ms wait per run) so
                    # the run's totals include its last job.
                    poll = changed == 0 or (it - start_iter) % 4 == 3
                    if poll:
                        jvm1 = jvm_meter.totals()
                        extra = dict(
                            extra,
                            codegen_compiles=jvm1[0] - jvm0[0],
                            jit_ms=jvm1[1] - jvm0[1],
                            gc_ms=jvm1[2] - jvm0[2],
                        )
                        jvm0 = jvm1
                    if poll and shuffle0 is not None:
                        shuffle1 = meter.totals(self.spark, drain=changed == 0)
                        if shuffle1 is not None:
                            # Clamp: the meter's running totals are monotone even
                            # under status-store eviction (finalized stages' bytes
                            # are remembered Python-side), but the diagnostic must
                            # never go negative regardless.
                            extra = dict(
                                extra,
                                shuffle_read_bytes=max(0, shuffle1[0] - shuffle0[0]),
                                shuffle_write_bytes=max(0, shuffle1[1] - shuffle0[1]),
                            )
                            shuffle0 = shuffle1
                    m = IterationMetrics(it, changed, time.perf_counter() - t0, extra=extra)
                    if self.tables is not None and (
                        changed == 0 or (it + 1) % self.snapshot_every == 0
                    ):
                        m.snapshot = self._save(state, it, m)
                    self.metrics.append(m)
                    if changed == 0:
                        break
                else:
                    if self.raise_on_cap:
                        raise RuntimeError(
                            f"{self.name}: no convergence in {self.max_iterations}"
                            " iterations (cap analog: the reference's src/cc_openmp.c:82)"
                        )
        except BaseException:  # the cap or a failing step: nobody reads these
            for df in (state, prev):
                if df is not None:
                    release(df)
            raise
        if prev is not None:
            release(prev)
        return state

    @property
    def num_iterations(self) -> int:
        """CCResult.num_iterations analog (/root/reference/inc/cc_sequential.h:8).
        Multi-phase algorithms additionally report per-phase counts in
        :attr:`phase_iterations`."""
        return len(self.metrics)

    @property
    def phase_iterations(self) -> dict[str, int]:
        """Iteration count per phase (``extra["phase"]`` tag; untagged
        metrics count under ``"main"``)."""
        out: dict[str, int] = {}
        for m in self.metrics:
            key = m.extra.get("phase", "main")
            out[key] = out.get(key, 0) + 1
        return out
