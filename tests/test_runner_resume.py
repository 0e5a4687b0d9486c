"""FixpointRunner: durable snapshots, per-partition lineage, metrics,
resume-from-checkpoint (north rule: "resumable from checkpoint with
per-partition lineage + metrics")."""

from __future__ import annotations

from pyspark.sql import functions as F

from parallel_connected_components_spark.plans.runner import FixpointRunner
from parallel_connected_components_spark.sources.tables import TableLayer


def make_countdown(spark, start=7):
    """State: one column n; step decrements until 0 — a deterministic
    fixpoint with a known iteration count. → (init, step, observe,
    converged), the arguments of FixpointRunner.run."""
    init = spark.createDataFrame([(start,)], "n long")

    def step(state, it):
        return state.select((F.col("n") - 1).alias("n"))

    def converged(got, it):
        return (0 if got["n"] <= 0 else 1), {"n": got["n"]}

    return init, step, [F.min("n").alias("n")], converged


def test_metrics_and_lineage(spark, tmp_path):
    init, step, obs, conv = make_countdown(spark, 5)
    runner = FixpointRunner(spark, "cnt", checkpoint_dir=str(tmp_path), snapshot_every=2)
    final = runner.run(init, step, obs, conv)
    assert final.collect()[0]["n"] == 0
    assert runner.num_iterations == 5
    assert [m.iteration for m in runner.metrics] == list(range(5))
    assert runner.metrics[-1].changed == 0
    # durable snapshots at iterations 1, 3, 4(final)
    tl = TableLayer(spark, str(tmp_path))
    snaps = tl.snapshots("cnt")
    assert [s["lineage"]["iteration"] for s in snaps] == [1, 3, 4]
    for s in snaps:
        assert "partition_rows" in s["lineage"]
        assert sum(s["lineage"]["partition_rows"]) == 1
        assert s["lineage"]["seconds"] > 0


def test_shuffle_bytes_recorded_per_iteration(spark):
    """The comm/compute split (reference's MPI harness prints per-run
    Alltoallv shares): each iteration's metrics carry the shuffle
    read/write byte delta, and an iteration that actually shuffles
    records nonzero bytes."""
    init = spark.range(2000).select((F.col("id") % 50).alias("k"), F.lit(0).alias("it"))

    def step(state, it):
        # a genuine exchange every iteration: groupBy forces a shuffle
        return (
            state.groupBy("k").agg(F.max("it").alias("it"))
            .select("k", (F.col("it") + 1).alias("it"))
            .join(spark.range(2000).select((F.col("id") % 50).alias("k")), "k")
        )

    def converged(got, it):
        return (0 if it >= 2 else 1), {}

    runner = FixpointRunner(spark, "shuf")
    runner.run(init, step, [F.count(F.lit(1)).alias("c")], converged)
    assert runner.num_iterations == 3
    # Round 6: the meter is polled every few iterations plus at
    # convergence (per-iteration polling was a measured ~30 ms/iteration
    # py4j tax on loops whose whole iteration is ~0.4 s), so individual
    # entries may lack the keys — but the convergence entry always polls
    # and the cumulative sum over the run stays exact and nonzero.
    assert "shuffle_read_bytes" in runner.metrics[-1].extra
    assert "shuffle_write_bytes" in runner.metrics[-1].extra
    assert sum(m.extra.get("shuffle_write_bytes", 0) for m in runner.metrics) > 0


def test_resume_from_snapshot(spark, tmp_path):
    init, step, obs, conv = make_countdown(spark, 6)
    # first run: stop early by capping iterations under convergence
    r1 = FixpointRunner(
        spark, "cnt", checkpoint_dir=str(tmp_path), snapshot_every=2,
        max_iterations=3, raise_on_cap=False,
    )
    mid = r1.run(init, step, obs, conv)
    assert mid.collect()[0]["n"] == 3  # 3 iterations done, snapshot at it=1
    # resume: picks up from latest durable snapshot (iteration 1 → n=4)
    r2 = FixpointRunner(spark, "cnt", checkpoint_dir=str(tmp_path), snapshot_every=2)
    final = r2.run(init, step, obs, conv, resume=True)
    assert final.collect()[0]["n"] == 0
    # resumed at iteration 2 (after snapshot at 1), so 4 more iterations
    assert [m.iteration for m in r2.metrics] == [2, 3, 4, 5]


def test_one_job_per_iteration_with_observed_convergence(spark):
    """Without a checkpoint_dir each iteration is exactly one Spark job:
    the step's materialization, which also carries the ``observe``
    aggregates, so ``converged`` receives their values and never runs a
    job of its own. The step shuffles (a groupBy), which under AQE would
    run as several jobs; the loop plans it as one."""
    sc = spark.sparkContext
    group = "runner-one-job-per-iteration"
    init = spark.range(2000).select((F.col("id") % 50).alias("k"), F.lit(0).alias("it"))
    jobs, seen = [], []

    def step(state, it):
        return state.groupBy("k").agg((F.max("it") + 1).alias("it"))

    def converged(got, it):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        seen.append(dict(got))
        return (0 if it >= 3 else 1), {}

    sc.setJobGroup(group, "one job per iteration")
    try:
        FixpointRunner(spark, "jobs").run(
            init, step,
            [F.count(F.lit(1)).alias("rows"), F.max("it").alias("top")],
            converged,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [b - a for a, b in zip(jobs, jobs[1:])] == [1, 1, 1], jobs
    assert seen == [{"rows": 50, "top": it + 1} for it in range(4)], seen


def test_resume_without_snapshot_starts_fresh(spark, tmp_path):
    init, step, obs, conv = make_countdown(spark, 2)
    r = FixpointRunner(spark, "fresh", checkpoint_dir=str(tmp_path))
    final = r.run(init, step, obs, conv, resume=True)
    assert final.collect()[0]["n"] == 0
    assert r.metrics[0].iteration == 0


def test_pagerank_resume_matches_uninterrupted(spark, tmp_path):
    """Cap a checkpointed PageRank mid-run, then resume: final ranks must
    equal the uninterrupted run's (north rule: resumable mid-iteration)."""
    import pytest as _pytest

    from parallel_connected_components_spark.operators import pagerank
    from tests.test_cc import gen_component_graph

    edges = spark.createDataFrame(
        gen_component_graph(200, 4, 2, seed=31), "src long, dst long"
    )
    full, _ = pagerank(spark, edges, tol=1e-8)
    # interrupted: cap at 5 iterations (best-effort return, no raise —
    # the cap semantics match the numpy oracle since ADVICE r1), leaving
    # a durable snapshot behind
    partial, r1 = pagerank(
        spark, edges, tol=1e-8, max_iterations=5, checkpoint_dir=str(tmp_path)
    )
    assert r1.num_iterations == 5  # genuinely capped mid-run
    resumed, runner = pagerank(
        spark, edges, tol=1e-8, checkpoint_dir=str(tmp_path), resume=True
    )
    assert runner.metrics[0].iteration > 0  # actually resumed, not restarted
    f = {r["vertex"]: r["rank"] for r in full.collect()}
    g = {r["vertex"]: r["rank"] for r in resumed.collect()}
    assert set(f) == set(g)
    for v in f:
        assert g[v] == _pytest.approx(f[v], abs=1e-9)


# ---------------------------------------------------------------------------
# Iceberg backend (VERDICT r3 item 6): the sandbox has no
# iceberg-spark-runtime jar, so the branch executes against a fake engine
# behind TableLayer's three seams (_sql / _write_iceberg / _read_iceberg).
# The fake stores real parquet per commit, so save/load/resume run END TO
# END through the iceberg code path; the recorded statements pin the
# exact DDL/read calls a real cluster would receive.
# ---------------------------------------------------------------------------

class _FakeIcebergLayer(TableLayer):
    """TableLayer with the iceberg seams backed by an in-memory snapshot
    log + real parquet files (one dir per commit)."""

    def __init__(self, spark, tmp, **kw):
        super().__init__(spark, str(tmp), backend="iceberg", **kw)
        self._store: dict[str, list[dict]] = {}
        self._files = str(tmp)
        self.sql_log: list[str] = []
        self._next_id = 9000

    def _sql(self, stmt):
        self.sql_log.append(stmt)
        if stmt.startswith("CREATE NAMESPACE"):
            return None
        if stmt.startswith("DROP TABLE"):
            name = stmt.split(".")[-1]
            self._store.pop(name, None)
            return None
        if ".snapshots" in stmt:  # SELECT over the metadata table
            name = stmt.split(" FROM ")[1].split(".snapshots")[0].split(".")[-1]

            class _Res:
                def __init__(self, rows):
                    self._rows = rows

                def collect(self):
                    return self._rows

            return _Res(self._store.get(name, []))
        raise AssertionError(f"unexpected SQL through the iceberg seam: {stmt}")

    def _write_iceberg(self, df, ident, props):
        assert ident.startswith(f"{self.catalog}.{self.namespace}."), ident
        name = ident.split(".")[-1]
        import os
        import time as _t

        snap_id = self._next_id
        self._next_id += 1
        path = os.path.join(self._files, f"iceberg_{name}_{snap_id}")
        df.write.mode("overwrite").parquet(path)
        # iceberg records writeTo option snapshot-property.K as summary[K]
        self._store.setdefault(name, []).append(
            {
                "snapshot_id": snap_id,
                "committed_at": _t.time(),
                "summary": dict(props),
                "_path": path,
            }
        )

    def _read_iceberg(self, ident, snapshot_id):
        name = ident.split(".")[-1]
        snaps = self._store[name]
        entry = snaps[-1] if snapshot_id is None else next(
            s for s in snaps if s["snapshot_id"] == snapshot_id
        )
        return self.spark.read.parquet(entry["_path"])


def test_iceberg_branch_snapshot_semantics(spark, tmp_path):
    tl = _FakeIcebergLayer(spark, tmp_path)
    df0 = spark.range(3).selectExpr("id AS n")
    df1 = spark.range(5).selectExpr("id AS n")
    assert tl.latest_snapshot("t") == -1
    assert tl.save_snapshot("t", df0, lineage={"iteration": 0}) == 0
    assert tl.save_snapshot("t", df1, lineage={"iteration": 1}) == 1
    assert tl.latest_snapshot("t") == 1
    # time travel by ordinal maps to the right snapshot_id
    assert tl.load("t", snap=0).count() == 3
    assert tl.load("t").count() == 5
    # lineage rides the commit summary and roundtrips through JSON
    assert [s["lineage"]["iteration"] for s in tl.snapshots("t")] == [0, 1]
    # the DDL a real cluster would receive
    assert any(
        s.startswith("CREATE NAMESPACE IF NOT EXISTS spark_catalog.pccs")
        for s in tl.sql_log
    )
    assert any(
        # snapshot_id tiebreaker: ms-granularity committed_at ties must
        # not make ordinal time travel nondeterministic (round-5 ADVICE)
        "FROM spark_catalog.pccs.t.snapshots ORDER BY committed_at, snapshot_id" in s
        for s in tl.sql_log
    )
    tl.drop("t")
    assert tl.sql_log[-1] == "DROP TABLE IF EXISTS spark_catalog.pccs.t"
    assert tl.latest_snapshot("t") == -1


def test_iceberg_branch_runner_resume(spark, tmp_path):
    """The full FixpointRunner resume cycle over the iceberg branch: cap a
    run mid-way, resume from the iceberg snapshot, converge — mirror of
    test_resume_from_snapshot on the other backend."""
    init, step, obs, conv = make_countdown(spark, 6)
    shared = _FakeIcebergLayer(spark, tmp_path)
    r1 = FixpointRunner(
        spark, "cnt", checkpoint_dir=str(tmp_path), snapshot_every=2,
        max_iterations=3, raise_on_cap=False,
    )
    r1.tables = shared
    mid = r1.run(init, step, obs, conv)
    assert mid.collect()[0]["n"] == 3
    r2 = FixpointRunner(spark, "cnt", checkpoint_dir=str(tmp_path), snapshot_every=2)
    r2.tables = shared
    final = r2.run(init, step, obs, conv, resume=True)
    assert final.collect()[0]["n"] == 0
    assert [m.iteration for m in r2.metrics] == [2, 3, 4, 5]


def test_task_skew_report_reads_executed_stages(spark):
    from parallel_connected_components_spark.plans.runner import task_skew_report

    # a real multi-task job so at least one stage qualifies
    spark.range(0, 500_000, 1, 8).selectExpr("id % 97 AS k").groupBy(
        "k"
    ).count().count()
    # min_stage_ms=1 keeps out zero-runtime stages whose max/p50 ratio is
    # degenerate (0/1); everything that DID run must be internally sane
    rows = task_skew_report(spark, min_tasks=2, min_stage_ms=1)
    assert rows, "no stages visible through the app-status store"
    for r in rows:
        assert r["tasks"] >= 2
        assert r["max_ms"] >= r["p50_ms"] >= 0
        assert r["ratio"] > 0
    # ordered most-skewed first
    assert [r["ratio"] for r in rows] == sorted(
        (r["ratio"] for r in rows), reverse=True
    )


def test_iceberg_load_ordinal_bounds(spark, tmp_path):
    tl = _FakeIcebergLayer(spark, tmp_path)
    tl.save_snapshot("t", spark.range(3).selectExpr("id AS n"))
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        tl.load("t", snap=5)
    with _pytest.raises(FileNotFoundError):
        tl.load("t", snap=-1)  # must not alias Python tail indexing


# ---------------------------------------------------------------------------
# ShuffleMeter incremental merge (round 5): the meter must be O(new stages)
# per poll AND monotone under status-store eviction — tested against a fake
# py4j surface so every merge edge case is deterministic.
# ---------------------------------------------------------------------------

class _FakeStage:
    def __init__(self, sid, status, read, write):
        self._sid, self._st, self._r, self._w = sid, status, read, write

    def stageId(self):
        return self._sid

    def status(self):
        class S:  # noqa: D401 — mimics the py4j enum's toString()
            def __init__(self, v):
                self.v = v

            def toString(self):
                return self.v

        return S(self._st)

    def shuffleReadBytes(self):
        return self._r

    def shuffleWriteBytes(self):
        return self._w


class _FakeSparkForMeter:
    """Mimics exactly the py4j call chain ShuffleMeter.totals touches;
    `stages` is mutated between polls to simulate progress + eviction."""

    def __init__(self):
        self.stages: list[_FakeStage] = []  # newest-first, like the real store

    @property
    def sparkContext(self):
        return self

    @property
    def _jsc(self):
        return self

    def sc(self):
        return self

    def listenerBus(self):
        return self

    def waitUntilEmpty(self):
        pass

    @property
    def _jvm(self):
        class J:
            class java:
                class util:
                    ArrayList = list

            double = float

        return J

    @property
    def _gateway(self):
        class G:
            @staticmethod
            def new_array(_t, _n):
                return []

        return G

    def statusStore(self):
        return self

    def stageList(self, *_a):
        outer = self

        class L:
            def iterator(self):
                it = iter(outer.stages)

                class I:
                    def __init__(self):
                        self._buf = list(it)
                        self._i = 0

                    def hasNext(self):
                        return self._i < len(self._buf)

                    def next(self):
                        v = self._buf[self._i]
                        self._i += 1
                        return v

                return I()

        return L()


def test_shuffle_meter_incremental_and_monotone():
    from parallel_connected_components_spark.plans.runner import ShuffleMeter

    fake = _FakeSparkForMeter()
    m = ShuffleMeter()
    # poll 1: stage 0 complete (10/20), stage 1 active (5/5)
    fake.stages = [_FakeStage(1, "ACTIVE", 5, 5), _FakeStage(0, "COMPLETE", 10, 20)]
    assert m.totals(fake) == (15, 25)
    # poll 2: same list — active stage must not double-count, totals stable
    assert m.totals(fake) == (15, 25)
    # poll 3: stage 1 completes with more bytes; stage 2 completes above it
    fake.stages = [
        _FakeStage(2, "COMPLETE", 100, 0),
        _FakeStage(1, "COMPLETE", 7, 9),
        _FakeStage(0, "COMPLETE", 10, 20),
    ]
    assert m.totals(fake) == (117, 29)
    # poll 4: store evicts everything (retainedStages) — totals keep the
    # finalized history (monotone), not drop to zero
    fake.stages = []
    assert m.totals(fake) == (117, 29)
    # poll 5: new stage after eviction
    fake.stages = [_FakeStage(3, "COMPLETE", 1, 1)]
    assert m.totals(fake) == (118, 30)


def test_shuffle_meter_active_below_completed_no_double_count():
    """A long-running stage with a LOWER id than later completed stages:
    the completed ones above it must be summed exactly once across polls."""
    from parallel_connected_components_spark.plans.runner import ShuffleMeter

    fake = _FakeSparkForMeter()
    m = ShuffleMeter()
    fake.stages = [
        _FakeStage(6, "COMPLETE", 50, 50),
        _FakeStage(5, "ACTIVE", 1, 1),
    ]
    assert m.totals(fake) == (51, 51)
    assert m.totals(fake) == (51, 51)  # re-poll: 6 not re-added
    # 5 finishes; a retried attempt of 6 shows smaller bytes (ignored)
    fake.stages = [
        _FakeStage(6, "COMPLETE", 50, 50),
        _FakeStage(5, "COMPLETE", 2, 3),
    ]
    assert m.totals(fake) == (52, 53)
    # active stage evicted mid-flight freezes at last observed values
    fake.stages = [_FakeStage(7, "ACTIVE", 4, 4)]
    assert m.totals(fake) == (56, 57)
    fake.stages = []
    assert m.totals(fake) == (56, 57)


def test_shuffle_meter_multi_attempt_keeps_max():
    from parallel_connected_components_spark.plans.runner import ShuffleMeter

    fake = _FakeSparkForMeter()
    m = ShuffleMeter()
    # two attempts of stage 0 retained simultaneously: count the larger once
    fake.stages = [
        _FakeStage(0, "COMPLETE", 9, 9),
        _FakeStage(0, "FAILED", 4, 4),
    ]
    assert m.totals(fake) == (9, 9)
    assert m.totals(fake) == (9, 9)


def test_checkpoint_blocks_released_per_iteration(spark):
    """The runner frees each superseded iteration's localCheckpoint blocks
    (plans/runner.py:release). ``DataFrame.unpersist()`` alone leaves a
    checkpoint's RDD persisted until garbage collection, so the RDDs a
    run left behind grew by one per iteration. Two paths that need
    different iteration counts must leave the same RDDs: only the
    returned labels."""
    from parallel_connected_components_spark.operators import (
        cc_label_propagation,
        symmetrize,
    )

    jsc = spark.sparkContext._jsc
    i = F.col("id")
    left, iterations, results = [], [], []
    for n in (4, 16):
        before = set(jsc.getPersistentRDDs().keySet())
        path = spark.range(n).select(i.alias("src"), (i + 1).alias("dst"))
        labels, runner = cc_label_propagation(spark, symmetrize(path))
        assert labels.count() == n + 1
        results.append(labels)  # held: its blocks are the run's output
        left.append(set(jsc.getPersistentRDDs().keySet()) - before)
        iterations.append(runner.num_iterations)
    assert iterations[1] > iterations[0] + 4, iterations
    assert [len(x) for x in left] == [1, 1], left
