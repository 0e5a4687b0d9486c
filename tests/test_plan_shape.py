"""Executed-plan shape assertions for the iterative hot loop.

These pin the SUBSTRATE behaviors the iteration plans rely on — the
exact properties whose silent loss produced round-2/3's measured
regressions (PLANS.md §3, §8):

1. a `shuffle_hash`-hinted join-back must NOT be flipped to a
   BroadcastHashJoin by AQE at runtime (an in-loop broadcast is a serial
   driver hashed-relation build per iteration);
2. `pin_edges` output must report a known hash partitioning so the
   per-iteration message join moves only the state side (a
   localCheckpoint-then-persist in the wrong order reports
   UnknownPartitioning and silently re-exchanges the edge table every
   iteration).

AQE decides at RUNTIME, so plans are read AFTER an action, from the
adaptive executed plan (`isFinalPlan=true` state), not from a static
explain.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from parallel_connected_components_spark.operators.graph import pin_edges


def executed_plan(df) -> str:
    df.count()  # force execution so AQE finalizes its choices
    return df._jdf.queryExecution().executedPlan().toString()


def test_hinted_join_back_stays_shuffle_hash(spark):
    """Mirror of the PageRank step's message join + join-back shape
    (operators/pagerank.py:step, messages combined per destination
    before the exchange): tiny aggregation output is exactly the case
    where AQE wants to broadcast — the hint must win."""
    edges, _ = pin_edges(
        spark, spark.range(20000).select((F.col("id") % 500).alias("src"),
                                         ((F.col("id") * 7) % 500).alias("dst"))
    )
    state = spark.range(500).select(
        F.col("id").alias("src"), (F.col("id") * 0.001).alias("w")
    ).localCheckpoint(eager=True).hint("shuffle_hash")
    contribs = (
        edges.join(state, "src")
        .select("dst", "w")
        .groupBy(F.col("dst").alias("vertex"))
        .agg(F.sum("w").alias("contrib"))
        .hint("shuffle_hash")
    )
    verts = spark.range(500).select(F.col("id").alias("vertex")).localCheckpoint(
        eager=True
    )
    joined = verts.join(contribs, "vertex", "left")
    plan = executed_plan(joined)
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    edges.unpersist()


def _walk(node, ancestors=()):
    """Yield (node, ancestors) over an executed plan's children. A cached
    scan's inner plan (the pinned edge table's own exchange) is not a
    child, so it is left out."""
    yield node, ancestors
    kids = node.children()
    for i in range(kids.size()):
        yield from _walk(kids.apply(i), ancestors + (node,))


def _capture_step_plans(monkeypatch) -> dict:
    """Record the frame each fixpoint iteration materializes (the step
    with its Observation attached) by runner name and iteration. Its
    executed plan is the one the loop ran, planned under the loop's
    settings; the step's own return value is a different, never-executed
    DataFrame."""
    from parallel_connected_components_spark.plans.runner import FixpointRunner

    steps: dict = {}
    observed = FixpointRunner._observed

    def recording_observed(self, step_df, observe, it):
        df, obs = observed(self, step_df, observe, it)
        steps.setdefault(self.name, {})[it] = df
        return df, obs

    monkeypatch.setattr(FixpointRunner, "_observed", recording_observed)
    return steps


def test_loop_combines_messages_before_one_exchange(spark, monkeypatch):
    """With ``spark.sql.shuffle.partitions`` != the pinned table's
    partition count, iteration 1 of CC and PageRank must still run ONE
    hash exchange outside the cached edge scan, with a HashAggregate on
    each side of it (messages combined per destination before the shuffle
    write), and no broadcast. A partition-count mismatch between the
    aggregation and the hash(vertex) state would add a second exchange at
    the join-back. The session setting is restored after the loop, also
    when a step raises."""
    import pytest

    from parallel_connected_components_spark.operators import (
        cc_label_propagation,
        pagerank,
        symmetrize,
    )
    from parallel_connected_components_spark.plans.runner import FixpointRunner

    key = "spark.sql.shuffle.partitions"
    bloom = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    old = spark.conf.get(key)
    old_bloom = spark.conf.get(bloom)
    n_part = spark.sparkContext.defaultParallelism
    mismatched = str(n_part + 3)
    spark.conf.set(key, mismatched)
    try:
        steps = _capture_step_plans(monkeypatch)
        i = F.col("id")
        # a 60-vertex path plus hub fan-in: several CC rounds, and
        # destinations that receive many messages per map task
        edges = spark.range(60).select(i.alias("src"), (i + 1).alias("dst")).union(
            spark.range(2000).select((i % 200 + 100).alias("src"), (i % 7).alias("dst"))
        )
        cc_label_propagation(spark, symmetrize(edges))
        pagerank(spark, edges)
        assert spark.conf.get(key) == mismatched
        assert spark.conf.get(bloom) == old_bloom
        for name in ("cc_lp", "pagerank"):
            plan = steps[name][1]._jdf.queryExecution().executedPlan()
            text = plan.toString()
            assert "BroadcastHashJoin" not in text, text
            nodes = list(_walk(plan))
            exchanges = [
                (n, up) for n, up in nodes
                if n.nodeName() == "Exchange"
                and "hashpartitioning" in n.simpleString(100)
            ]
            assert len(exchanges) == 1, text
            ex, up = exchanges[0]
            assert any(a.nodeName() == "HashAggregate" for a in up), text
            assert any(
                n.nodeName() == "HashAggregate" for n, _ in _walk(ex.child())
            ), text

        def boom(state, it):
            assert spark.conf.get(key) == "3"
            assert spark.conf.get(bloom) == "false"
            raise RuntimeError("step failed")

        runner = FixpointRunner(spark, "boom", n_part=3)
        with pytest.raises(RuntimeError, match="step failed"):
            runner.run(
                spark.range(3), boom, [F.count(F.lit(1)).alias("c")],
                lambda got, it: (0, {}),
            )
        assert spark.conf.get(key) == mismatched
        assert spark.conf.get(bloom) == old_bloom
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        spark.conf.set(key, old)


def _hash_exchanges(df) -> int:
    """Hash Exchanges in ``df``'s executed plan outside cached scans."""
    plan = df._jdf.queryExecution().executedPlan()
    return sum(
        1 for n, _ in _walk(plan)
        if n.nodeName() == "Exchange" and "hashpartitioning" in n.simpleString(100)
    )


def _hash_key(node) -> tuple[str, int] | None:
    """(column, partitions) of a plan node's hash partitioning on one of
    its own output columns, else None: also when the partitioning names an
    attribute the node no longer outputs, which downstream plans treat as
    unpartitioned."""
    p = node.outputPartitioning()
    if p.getClass().getSimpleName() != "HashPartitioning" or p.expressions().size() != 1:
        return None
    key = p.expressions().apply(0).toString()
    out = node.output()
    for k in range(out.size()):
        if out.apply(k).toString() == key:
            return out.apply(k).name(), p.numPartitions()
    return None


def test_first_superstep_exchanges_like_the_rest(spark, monkeypatch):
    """Every loop's state is born co-partitioned with its messages, so
    iteration 0 runs as many hash Exchanges as iteration 1, and every
    state a step reads, the initial one included, is a checkpoint that
    reports ``hashpartitioning(vertex, n_part)`` on its own ``vertex``
    column. The session's shuffle partition count differs from
    ``n_part``, so a checkpoint made outside the loop's settings shows."""
    from parallel_connected_components_spark.operators import (
        anf, bfs_hops, cc_label_propagation, coreness, harmonic_centrality,
        label_propagation_communities, pagerank, scc, symmetrize,
    )

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    n_part = spark.sparkContext.defaultParallelism
    spark.conf.set(key, str(n_part + 3))
    steps = _capture_step_plans(monkeypatch)
    i = F.col("id")
    path = spark.range(7).select(i.alias("src"), (i + 1).alias("dst"))
    sym = symmetrize(path)
    # a 5-cycle with a tail: scc trims the tail and colors the cycle
    cycle = spark.range(5).select(i.alias("src"), ((i + 1) % 5).alias("dst"))
    loops = [
        ("cc_lp", lambda: cc_label_propagation(spark, sym)),
        ("lpa", lambda: label_propagation_communities(spark, sym, max_iterations=3)),
        ("pagerank", lambda: pagerank(spark, path, max_iterations=3)),
        ("bfs_hops", lambda: bfs_hops(spark, sym, spark.range(1), max_hops=3)),
        ("coreness", lambda: coreness(spark, sym)),
        ("anf", lambda: anf(spark, sym, rounds=3)),
        ("harmonic", lambda: harmonic_centrality(spark, sym, rounds=3)),
        # scc's coloring LP, with the frames scc made before it
        ("cc_lp", lambda: scc(spark, cycle.union(path))),
        # scc's backward mark, seeded with the color roots
        ("bfs_hops", lambda: scc(spark, cycle.union(path))),
    ]
    try:
        for name, run in loops:
            steps.clear()
            run()
            plans = steps[name]
            counts = [_hash_exchanges(plans[it]) for it in (0, 1)]
            assert counts[0] == counts[1], (
                name, counts, plans[0]._jdf.queryExecution().executedPlan().toString()
            )
            for it, df in plans.items():
                scans = [
                    n for n, _ in _walk(df._jdf.queryExecution().executedPlan())
                    if n.nodeName() == "Scan ExistingRDD"
                ]
                assert scans, (name, it)
                for n in scans:
                    assert _hash_key(n) == ("vertex", n_part), (name, it, n.toString())
    finally:
        spark.conf.set(key, old)


def test_vertex_table_keeps_its_partitioning(spark):
    """``graph.vertex_table`` checkpoints ``(id long)`` hash(id)-partitioned
    into ``n_part`` partitions, also when its input is already bigint (an
    identity cast would leave the checkpoint partitioned on an attribute it
    does not output) and when ids must be cast; the default src-distinct
    of a pinned table plans no exchange for it."""
    from parallel_connected_components_spark.operators.graph import vertex_table
    from parallel_connected_components_spark.plans.runner import fixpoint_conf

    e, n_part = pin_edges(
        spark, spark.range(2000).select((F.col("id") % 300).alias("src"),
                                        ((F.col("id") * 7) % 300).alias("dst"))
    )
    default = e.select(F.col("src").alias("id")).distinct()
    with fixpoint_conf(spark, n_part):
        assert _hash_exchanges(default.repartition(n_part, "id")) == 0
    ints = spark.range(50).select(F.col("id").cast("int"))
    try:
        for vertices in (None, ints):
            with vertex_table(vertices, default, n_part) as verts:
                assert verts.dtypes == [("id", "bigint")]
                node = verts._jdf.queryExecution().executedPlan()
                assert _hash_key(node) == ("id", n_part), node.toString()
    finally:
        e.unpersist()


def test_scc_runs_no_runtime_bloom_filter(spark, monkeypatch):
    """scc joins checkpoints, which carry no size statistics and so look
    like huge scans to Catalyst's runtime-filter rule; inside the loop
    settings no frame scc materializes may carry a bloom-filter subquery
    (a job and an exchange of its own that prunes nothing)."""
    from parallel_connected_components_spark.operators import scc

    frames = []
    cls = type(spark.range(1))
    checkpoint = cls.localCheckpoint

    def recording(self, *args, **kwargs):
        frames.append(self)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    i = F.col("id")
    edges = spark.range(40).select(i.alias("src"), ((i * 7 + 3) % 40).alias("dst")).union(
        spark.range(40).select(i.alias("src"), ((i + 1) % 13).alias("dst"))
    )
    scc(spark, edges)
    assert frames
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BloomFilterAggregate" not in plan and "might_contain" not in plan, plan


def test_step_code_is_identical_across_iterations(spark, monkeypatch):
    """Iterations 2 and 3 of each loop must generate the same code, so the
    codegen cache serves every iteration after the first few from one set
    of compiled classes. A value that changes per iteration and is planned
    as a literal, such as ``F.lit(it + 1)`` for a BFS message's distance,
    is inlined into the generated code and forces a fresh compile each
    round. Known exception, not tested here:
    ``pagerank`` inlines its per-iteration dangling mass (a double
    literal), so each of its iterations compiles one new class. Compares
    the whole-stage code text of the executed step plans, so it does not
    depend on what the shared codegen cache already holds."""
    from parallel_connected_components_spark.operators import (
        bfs_hops,
        cc_label_propagation,
        coreness,
        label_propagation_communities,
        pagerank_fixed,
        personalized_pagerank_fixed,
        symmetrize,
    )

    steps = _capture_step_plans(monkeypatch)
    i = F.col("id")
    path = spark.range(19).select(i.alias("src"), (i + 1).alias("dst"))
    sym = symmetrize(path)
    cc_label_propagation(spark, sym)
    label_propagation_communities(spark, sym, max_iterations=5)
    bfs_hops(spark, path, spark.range(1))
    coreness(spark, sym)
    # the fixed PageRanks' teleport literals are fixed per run
    pagerank_fixed(spark, path, n_iterations=4)
    personalized_pagerank_fixed(spark, sym, [0], n_iterations=4)

    def code(df) -> list[str]:
        seq = df._jdf.queryExecution().debug().codegenToSeq()
        return [seq.apply(k)._2() for k in range(seq.size())]

    for name in ("cc_lp", "lpa", "bfs_hops", "coreness", "pagerank_fixed", "ppr_fixed"):
        it2, it3 = code(steps[name][2]), code(steps[name][3])
        assert it2, name
        assert it2 == it3, name


def test_pinned_edges_join_does_not_reexchange_edges(spark):
    """The message join over pin_edges must reuse the pinned partitioning:
    exactly one Exchange on the state side, none over the cached edge
    scan (count the Exchanges under the join)."""
    edges, n_part = pin_edges(
        spark, spark.range(20000).select((F.col("id") % 500).alias("src"),
                                         ((F.col("id") * 3) % 500).alias("dst"))
    )
    senders = spark.range(100).select(
        F.col("id").alias("src"), F.col("id").alias("label")
    ).hint("shuffle_hash")
    msgs = edges.join(senders, "src").select(F.col("dst").alias("vertex"), "label")
    plan = executed_plan(msgs)
    assert "InMemoryTableScan" in plan, plan
    # the cached edge branch must not be re-exchanged: every Exchange in
    # the executed join plan belongs to the (tiny) sender side
    edge_branch = plan.split("InMemoryTableScan", 1)[1]
    assert "Exchange" not in edge_branch.split("\n\n")[0].split("+- ==")[0], plan
    edges.unpersist()


def test_dedup_pair_generation_never_cross_joins(spark):
    """The LSH banding candidate join and the signature verify joins must
    stay equi-joins at every size — a missing join key would silently
    plan a BroadcastNestedLoopJoin/CartesianProduct whose cost is |docs|²
    at crawl scale."""
    from parallel_connected_components_spark.operators.dedup import (
        minhash_near_duplicates,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = minhash_near_duplicates(docs, num_perm=8, num_bands=4, threshold=0.5)
    pairs.count()  # force execution so the final (AQE) plan is real
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sorted_pin_compresses_cache(spark):
    """pin_edges' default in-partition sort must keep its win: the
    sorted key column RLE/delta-compresses in the columnar cache
    (measured 550 → 299 MB at 36M edges, BENCH/BASELINE.md), which is
    what makes every iteration of the bandwidth-bound loops faster.
    Guard the property, not the absolute bytes."""
    from pyspark.sql import functions as F

    from parallel_connected_components_spark.operators.graph import pin_edges

    edges = spark.range(400000).select(
        (F.xxhash64("id") % 20000).alias("src"),
        (F.xxhash64("id", F.lit(1)) % 20000).alias("dst"),
    )

    def cached_bytes(sort):
        before = {
            i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }
        e, _ = pin_edges(spark, edges, sort=sort)
        new = [
            i.memSize()
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if i.id() not in before
        ]
        e.unpersist()
        return max(new)

    plain, srt = cached_bytes(False), cached_bytes(True)
    assert srt <= 0.8 * plain, (plain, srt)


def test_bucketed_edges_join_has_no_exchange_on_edge_side(spark, tmp_path):
    """A bucketed edge table (sources/bucketed.py) must behave as a
    pre-pinned table: the message join's executed plan shows the scan as
    ``Bucketed: true`` with NO Exchange above it — only the state side
    shuffles. This is the zero-exchange-per-job deployment format; losing
    the property silently reintroduces a full edge shuffle per job."""
    from parallel_connected_components_spark.sources.bucketed import (
        load_bucketed_edges,
        save_bucketed_edges,
    )

    edges = spark.range(20000).select(
        (F.col("id") % 500).alias("src"), ((F.col("id") * 3) % 500).alias("dst")
    )
    n = save_bucketed_edges(
        spark, edges, "pccs_test_bkt", str(tmp_path / "bkt"), num_buckets=8
    )
    try:
        e, n2 = load_bucketed_edges(spark, "pccs_test_bkt")
        assert n == n2 == 8
        senders = spark.range(100).select(
            F.col("id").alias("src"), F.col("id").alias("label")
        ).hint("shuffle_hash")
        msgs = e.join(senders, "src").select(F.col("dst").alias("vertex"), "label")
        plan = executed_plan(msgs)
        assert "Bucketed: true" in plan, plan
        # the bucketed scan branch (below the join's streamed side) must
        # carry no Exchange; the single Exchange belongs to senders
        assert plan.count("Exchange hashpartitioning") == 1, plan
        # ...and that one Exchange sits on the sender branch, which the
        # planner lists above the build-side scan
        assert "Range (0, 100" in plan.split("Exchange hashpartitioning", 1)[1], plan
    finally:
        spark.sql("DROP TABLE IF EXISTS pccs_test_bkt")


def test_bucketed_reload_after_catalog_loss_and_lp_parity(spark, tmp_path):
    """Fresh-session deployment path: drop the catalog entry (the
    in-memory catalog's restart analog), re-register from the sidecar,
    and run frontier LP on the pinned bucketed scan (a ``Pinned``) —
    labels must equal the plain pin_edges run."""
    from parallel_connected_components_spark.operators import (
        cc_label_propagation,
        symmetrize,
    )
    from parallel_connected_components_spark.sources.bucketed import (
        pin_bucketed_edges,
        save_bucketed_edges,
    )
    from tests.test_cc import gen_component_graph, labels_dict

    edge_list = gen_component_graph(400, 7, 2, seed=11)
    edges = symmetrize(spark.createDataFrame(edge_list, ["src", "dst"]))
    path = str(tmp_path / "bkt_sym")
    save_bucketed_edges(spark, edges, "pccs_test_bkt2", path, num_buckets=8)
    spark.sql("DROP TABLE pccs_test_bkt2")  # simulate a fresh session
    try:
        e = pin_bucketed_edges(spark, "pccs_test_bkt2", path)
        got, _ = cc_label_propagation(spark, e)
        want, _ = cc_label_propagation(spark, edges)
        assert labels_dict(got) == labels_dict(want)
        e.edges.unpersist()
        # a same-name registration pointing at a DIFFERENT path must fail
        # loudly, not silently hand back the registered dataset
        import pytest

        from parallel_connected_components_spark.sources.bucketed import (
            load_bucketed_edges,
        )

        with pytest.raises(ValueError, match="registered at"):
            load_bucketed_edges(spark, "pccs_test_bkt2", str(tmp_path / "other"))
    finally:
        spark.sql("DROP TABLE IF EXISTS pccs_test_bkt2")


def test_two_phase_pre_partitioned_runs_without_exchange(spark, tmp_path):
    """cc_two_phase over a pinned bucketed canonical table (a ``Pinned``,
    as the CLI's --bucketed passes it): phase 1's mapInPandas must read
    the bucket partitions as-is (no Exchange between scan and the
    local-UF pass), and labels must match the hash-partitioned run."""
    from parallel_connected_components_spark.operators import (
        canonicalize,
        cc_two_phase,
    )
    from parallel_connected_components_spark.operators.cc import _local_uf_partition
    from parallel_connected_components_spark.sources.bucketed import (
        pin_bucketed_edges,
        save_bucketed_edges,
    )
    from tests.test_cc import gen_component_graph, labels_dict

    edge_list = gen_component_graph(600, 5, 2, seed=3)
    canon = canonicalize(spark.createDataFrame(edge_list, ["src", "dst"]))
    save_bucketed_edges(
        spark, canon, "pccs_test_bkt3", str(tmp_path / "bkt_canon"), num_buckets=8
    )
    try:
        e = pin_bucketed_edges(spark, "pccs_test_bkt3")
        # the phase-1 plan as cc_two_phase builds it over a Pinned table
        local = e.edges.mapInPandas(_local_uf_partition, schema="src long, dst long")
        plan = executed_plan(local)
        assert "Exchange" not in plan, plan
        got, _ = cc_two_phase(spark, e)
        want, _ = cc_two_phase(spark, canon, partition_by="hash")
        assert labels_dict(got) == labels_dict(want)
        e.edges.unpersist()
    finally:
        spark.sql("DROP TABLE IF EXISTS pccs_test_bkt3")


def test_pr_fold_dedup_is_broadcast_map_side(spark):
    """The incremental-PageRank fold's delta dedup (round 5): both joins
    against the accumulated pinned edge table must execute as
    BroadcastHashJoins with the DELTA as the broadcast side — the pinned
    state is scanned from cache, never exchanged, which is what makes the
    per-fold edge pass delta-proportional (streaming/graph.py
    update_pagerank_state)."""
    pinned = (
        spark.range(50000)
        .select((F.col("id") % 4000).alias("src"), ((F.col("id") * 13) % 4000).alias("dst"))
        .dropDuplicates(["src", "dst"])
        .repartition(8, "src")
        .persist()
    )
    pinned.count()
    delta = spark.range(200).select(
        (F.col("id") % 4000).alias("src"), ((F.col("id") * 31) % 4000).alias("dst")
    ).localCheckpoint(eager=True)
    matched = pinned.join(F.broadcast(delta), ["src", "dst"], "left_semi")
    new = delta.join(F.broadcast(matched), ["src", "dst"], "left_anti")
    plan = executed_plan(new)
    assert "BroadcastHashJoin" in plan, plan
    # neither join may shuffle the big table: no shuffle-keyed exchange
    # of the pinned side inside this plan (the only allowed exchange is
    # none — broadcast distributions only)
    assert "ShuffledHashJoin" not in plan and "SortMergeJoin" not in plan, plan
    # and the semi-join side too
    plan_m = executed_plan(matched)
    assert "BroadcastHashJoin" in plan_m, plan_m
    assert "ShuffledHashJoin" not in plan_m and "SortMergeJoin" not in plan_m, plan_m
    pinned.unpersist()
