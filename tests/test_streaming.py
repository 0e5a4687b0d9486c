"""Streaming/batch parity: the windowed streaming aggregation over a
closed file source equals the batch aggregation on the same data."""

from __future__ import annotations

import os
import shutil

import pytest

from parallel_connected_components_spark.streaming import (
    batch_event_counts,
    streaming_event_counts,
)
from parallel_connected_components_spark.streaming.events import run_stream_to_completion

SRC = "/root/testdata/sf0.001/events.parquet"


def test_stream_equals_batch(spark, tmp_path):
    src_dir = str(tmp_path / "events_in")
    shutil.copytree(SRC, src_dir) if False else None
    # parquet "file" from the driver is a single file; file source wants a dir
    import os

    os.makedirs(src_dir, exist_ok=True)
    shutil.copy(SRC, os.path.join(src_dir, "part-0.parquet"))

    events = spark.read.parquet(SRC)
    batch = batch_event_counts(events)
    stream_df = streaming_event_counts(spark, src_dir, schema_from=SRC)
    # checkpointLocation-free memory sink with availableNow
    got = run_stream_to_completion(spark, stream_df, "evt_counts")
    assert got.count() == batch.count()
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_stateful_user_totals_parity(spark, tmp_path):
    """applyInPandasWithState running totals: last update per user over a
    drained stream == batch groupBy. Input split into two files so state
    must carry across input splits."""
    import os

    from pyspark.sql import functions as F

    from parallel_connected_components_spark.streaming.stateful import (
        batch_user_totals,
        streaming_user_totals,
    )

    events = spark.read.parquet(SRC)
    src_dir = str(tmp_path / "ev_state")
    os.makedirs(src_dir, exist_ok=True)
    a = events.filter("event_id % 2 = 0")
    b = events.filter("event_id % 2 = 1")
    a.write.mode("overwrite").parquet(os.path.join(src_dir, "f1"))
    b.write.mode("overwrite").parquet(os.path.join(src_dir, "f2"))

    stream = streaming_user_totals(
        spark, f"{src_dir}/*", schema_from=SRC
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("user_totals")
    # update mode may emit a row per micro-batch: keep the last (= max
    # n_events) per user
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    last = (
        got.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "n_events", "sum_value")
    )
    batch = batch_user_totals(events)
    assert last.count() == batch.count()
    joined = last.join(batch.withColumnsRenamed(
        {"n_events": "bn", "sum_value": "bs"}), "user_id")
    bad = joined.filter(
        (F.col("n_events") != F.col("bn"))
        | (F.abs(F.col("sum_value") - F.col("bs")) > 1e-9)
    )
    assert bad.count() == 0


def test_session_window_stream_equals_batch(spark, tmp_path):
    """Session windows (dynamic gap-merged windows): drained stream ==
    batch over the same closed input."""
    import os

    from parallel_connected_components_spark.streaming import (
        batch_session_counts,
        streaming_session_counts,
    )

    src_dir = str(tmp_path / "ev_sessions")
    os.makedirs(src_dir, exist_ok=True)
    shutil.copy(SRC, os.path.join(src_dir, "part-0.parquet"))
    events = spark.read.parquet(SRC)
    batch = batch_session_counts(events)
    stream_df = streaming_session_counts(spark, src_dir, schema_from=SRC)
    got = run_stream_to_completion(spark, stream_df, "sess_counts")
    assert got.count() == batch.count() > 0
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_streaming_exact_dedup_parity(spark, tmp_path):
    """Streaming dedup keeps exactly one row per fingerprint across
    micro-batch boundaries (input split into two files, duplicates
    planted across the split)."""
    import os

    from pyspark.sql import functions as F

    from parallel_connected_components_spark.streaming import streaming_exact_dedup

    DOCS = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(DOCS)
    a = docs.filter("doc_id % 2 = 0")
    # second file: odd docs + clones of 10 even docs (cross-batch dups)
    clones = docs.filter("doc_id < 20 AND doc_id % 2 = 0").withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    b = docs.filter("doc_id % 2 = 1").unionByName(clones)
    src_dir = str(tmp_path / "docs_in")
    a.coalesce(1).write.mode("overwrite").parquet(os.path.join(src_dir, "f1"))
    b.coalesce(1).write.mode("overwrite").parquet(os.path.join(src_dir, "f2"))

    stream = streaming_exact_dedup(spark, f"{src_dir}/*", schema_from=DOCS)
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_out")
    from parallel_connected_components_spark.functions.textstats import fingerprint_col

    n_distinct = docs.select(fingerprint_col("text").alias("f")).distinct().count()
    assert got.count() == n_distinct
    assert got.select("fingerprint").distinct().count() == n_distinct


def test_streaming_dedup_watermark_horizon(spark, tmp_path):
    """dropDuplicatesWithinWatermark's documented contract, both sides:
    a duplicate inside the horizon is dropped, but once the watermark has
    passed a fingerprint's state, a re-arrival IS emitted again — the
    price of bounded state under unbounded ingest. Round-2 tests pinned
    only the within-horizon half."""
    import os
    import time as _t

    src_dir = str(tmp_path / "docs_wm")
    os.makedirs(src_dir, exist_ok=True)
    T0 = "2024-01-01 00:00:00"
    T3H = "2024-01-01 03:00:00"
    T3H01 = "2024-01-01 03:01:00"

    def mk(rows, sub):
        df = spark.createDataFrame(rows, "doc_id long, text string, ts string")
        df = df.withColumn("ts", df.ts.cast("timestamp"))
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src_dir, sub))
        return os.path.join(src_dir, sub)

    from parallel_connected_components_spark.streaming import streaming_exact_dedup

    # two sequential availableNow runs over ONE checkpoint pin the batch
    # boundary deterministically (dedup state persists across restarts)
    out_dir = str(tmp_path / "dedup_wm_out")

    def run_once():
        stream = streaming_exact_dedup(
            spark, f"{src_dir}/*", schema_from=f1,
            watermark_col="ts", watermark="1 hour",
        )
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt_wm"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["text"], r["doc_id"])
            for r in spark.read.parquet(out_dir).collect()
        }

    # batch 1: "expire me" at T0; "keep once" at T0+3h (also advances the
    # watermark to T0+2h at batch end, expiring "expire me"'s state)
    f1 = mk([(1, "expire me", T0), (2, "keep once", T3H)], "f1")
    got1 = run_once()
    assert got1 == {("expire me", 1), ("keep once", 2)}
    # batch 2: "expire me" again (beyond horizon → re-emitted) and
    # "keep once" again (within horizon → dropped)
    mk([(3, "expire me", T3H01), (4, "keep once", T3H01)], "f2")
    _t.sleep(0.1)
    got = run_once()
    texts = sorted(t for t, _ in got)
    assert texts == ["expire me", "expire me", "keep once"], got
    assert {d for t, d in got if t == "keep once"} == {2}  # dup doc 4 dropped


def test_incremental_cc_stream_equals_batch(spark, tmp_path):
    """foreachBatch incremental CC: edge batches arriving as files fold
    into a persistent labeling that equals batch CC over the union — and
    a restarted stream with late-arriving files resumes from the
    checkpoint and converges to the same exact labels."""
    import os

    from pyspark.sql import functions as F

    from parallel_connected_components_spark.operators.cc import (
        union_find_oracle,
    )
    from parallel_connected_components_spark.sources.grids import gen_grid_edges
    from parallel_connected_components_spark.sources.pages import gen_pages
    from parallel_connected_components_spark.sources.tables import TableLayer
    from parallel_connected_components_spark.operators.graph import edges_from_pages
    from parallel_connected_components_spark.streaming.graph import (
        cc_state_labels,
        incremental_cc_stream,
    )

    # edge feed: a web-ish graph + a grid, split into 3 arrival files so
    # components merge ACROSS batches (the interesting case)
    pages = gen_pages(spark, 240, num_components=6)
    e1 = edges_from_pages(pages, keep_dangling=False).where("src < dst")
    e2 = gen_grid_edges(spark, 8, 6, num_grids=2).select(
        (F.col("src") + 10000).alias("src"), (F.col("dst") + 10000).alias("dst")
    )
    all_edges = e1.unionByName(e2).collect()
    rows = [(r["src"], r["dst"]) for r in all_edges]
    src_dir = str(tmp_path / "edge_feed")
    os.makedirs(src_dir, exist_ok=True)
    state_dir = str(tmp_path / "cc_state")
    third = len(rows) // 3

    def write_file(name, chunk):
        spark.createDataFrame(chunk, "src long, dst long").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src_dir, "_stage"))
        # atomic-ish arrival: move the part file in under a new name
        import glob
        import shutil

        part = glob.glob(os.path.join(src_dir, "_stage", "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src_dir, name))
        shutil.rmtree(os.path.join(src_dir, "_stage"))

    # interleave so cross-batch merges are guaranteed: every third edge
    chunks = [rows[0::3], rows[1::3]]
    late = rows[2::3]
    write_file("f0.parquet", chunks[0])
    write_file("f1.parquet", chunks[1])
    schema_from = os.path.join(src_dir, "f0.parquet")
    incremental_cc_stream(spark, src_dir, schema_from, state_dir)

    # late arrival + restart: the checkpoint must skip f0/f1
    write_file("f2.parquet", late)
    incremental_cc_stream(spark, src_dir, schema_from, state_dir)

    got = {
        r["vertex"]: r["label"] for r in cc_state_labels(spark, state_dir).collect()
    }
    uf = union_find_oracle(rows)
    assert got == {v: uf.get(v, v) for v in got}
    assert set(got) == {v for uv in rows for v in uv}
    # versioned snapshots: one per non-empty micro-batch, monotone
    versions = [
        s["snap"]
        for s in TableLayer(spark, state_dir, backend="parquet").snapshots("labels")
    ]
    assert versions == list(range(len(versions))) and len(versions) >= 2


def test_incremental_pagerank_warm_start_parity_and_savings(spark, tmp_path):
    """Warm-started incremental PageRank: ranks after folding batches ==
    cold full-run ranks on the union (unique fixpoint), and the second
    fold (small delta) converges in fewer iterations than a cold run."""
    import os

    from pyspark.sql import functions as F

    from parallel_connected_components_spark.operators import pagerank
    from parallel_connected_components_spark.sources.pages import gen_pages
    from parallel_connected_components_spark.operators.graph import edges_from_pages
    from parallel_connected_components_spark.streaming.graph import (
        pagerank_state_ranks,
        update_pagerank_state,
    )

    pages = gen_pages(spark, 400, num_components=4)
    all_edges = (
        edges_from_pages(pages, keep_dangling=False)
        .where("src != dst")
        .dropDuplicates(["src", "dst"])
        .collect()
    )
    rows = [(r["src"], r["dst"]) for r in all_edges]
    # 95% in batch 1, 5% delta in batch 2
    cut = int(len(rows) * 0.95)
    state = str(tmp_path / "pr_state")
    b1 = spark.createDataFrame(rows[:cut], "src long, dst long")
    b2 = spark.createDataFrame(rows[cut:], "src long, dst long")
    it1 = update_pagerank_state(spark, b1, state, tol=1e-6)
    it2 = update_pagerank_state(spark, b2, state, tol=1e-6)

    cold, cold_runner = pagerank(
        spark, spark.createDataFrame(rows, "src long, dst long"), tol=1e-6
    )
    got = {r["vertex"]: r["rank"] for r in pagerank_state_ranks(spark, state).collect()}
    want = {r["vertex"]: r["rank"] for r in cold.collect()}
    assert set(got) == set(want)
    for v, r in want.items():
        assert abs(got[v] - r) < 5e-6, (v, got[v], r)
    # the whole point: warm start after a 5% delta beats a cold run
    assert it2 < cold_runner.num_iterations, (it2, cold_runner.num_iterations)


def test_incremental_triangles_match_batch(spark, tmp_path):
    """Exact per-batch triangle deltas: folding interleaved batches gives
    the same running total as a from-scratch count on the union — the
    1/2/3-new-edge partition must cover every new triangle exactly once."""
    from parallel_connected_components_spark.operators.triangles import triangle_count
    from parallel_connected_components_spark.sources.pages import gen_pages
    from parallel_connected_components_spark.operators.graph import edges_from_pages
    from parallel_connected_components_spark.streaming.graph import (
        triangle_state_total,
        update_triangle_state,
    )

    pages = gen_pages(spark, 300, num_components=5)
    rows = [
        (r["src"], r["dst"])
        for r in edges_from_pages(pages, keep_dangling=False).collect()
    ]
    state = str(tmp_path / "tri_state")
    # interleaved thirds => plenty of cross-batch triangles (all classes)
    chunks = [rows[0::3], rows[1::3], rows[2::3]]
    running = 0
    for i, chunk in enumerate(chunks):
        out = update_triangle_state(
            spark, spark.createDataFrame(chunk, "src long, dst long"), state
        )
        running += out["delta"]
        assert out["total"] == running
        expected = triangle_count(
            spark,
            spark.createDataFrame(
                [e for c in chunks[: i + 1] for e in c], "src long, dst long"
            ),
        )
        assert out["total"] == expected, (i, out, expected)
    assert triangle_state_total(state) == running > 0
    # replayed duplicate batch is a no-op (left-anti against state)
    again = update_triangle_state(
        spark, spark.createDataFrame(chunks[0], "src long, dst long"), state
    )
    assert again["delta"] == 0 and again["total"] == running


def test_incremental_triangles_replay_after_crash(spark, tmp_path):
    """Round-5 ADVICE (medium): a fold that crashes between writing its
    edges and committing its total must be invisible — the retried batch
    recomputes against the pre-crash state and the running total stays
    exact (previously the edge append and total.json were two separate
    commits, so the retry anti-joined to delta=0 and undercounted
    forever)."""
    import os
    import shutil

    from parallel_connected_components_spark.operators.triangles import triangle_count
    from parallel_connected_components_spark.streaming.graph import (
        triangle_state_total,
        update_triangle_state,
    )

    # two interleaved batches with cross-batch triangles
    edges = [(i, (i + 1) % 30) for i in range(30)] + [(i, (i + 2) % 30) for i in range(30)]
    b1, b2 = edges[0::2], edges[1::2]
    state = str(tmp_path / "tri_crash")
    out1 = update_triangle_state(spark, spark.createDataFrame(b1, "src long, dst long"), state)

    # simulate a crash mid-fold of batch 2: edges land, the pointer swap
    # doesn't — roll the table's metadata pointer back to batch 1's
    meta = os.path.join(state, "edges", "_meta.json")
    shutil.copy(meta, meta + ".fold1")
    out2 = update_triangle_state(spark, spark.createDataFrame(b2, "src long, dst long"), state)
    assert os.path.isdir(os.path.join(state, "edges", "snap=1"))
    shutil.copy(meta + ".fold1", meta)

    # the uncommitted fold is invisible: state total == batch-1 total
    assert triangle_state_total(state) == out1["total"]

    # replay batch 2 (Structured Streaming re-runs the failed batch):
    # identical delta/total, the partial snap=1 simply overwritten
    out2_replay = update_triangle_state(
        spark, spark.createDataFrame(b2, "src long, dst long"), state
    )
    assert out2_replay == out2
    expected = triangle_count(spark, spark.createDataFrame(edges, "src long, dst long"))
    assert triangle_state_total(state) == expected

    # and a clean duplicate replay on top of the committed fold is a no-op
    again = update_triangle_state(
        spark, spark.createDataFrame(b2, "src long, dst long"), state
    )
    assert again["delta"] == 0 and again["total"] == expected
    shutil.rmtree(state)


def _chain_batches(spark):
    """Two directed edge batches over four 6-vertex chains; batch 2 joins
    pairs of chains, so its edges merge components of batch 1."""
    b1 = [(c * 10 + i, c * 10 + i + 1) for c in range(4) for i in range(5)]
    b2 = [(0, 10), (25, 35), (3, 1), (12, 14)]
    return b1, b2, [spark.createDataFrame(b, "src long, dst long") for b in (b1, b2)]


def test_full_state_tables_keep_only_the_latest_snapshot(spark, tmp_path):
    """Two CC folds and two PageRank folds leave one ``snap=`` directory in
    each full-state table (``labels``, ``ranks``, ``cc/labels``); the
    snapshot log keeps every entry, an expired snapshot does not load,
    and the delta table ``edges`` keeps every snapshot."""
    from parallel_connected_components_spark.sources.tables import TableLayer
    from parallel_connected_components_spark.streaming import graph as sg

    _, _, (d1, d2) = _chain_batches(spark)
    cc_state, pr_state = str(tmp_path / "cc_state"), str(tmp_path / "pr_state")
    for d in (d1, d2):
        sg.update_cc_state(spark, d, cc_state)
        sg.update_pagerank_state(spark, d, pr_state, tol=1e-4)
    sg._PR_EDGE_CACHE.pop(pr_state)["pinned"].edges.unpersist()

    def snap_dirs(root, name):
        return sorted(d for d in os.listdir(os.path.join(root, name)) if d.startswith("snap="))

    for root, name in (
        (cc_state, "labels"), (pr_state, "ranks"), (os.path.join(pr_state, "cc"), "labels")
    ):
        assert snap_dirs(root, name) == ["snap=1"], (root, name)
        tables = TableLayer(spark, root, backend="parquet")
        assert [s["snap"] for s in tables.snapshots(name)] == [0, 1]
        with pytest.raises(FileNotFoundError):
            tables.load(name, snap=0)
    assert snap_dirs(pr_state, "edges") == ["snap=0", "snap=1"]


def test_pagerank_fold_failing_in_cc_update_replays_into_cc_state(
    spark, tmp_path, monkeypatch
):
    """A PageRank fold that fails in its CC update must not lose the
    batch's edges from the CC side-state: the replay has to find them new
    again. The fold merges into the CC state before it commits the edges;
    committing first made the replay dedup to an empty delta and skip the
    CC update, leaving ``_rescale_by_component`` stale labels for good."""
    from parallel_connected_components_spark.operators.cc import union_find_oracle
    from parallel_connected_components_spark.streaming import graph as sg

    b1, b2, (d1, d2) = _chain_batches(spark)
    state = str(tmp_path / "pr_state")
    real, calls = sg.update_cc_state, []

    def failing_once(spark_, batch, state_dir):
        calls.append(state_dir)
        if len(calls) == 2:
            raise RuntimeError("CC update failed")
        return real(spark_, batch, state_dir)

    monkeypatch.setattr(sg, "update_cc_state", failing_once)
    sg.update_pagerank_state(spark, d1, state, tol=1e-4)
    with pytest.raises(RuntimeError, match="CC update failed"):
        sg.update_pagerank_state(spark, d2, state, tol=1e-4)
    sg.update_pagerank_state(spark, d2, state, tol=1e-4)  # the replay
    got = {
        r["vertex"]: r["label"]
        for r in sg.cc_state_labels(spark, os.path.join(state, "cc")).collect()
    }
    uf = union_find_oracle(b1 + b2)
    assert got == {v: uf.get(v, v) for v in {v for e in b1 + b2 for v in e}}
    assert len(calls) == 3  # the replay merged the batch into the CC state


def test_folds_leave_no_checkpoint_persisted(spark, tmp_path, monkeypatch):
    """A second fold of each kind leaves no new persisted RDD, except the
    PageRank fold's pinned edge cache (it replaces the first fold's), and
    the exact k-means fit leaves none: every one-shot checkpoint is
    released. So does a second fold whose inner step raises (CC's merge,
    the triangle enumeration, PageRank's CC update). Python GC is off so
    that a collection cannot free a leaked checkpoint during the check."""
    import gc

    from parallel_connected_components_spark.operators import cc, kmeans_fit, triangles
    from parallel_connected_components_spark.streaming import graph as sg

    _, _, (d1, d2) = _chain_batches(spark)
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    def boom(*args, **kwargs):
        raise RuntimeError("inner step failed")

    folds = {
        "cc": lambda d, st: sg.update_cc_state(spark, d, st),
        "triangles": lambda d, st: sg.update_triangle_state(spark, d, st),
        "pagerank": lambda d, st: sg.update_pagerank_state(spark, d, st, tol=1e-4),
    }
    failing = {"cc": (cc, "cc_two_phase"), "triangles": (triangles, "triangles"),
               "pagerank": (sg, "update_cc_state")}
    vecs = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    gc.disable()
    try:
        for kind, fold in folds.items():
            state = str(tmp_path / kind)
            fold(d1, state)
            before = persisted()
            with monkeypatch.context() as m:
                m.setattr(*failing[kind], boom)
                with pytest.raises(RuntimeError, match="inner step failed"):
                    fold(d2, state)
            assert persisted() - before == set(), (kind, "raised")
            fold(d2, state)
            left = persisted() - before
            if kind == "pagerank":
                # only the grown pinned edge cache; dropping it leaves nothing
                assert len(left) == 1, left
                sg._PR_EDGE_CACHE.pop(state)["pinned"].edges.unpersist()
                left = persisted() - before
            assert left == set(), (kind, sorted(left))
        before = persisted()
        kmeans_fit(vecs, k=2, n_iterations=3, sample_target=0)
        assert persisted() - before == set()
    finally:
        gc.enable()
