"""Capture the executed step plans of iterations 0 and 1 of each
message-passing loop, and check that they exchange alike.

Builds the bench.py pages graph for a scale factor (100k pages at sf0.1),
runs CC label propagation, PageRank to 1e-6, 4-hop BFS, 6-round ANF,
6-round harmonic centrality, 8-iteration LPA, coreness and SCC on it,
and writes the formatted executed plan of each loop's iteration-1 step
to ``<out_dir>/<query>.txt`` and of its iteration-0 step to
``<out_dir>/<query>_it0.txt``. SCC contributes two captures, its
coloring LP and its backward-mark BFS.

The plan is read from the frame the runner materialized (the step with
its Observation attached), so it is the plan the loop ran, under the
loop's session settings. Each loop's state is born co-partitioned with
its messages and keeps that partitioning, so every step runs one hash
Exchange (outside the cached edge scan), for its messages; the script
prints the counts of iterations 0 and 1 and exits 1 if any loop's
differ or its iteration 1 runs more than one.

Usage: python scripts/capture_step_plans.py <out_dir> [sf]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from parallel_connected_components_spark.plans.runner import FixpointRunner  # noqa: E402
from parallel_connected_components_spark.session import get_spark  # noqa: E402

HEADER = (
    "Executed plan of iteration {{it}}'s step (captured inside the fixpoint loop "
    "after the iteration ran). Graph: bench sf{sf} pages ({pages} pages, "
    "{edges} canonical edges), local[{cores}].\n\n"
)


def record_steps() -> dict:
    """Wrap FixpointRunner so every frame a loop materializes is kept:
    {runner name: [{iteration: df}, ...]}, one dict per loop run. The
    wrapped method is the one that attaches the Observation: the step's
    own return value is a different DataFrame that never executes."""
    runs: dict = {}
    run, observed = FixpointRunner.run, FixpointRunner._observed

    def recording_run(self, *args, **kwargs):
        self._recorded = {}
        runs.setdefault(self.name, []).append(self._recorded)
        return run(self, *args, **kwargs)

    def recording_observed(self, step_df, observe, it):
        df, obs = observed(self, step_df, observe, it)
        self._recorded[it] = df
        return df, obs

    FixpointRunner.run = recording_run
    FixpointRunner._observed = recording_observed
    return runs


def hash_exchanges(df) -> int:
    """Hash Exchanges in ``df``'s executed plan, not counting the cached
    edge table's own (a cached scan's inner plan is not a child)."""

    def walk(node):
        yield node
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i))

    return sum(
        1 for n in walk(df._jdf.queryExecution().executedPlan())
        if n.nodeName() == "Exchange" and "hashpartitioning" in n.simpleString(100)
    )


def formatted(df) -> str:
    qe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return qe.explainString(mode.fromString("formatted"))


def main(out_dir: str, sf: float = 0.1) -> int:
    from bench import cached_pages

    from parallel_connected_components_spark.operators import (
        anf,
        bfs_hops,
        canonicalize,
        cc_label_propagation,
        coreness,
        edges_from_pages,
        harmonic_centrality,
        label_propagation_communities,
        pagerank,
        scc,
        symmetrize,
    )

    spark = get_spark("capture-step-plans")
    cores = spark.sparkContext.defaultParallelism
    pages = spark.read.parquet(cached_pages(spark, sf))
    edges_raw = edges_from_pages(pages).localCheckpoint(eager=True)
    edges_canon = canonicalize(edges_raw).localCheckpoint(eager=True)
    edges_sym = symmetrize(edges_canon, dedup=False).localCheckpoint(eager=True)
    header = HEADER.format(
        sf=sf, pages=pages.count(), edges=edges_canon.count(), cores=cores
    )
    runs = record_steps()

    cc_label_propagation(spark, edges_sym)
    pagerank(spark, edges_canon, tol=1e-6, max_iterations=60)
    seeds = edges_sym.select(F.col("src").alias("id")).distinct().orderBy("id").limit(32)
    bfs_hops(spark, edges_sym, seeds, max_hops=4)
    anf(spark, edges_sym, rounds=6)
    harmonic_centrality(spark, edges_sym, rounds=6)
    label_propagation_communities(spark, edges_sym, max_iterations=8)
    coreness(spark, edges_sym)
    captures = {
        "cc_labelprop": runs["cc_lp"][0],
        "pagerank_1e6": runs["pagerank"][0],
        "khop4_bfs": runs["bfs_hops"][0],
        "anf6": runs["anf"][0],
        "harmonic6": runs["harmonic"][0],
        "lpa_8iter": runs["lpa"][0],
        "coreness": runs["coreness"][0],
    }
    runs.clear()
    scc(spark, edges_raw)
    captures["scc_coloring_lp"] = runs["cc_lp"][0]
    captures["scc_backward_mark_lp"] = runs["bfs_hops"][0]

    os.makedirs(out_dir, exist_ok=True)
    bad = []
    for name, steps in captures.items():
        for it, suffix in ((1, ""), (0, "_it0")):
            with open(os.path.join(out_dir, f"{name}{suffix}.txt"), "w") as f:
                f.write(header.format(it=it) + formatted(steps[it]))
        counts = [hash_exchanges(steps[it]) for it in (0, 1)]
        print(name, "hash exchanges at iterations 0 and 1:", *counts)
        if counts[0] != counts[1] or counts[1] > 1:
            bad.append(name)
    spark.stop()
    if bad:
        print("iteration 0 differs from iteration 1 or a step re-exchanges its state:", *bad)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1))
