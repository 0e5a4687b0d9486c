"""Hub-skew stress for the three iterative ops (VERDICT r3 item 5).

The hub graph (`gen_pages(hub=True)`: 64 block roots with ~94k in-degree
each at 1M pages) already backs the CC algorithm shootout; this harness
runs PageRank, LPA and frontier-LP CC over the same graph and reads the
executed stages' task-runtime distribution from the app-status store
(`plans/runner.py:task_skew_report`). The straggler signature of a hub
key that defeats the partitioner is one long task on the
repartition/groupBy exchange — the criterion is max/median task time
≤ ~4x on every qualifying stage (same floor/threshold semantics as the
reference's per-thread work-imbalance print,
/root/reference/src/pthreads/afforest_simple.c:622-649).

``run(spark, num_pages)`` measures one graph size and returns the
result; tests/test_scripts.py runs it on a toy graph.

Usage: python scripts/skew_stress_bench.py [num_pages] [--md]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from parallel_connected_components_spark.operators import (  # noqa: E402
    canonicalize,
    cc_label_propagation,
    edges_from_pages,
    label_propagation_communities,
    pagerank,
    symmetrize,
)
from parallel_connected_components_spark.plans.runner import (  # noqa: E402
    release,
    task_skew_report,
)
from parallel_connected_components_spark.session import get_spark  # noqa: E402
from parallel_connected_components_spark.sources import gen_pages  # noqa: E402
from scripts.mdsplice import splice_md  # noqa: E402

BEGIN_MARK = "<!-- hubskew:begin (auto-generated by scripts/skew_stress_bench.py) -->"
END_MARK = "<!-- hubskew:end -->"


def run(
    spark, num_pages: int, iterations: int = 8, min_stage_ms: int = 1000
) -> dict:
    """Run PageRank and LPA for ``iterations`` iterations and frontier-LP
    CC to convergence over a ``num_pages``-page hub graph → per op its
    wall time, the stages of ≥4 tasks whose longest task took at least
    ``min_stage_ms``, and the worst max/median task-time ratio among them."""
    num_components = 64
    pages = gen_pages(
        spark, num_pages, num_components, links_per_page=6, seed=42, hub=True
    )
    edges = canonicalize(edges_from_pages(pages)).localCheckpoint(eager=True)
    n_edges = edges.count()
    sym = symmetrize(edges, dedup=False).localCheckpoint(eager=True)

    ops = {
        "pagerank": lambda: pagerank(spark, edges, max_iterations=iterations)[0],
        "lpa_8iter": lambda: label_propagation_communities(
            spark, sym, max_iterations=iterations
        )[0],
        "cc_labelprop_frontier": lambda: cc_label_propagation(spark, sym)[0],
    }
    sc = spark.sparkContext
    results = {}
    for name, fn in ops.items():
        tag = f"skew-stress-{name}"
        sc.addJobTag(tag)
        try:
            t0 = time.perf_counter()
            out = fn()
            out.count()
            wall = time.perf_counter() - t0
        finally:
            sc.removeJobTag(tag)
        release(out)
        stages = task_skew_report(
            spark, min_tasks=4, min_stage_ms=min_stage_ms,
            stage_ids={
                sid for job in sc._jsc.sc().statusTracker().getJobIdsForTag(tag)
                for sid in sc.statusTracker().getJobInfo(job).stageIds
            },
        )
        worst = stages[0] if stages else None
        results[name] = {
            "wall_s": round(wall, 1),
            "qualifying_stages": len(stages),
            "worst_ratio": round(worst["ratio"], 2) if worst else None,
            "worst_stage": worst,
            "top3": stages[:3],
        }
        print(name, json.dumps(results[name]))
    release(sym)
    release(edges)
    return {
        "num_pages": num_pages, "n_edges": n_edges, "iterations": iterations,
        "ops": results,
    }


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 1_000_000
    spark = get_spark("skew-stress")
    out = run(spark, n)
    print(json.dumps({k: v for k, v in out.items() if k != "ops"} | {
        "worst_ratios": {k: v["worst_ratio"] for k, v in out["ops"].items()}
    }))
    if "--md" in sys.argv:
        _write_md(out)
    spark.stop()


def _write_md(out: dict) -> None:
    md = os.path.join(REPO, "BENCH", "BASELINE.md")
    lines = [
        "| operator | wall (s) | stages ≥1s | worst max/median task time | worst stage |",
        "|---|---|---|---|---|",
    ]
    for name, r in out["ops"].items():
        w = r["worst_stage"]
        detail = (
            f"{w['tasks']} tasks, p50 {w['p50_ms']:.0f} ms, max {w['max_ms']:.0f} ms"
            if w
            else "—"
        )
        lines.append(
            f"| {name} | {r['wall_s']} | {r['qualifying_stages']} | "
            f"{r['worst_ratio'] if r['worst_ratio'] is not None else '—'} | {detail} |"
        )
    table = "\n".join(lines)
    generated = f"""{BEGIN_MARK}

## Hub-skew task-time balance for the iterative ops (round 4)

Hub graph ({out['num_pages']} pages, 64 block-root hubs of ~94k degree,
{out['n_edges']} canonical edges) through PageRank ({out['iterations']} iters), LPA
({out['iterations']} iters) and frontier-LP CC to convergence; per-stage task-runtime
distributions read from the app-status store after each run. Criterion:
max/median task time ≤ ~4x on every stage with ≥4 tasks and ≥1 s max —
a hub key that defeated the partitioning would show as one long task on
the repartition exchange.

{table}

A — row means no stage of that run even reached the 1 s floor
(frontier CC's stages on this graph are all sub-second — nothing
long enough to straggle).

CC, PageRank, BFS, ANF and harmonic centrality aggregate per-vertex
state map-side partially (a hub's messages combine within each upstream
task before the exchange), so a hub's work is spread across upstream
tasks rather than landing on one reducer. LPA exchanges its (vertex,
label) counts uncombined, and the loops run with AQE off, so no runtime
skew-join splitting covers the message join. The salted two-stage
pattern (`operators/skew.py`) stays reserved for order-sensitive top-k,
where partial aggregation can't help.
{END_MARK}"""
    splice_md(md, BEGIN_MARK, END_MARK, generated)


if __name__ == "__main__":
    main()
