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

Usage: python scripts/skew_stress_bench.py [num_pages] [--md]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from parallel_connected_components_spark.plans.runner import task_skew_report  # noqa: E402
from parallel_connected_components_spark.session import get_spark  # noqa: E402

BEGIN_MARK = "<!-- hubskew:begin (auto-generated by scripts/skew_stress_bench.py) -->"
END_MARK = "<!-- hubskew:end -->"


def main(num_pages: int = 1_000_000, write_md: bool = False) -> dict:
    from parallel_connected_components_spark.operators import (
        canonicalize,
        cc_label_propagation,
        edges_from_pages,
        label_propagation_communities,
        pagerank,
        symmetrize,
    )
    from parallel_connected_components_spark.sources import gen_pages

    spark = get_spark("skew-stress")
    num_components = 64
    path = os.path.join(
        REPO, ".data", f"bench_hub_edges_v{num_pages}_c{num_components}"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        pages = gen_pages(
            spark, num_pages, num_components, links_per_page=6, seed=42, hub=True
        )
        canonicalize(edges_from_pages(pages)).write.mode("overwrite").parquet(path)
    edges = spark.read.parquet(path).localCheckpoint(eager=True)
    n_edges = edges.count()
    sym = symmetrize(edges, dedup=False).localCheckpoint(eager=True)

    ops = {
        "pagerank": lambda: pagerank(spark, edges, max_iterations=8)[0].count(),
        "lpa_8iter": lambda: label_propagation_communities(
            spark, sym, max_iterations=8
        )[0].count(),
        "cc_labelprop_frontier": lambda: cc_label_propagation(spark, sym)[0].count(),
    }
    results = {}
    for name, fn in ops.items():
        before = task_skew_report(spark, min_tasks=1, min_stage_ms=0)
        watermark = max((s["stage_id"] for s in before), default=-1)
        t0 = time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
        stages = [
            s
            for s in task_skew_report(spark, min_tasks=4, min_stage_ms=1000)
            if s["stage_id"] > watermark
        ]
        worst = stages[0] if stages else None
        results[name] = {
            "wall_s": round(wall, 1),
            "qualifying_stages": len(stages),
            "worst_ratio": round(worst["ratio"], 2) if worst else None,
            "worst_stage": worst,
            "top3": stages[:3],
        }
        print(name, json.dumps(results[name]))

    out = {"num_pages": num_pages, "n_edges": n_edges, "ops": results}
    print(json.dumps({k: v for k, v in out.items() if k != "ops"} | {
        "worst_ratios": {k: v["worst_ratio"] for k, v in results.items()}
    }))
    if write_md:
        _write_md(out)
    spark.stop()
    return out


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
{out['n_edges']} canonical edges) through PageRank (8 iters), LPA
(8 iters) and frontier-LP CC to convergence; per-stage task-runtime
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
    from mdsplice import splice_md

    splice_md(md, BEGIN_MARK, END_MARK, generated)


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 1_000_000
    main(n, write_md="--md" in sys.argv)
