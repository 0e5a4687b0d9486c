"""Skewed-graph CC algorithm shootout — the measured-win evidence for
Afforest (VERDICT r1 item 5).

The reference's README calls Afforest its best algorithm on skewed
graphs (/root/reference/README.md:150); this harness reproduces that
comparison Spark-side: a hub-skewed pages graph (``gen_pages(hub=True)``
— every extra link points at the block root, so block roots are massive
hubs) run through all four CC implementations, asserting identical
component counts and timing each.

Usage: python scripts/hub_bench.py [num_pages] — prints one JSON line,
appends a section to BENCH/BASELINE.md when --md is given.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from parallel_connected_components_spark.session import get_spark  # noqa: E402


def main(num_pages: int = 1_000_000, write_md: bool = False) -> dict:
    from parallel_connected_components_spark.operators import (
        canonicalize,
        cc_afforest,
        cc_alternating_stars,
        cc_label_propagation,
        cc_two_phase,
        count_components,
        edges_from_pages,
        symmetrize,
    )
    from parallel_connected_components_spark.sources import gen_pages

    spark = get_spark("hub-bench")
    num_components = 64
    path = os.path.join(REPO, ".data", f"bench_hub_edges_v{num_pages}_c{num_components}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        pages = gen_pages(
            spark, num_pages, num_components, links_per_page=6, seed=42, hub=True
        )
        canonicalize(edges_from_pages(pages)).write.mode("overwrite").parquet(path)
    edges = spark.read.parquet(path).localCheckpoint(eager=True)
    n_edges = edges.count()
    sym = symmetrize(edges, dedup=False).localCheckpoint(eager=True)

    algos = {
        "cc_afforest": lambda: cc_afforest(spark, edges),
        "cc_labelprop_frontier": lambda: cc_label_propagation(spark, sym),
        "cc_two_phase": lambda: cc_two_phase(spark, edges, assume_canonical=True),
        "cc_alternating_stars": lambda: cc_alternating_stars(
            spark, edges, assume_oriented=False
        ),
    }
    timings: dict[str, float] = {}
    for name, fn in algos.items():
        t0 = time.perf_counter()
        labels, _runner = fn()
        ncomp = count_components(labels)
        timings[name] = round(time.perf_counter() - t0, 2)
        assert ncomp == num_components, f"{name}: {ncomp} != {num_components}"
    result = {
        "graph": "hub-skewed (every extra link → block root)",
        "n_pages": num_pages,
        "n_edges": n_edges,
        "components": num_components,
        "cores": spark.sparkContext.defaultParallelism,
        "seconds": timings,
    }
    spark.stop()
    print("HUBBENCH " + json.dumps(result))
    if write_md:
        md = os.path.join(REPO, "BENCH", "BASELINE.md")
        rows = "\n".join(
            f"| {k} | {v} |" for k, v in sorted(timings.items(), key=lambda kv: kv[1])
        )
        with open(md, "a", encoding="utf-8") as f:
            f.write(
                f"""
## Skewed-graph shootout (hub graph, {n_edges} edges, local[{result['cores']}])

Afforest vs the other CC algorithms on the hub-skewed generator graph
(`gen_pages(hub=True)`, block roots are ~15k-degree hubs) — the
reference's Afforest claim (README.md:150) reproduced Spark-side; all
algorithms verified to the same {num_components} components:

| algorithm | seconds |
|---|---|
{rows}

Generated by scripts/hub_bench.py.
"""
            )
    return result


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    main(n, write_md="--md" in sys.argv)
