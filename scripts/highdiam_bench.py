"""High-diameter (road-network regime) CC shootout + auto-selection evidence.

The reference validates on road networks — roadNet-CA 1.9M V, europe_osm
50M V (/root/reference/README.md:120-123) — whose diameter is O(sqrt V):
the regime where O(diameter) frontier label propagation degenerates.
This script produces the measured evidence VERDICT r3 asked for:

1. mid-size grid (runs everything to completion, including plain LP);
2. road-scale grid (~2M vertices, diameter ~3000 — roadNet-CA's size
   class): stars / two-phase / cc_auto to completion, LP *capped* with
   its measured sec/iter extrapolated to the full diameter (running it
   out would take hours — that is the point).

``run(spark, width, height, ...)`` measures one grid size and returns its
rows; tests/test_scripts.py runs it on a toy grid. With ``--md`` the
results splice into BENCH/BASELINE.md between the highdiam markers.

Usage: python scripts/highdiam_bench.py [--small-only] [--cores N] [--md]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from parallel_connected_components_spark.operators.cc import (  # noqa: E402
    cc_alternating_stars,
    cc_auto,
    cc_label_propagation,
    cc_two_phase,
    count_components,
)
from parallel_connected_components_spark.operators.graph import symmetrize  # noqa: E402
from parallel_connected_components_spark.plans.runner import release  # noqa: E402
from parallel_connected_components_spark.session import get_spark  # noqa: E402
from parallel_connected_components_spark.sources.grids import (  # noqa: E402
    gen_grid_edges,
    grid_diameter,
)
from scripts.mdsplice import splice_md  # noqa: E402

BEGIN_MARK = "<!-- highdiam:begin (auto-generated by scripts/highdiam_bench.py) -->"
END_MARK = "<!-- highdiam:end -->"


def check_exact(labels, width: int, height: int, num_grids: int) -> None:
    """Distributed exactness check against the by-construction component
    formula (min id of the grid block)."""
    n = width * height
    bad = labels.where(
        F.col("label") != (F.col("vertex") - F.pmod(F.col("vertex"), F.lit(n)))
    ).count()
    assert bad == 0, f"{bad} mislabeled vertices"
    assert count_components(labels) == num_grids


def run(
    spark, width: int, height: int, num_grids: int = 1, lp_cap: int | None = None
) -> dict:
    """Run every CC algorithm on ``num_grids`` ``width`` x ``height`` grids
    → the grid's sizes and one result row per algorithm. ``lp_cap`` caps
    plain LP and extrapolates its time over the diameter."""
    diam = grid_diameter(width, height)
    edges = symmetrize(
        gen_grid_edges(spark, width, height, num_grids=num_grids)
    ).localCheckpoint(eager=True)
    n_edges = edges.count()
    print(
        f"--- grid {width}x{height} x{num_grids}: "
        f"{num_grids * width * height} V, {n_edges} sym edges, diameter {diam}"
    )
    out = []

    def timed(name, fn, check=True, extrapolate=False):
        t0 = time.perf_counter()
        labels, meta = fn()
        dt = time.perf_counter() - t0
        row = {"algorithm": name, "sec": round(dt, 1), **meta}
        if check:
            check_exact(labels, width, height, num_grids)
            row["exact"] = True
        if extrapolate:
            per_iter = dt / max(1, meta["iterations"])
            row["sec_per_iter"] = round(per_iter, 2)
            row["projected_sec"] = round(per_iter * diam)
        out.append(row)
        print(f"    {name}: {row}")

    def iterations(result):
        return result[0], {"iterations": result[1].num_iterations}

    if lp_cap is None:
        timed(
            "labelprop (full)",
            lambda: iterations(
                cc_label_propagation(spark, edges, max_iterations=diam + 10)
            ),
        )
    else:
        # capped: measures per-iteration cost only; labels are mid-flight
        # (not checked); total extrapolated over the diameter
        def capped():
            labels, meta = iterations(cc_label_propagation(
                spark, edges, max_iterations=lp_cap, raise_on_cap=False
            ))
            labels.count()  # materialization parity with the full runs
            return labels, {**meta, "capped": True}

        timed(f"labelprop (capped at {lp_cap} iters)", capped, check=False,
              extrapolate=True)

    timed(
        "alternating stars",
        lambda: iterations(cc_alternating_stars(spark, edges.where("src < dst"))),
    )
    timed(
        "two-phase (local UF + stars)",
        lambda: iterations(cc_two_phase(spark, edges.where("src < dst"))),
    )

    def auto():
        labels, info = cc_auto(spark, edges)
        return labels, {
            "iterations": info["lp_iterations"] + info["finish_iterations"],
            "path": info["algorithm"],
            "lp_iters": info["lp_iterations"],
            "finish_iters": info["finish_iterations"],
            "partition": (info.get("partition_info") or {}).get("selected"),
        }

    timed("cc_auto (LP -> stall -> two_phase auto)", auto)
    release(edges)
    return {
        "width": width, "height": height, "num_grids": num_grids,
        "diameter": diam, "n_edges": n_edges,
        "n_vertices": num_grids * width * height, "rows": out,
    }


def _table(res: dict) -> str:
    lines = [
        f"### {res['width']}x{res['height']} grid x{res['num_grids']} "
        f"({res['n_vertices']} V, {res['n_edges']} sym edges, diameter {res['diameter']})",
        "",
        "| algorithm | seconds | iterations | notes |",
        "|---|---|---|---|",
    ]
    for r in res["rows"]:
        notes = []
        if r.get("capped"):
            notes.append(
                f"{r['sec_per_iter']} s/iter -> ~{r['projected_sec']} s projected "
                f"over the full diameter"
            )
        if r.get("path"):
            notes.append(
                f"path={r['path']} ({r['lp_iters']} LP + "
                f"{r['finish_iters']} two-phase finish rounds"
                + (f", {r['partition']} partitioning)" if r.get("partition") else ")")
            )
        if r.get("exact"):
            notes.append("labels exact")
        lines.append(
            f"| {r['algorithm']} | {r['sec']} | {r['iterations']} | {'; '.join(notes)} |"
        )
    return "\n".join(lines)


def write_md(results: list[dict], cores: int) -> None:
    md = os.path.join(REPO, "BENCH", "BASELINE.md")
    sections = "\n\n".join(_table(r) for r in results)
    generated = f"""{BEGIN_MARK}

## High-diameter (road-network) regime: measured, and auto-selected

The reference's own validation graphs are road networks (roadNet-CA
1.9M V, europe_osm 50M V — diameter O(sqrt V), ~500-25000). Frontier
label propagation is O(diameter) rounds; alternating stars is O(log n).
Measured on deterministic grid graphs (components by construction,
`sources/grids.py`) at local[{cores}], labels verified exact against the
by-construction component formula:

{sections}

Reading: on the last grid plain LP's projected wall time is
**~{results[-1]['rows'][0].get('projected_sec', '?')} s** (diameter x
sec/iter). `cc_auto` keeps the web-graph fast path, where its stall
detector never fires and it IS frontier LP, and escapes the lattice
regime: the detector (changed count not decaying over a 3-round window)
fires after a few LP rounds, the mid-flight labels contract the graph,
and two-phase finishes it under `partition_by="auto"`, which samples
edge locality and picks range on spatially-numbered ids and hash
otherwise (the notes column names the pick). Two-phase merges in one
driver union-find while the contracted graph fits under
`cc.FINAL_LOCAL_THRESHOLD` (2M rows), and in distributed star rounds above.
{END_MARK}"""
    splice_md(md, BEGIN_MARK, END_MARK, generated)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small-only", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--md", action="store_true",
                    help="splice the results into BENCH/BASELINE.md")
    args = ap.parse_args()
    spark = get_spark("highdiam-bench", cores=args.cores)
    results = [run(spark, 220, 150, num_grids=2)]
    if not args.small_only:
        results.append(run(spark, 2000, 1000, lp_cap=10))
    print(json.dumps(results))
    if args.md:
        write_md(results, int(spark.conf.get("spark.default.parallelism")))
    spark.stop()


if __name__ == "__main__":
    main()
