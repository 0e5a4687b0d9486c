"""CLI entry point — the spark-submit deployment surface.

Usage (local):
    python -m parallel_connected_components_spark cc --pages <parquet> --out <dir>
Usage (cluster, per the north rule):
    spark-submit --py-files pccs.zip -m ... is equivalent to shipping this
    package and running the same subcommands; get_spark() defers to the
    launcher's master when SPARK_GRAFT_MASTER/spark-submit provides one.

Subcommands mirror the reference's three binaries (cc_sequential /
cc_openmp / cc_mpi all compute the same thing on one graph,
/root/reference/src/main.c:60-163) plus the target-only algorithms:

    gen        synthesize a deterministic pages table
    bucketize  one-time shuffle: write bucketed+sorted edge tables
    cc         connected components over a pages or edges table
               (--bucketed DIR scans a bucketize layout, zero exchange)
    scc        strongly connected components of the DIRECTED graph
               (trim+coloring; operators/scc.py)
    kcore      coreness (k-core decomposition) of the undirected graph
    bfs        multi-source hop distance (--seeds, optional --max-hops)
    anf        neighborhood-function sketches + effective diameter
    truss      per-edge truss numbers (staged k-truss peel)
    linkpred   top-k common-neighbor link prediction (--topk, --max-degree)
    pagerank   PageRank to 1e-6 (--bucketed supported)
    lpa        community label propagation
    triangles  triangle count
    stats      degree + component statistics
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F


from .operators import (
    canonicalize,
    cc_label_propagation,
    cc_two_phase,
    component_stats,
    count_components,
    degree_stats,
    edges_from_pages,
    label_propagation_communities,
    pagerank,
    symmetrize,
    triangle_count,
    vertices_from_pages,
)
from .session import get_spark
from .sources import gen_pages, read_mtx


def _load_edges(spark, args):
    if args.pages:
        pages = spark.read.parquet(args.pages)
        return edges_from_pages(pages), vertices_from_pages(pages)
    if args.edges:
        return spark.read.parquet(args.edges), None
    if args.mtx:
        edges, header = read_mtx(spark, args.mtx)
        # The reference allocates all n vertices from the MTX header
        # (graph_create over mtx dims, /root/reference/src/main.c), so
        # isolated vertices count as singleton components and receive
        # PageRank teleport mass. Deriving vertices from edges would
        # silently drop them — materialize the header's 0..n-1 range.
        verts = spark.range(header["num_vertices"]).select("id")
        return edges, verts
    raise SystemExit("one of --pages/--edges/--mtx is required")


def _bkt_table(dir_path: str, kind: str) -> str:
    """Catalog name for a bucketize-layout table: derived from the dir's
    basename (the load-time location check in sources/bucketed.py turns
    a same-name/different-dir collision into a loud error)."""
    import os
    import re

    base = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(os.path.abspath(dir_path)))
    return f"pccs_{base}_{kind}"


def _bucketed_vertices(spark, dir_path: str):
    """Vertex universe carried by a bucketize layout (meta.json records
    the MTX header range when the layout came from --mtx); None when the
    layout carries none — consumers then derive vertices from edges."""
    import os

    meta_path = os.path.join(dir_path, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path, "r", encoding="utf-8") as f:
            meta = json.load(f)
        if "num_vertices" in meta:
            return spark.range(meta["num_vertices"]).select("id")
    return None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="parallel_connected_components_spark")
    p.add_argument(
        "command",
        choices=[
            "gen", "bucketize", "cc", "scc", "pagerank", "lpa", "triangles",
            "kcore", "bfs", "anf", "truss", "linkpred", "stats",
        ],
    )
    p.add_argument("--pages", help="pages parquet path (url/warc_ts/html/text/lang)")
    p.add_argument("--edges", help="edges parquet path (src/dst)")
    p.add_argument("--mtx", help="Matrix Market file")
    p.add_argument(
        "--bucketed",
        metavar="DIR",
        help="a directory written by the bucketize subcommand; cc "
        "(labelprop/two_phase) and pagerank then scan the pre-bucketed "
        "sorted tables with ZERO edge exchange (the recurrent-job "
        "deployment path, BENCH/BASELINE.md bucketed section)",
    )
    p.add_argument(
        "--num-buckets",
        type=int,
        default=None,
        help="bucketize: bucket count (default: defaultParallelism; on a "
        "cluster pick ~2-4x total executor cores)",
    )
    p.add_argument("--out", help="output parquet dir (labels/ranks)")
    p.add_argument("--seeds", help="bfs: comma list of seed vertex ids")
    p.add_argument(
        "--max-hops", type=int, default=0,
        help="bfs: cap expansion at this many hops (0 = to exhaustion)",
    )
    p.add_argument(
        "--rounds", type=int, default=8,
        help="anf: sketch-propagation rounds (stops early at saturation)",
    )
    p.add_argument(
        "--topk", type=int, default=50,
        help="linkpred: number of top-scored candidate pairs",
    )
    p.add_argument(
        "--max-degree", type=int, default=None,
        help="linkpred: drop wedge middles above this degree (hub "
        "fan-out guard; unset = uncapped)",
    )
    p.add_argument("--num-pages", type=int, default=10000)
    p.add_argument("--num-components", type=int, default=8)
    p.add_argument("--links-per-page", type=int, default=3)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--checkpoint-dir", help="durable snapshot dir (resumable)")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--tol", type=float, default=1e-6)
    p.add_argument("--max-iterations", type=int, default=100)
    p.add_argument("--cores", type=int, default=None)
    p.add_argument(
        "--algorithm",
        choices=["auto", "two_phase", "stars", "labelprop", "afforest"],
        default="auto",
        help=(
            "CC variant (the reference's algorithm flag, main.c:60-163). "
            "auto (default) runs frontier labelprop — the fastest choice "
            "on web-shaped/low-diameter graphs — with a stall detector "
            "that hands high-diameter inputs (road networks) to O(log n) "
            "alternating stars; see BENCH/BASELINE.md 'High-diameter'. "
            "two_phase wins on graphs whose contracted form fits the "
            "driver merge (few-M vertices); it samples edge locality and "
            "range-partitions spatially-numbered ids (road networks: 1.7x "
            "over hash at 2M vertices). "
            "afforest is a faithful port kept for parity: measured SLOWER "
            "than labelprop on every graph shape tried on this substrate "
            "(BENCH/BASELINE.md skewed-graph shootout) — pick it only to "
            "cross-check results, not for speed."
        ),
    )
    args = p.parse_args(argv)

    spark = get_spark(f"pccs-{args.command}", cores=args.cores)
    out: dict = {"command": args.command}
    try:
        if args.command == "gen":
            if not args.out:
                raise SystemExit("gen requires --out")
            pages = gen_pages(
                spark, args.num_pages, args.num_components, args.links_per_page, args.seed
            )
            pages.write.mode("overwrite").parquet(args.out)
            out["pages"] = args.num_pages
        elif args.command == "bucketize":
            # one-time shuffle: write the canonical (directed-oriented)
            # and symmetrized edge sets as bucketed+sorted tables; every
            # later cc/pagerank --bucketed job scans them with zero edge
            # exchange (BENCH/BASELINE.md bucketed section)
            import os as _os

            from .sources import load_bucketed_edges, save_bucketed_edges

            if not args.out:
                raise SystemExit("bucketize requires --out")
            edges, verts = _load_edges(spark, args)
            n_b = save_bucketed_edges(
                spark, canonicalize(edges), _bkt_table(args.out, "canon"),
                _os.path.join(args.out, "canon"), num_buckets=args.num_buckets,
            )
            # derive sym from the JUST-WRITTEN canon table: one source
            # pass total (for --pages that source pass is the HTML link
            # extraction), and canon ∪ swap(canon) needs no dedup —
            # canonical orientation makes the two halves disjoint
            canon_scan, _ = load_bucketed_edges(spark, _bkt_table(args.out, "canon"))
            sym = canon_scan.union(
                canon_scan.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            save_bucketed_edges(
                spark, sym, _bkt_table(args.out, "sym"),
                _os.path.join(args.out, "sym"), num_buckets=args.num_buckets,
            )
            meta = {"num_buckets": n_b}
            if args.mtx:
                # carry the MTX header's vertex universe so --bucketed
                # consumers count isolated vertices (singleton
                # components, PageRank teleport mass) like the direct
                # --mtx path does
                meta["num_vertices"] = verts.count()
            with open(_os.path.join(args.out, "meta.json"), "w", encoding="utf-8") as f:
                json.dump(meta, f)
            out["num_buckets"] = n_b
            out["tables"] = {
                "canon": _bkt_table(args.out, "canon"),
                "sym": _bkt_table(args.out, "sym"),
            }
        elif args.command == "cc" and args.bucketed:
            import os as _os

            from .sources import pin_bucketed_edges

            if args.resume or args.checkpoint_dir:
                raise SystemExit(
                    "--bucketed does not support --resume/--checkpoint-dir; "
                    "use a plain input path for durable snapshots"
                )
            algo = "labelprop" if args.algorithm == "auto" else args.algorithm
            if algo == "labelprop":
                cc_fn, table = cc_label_propagation, "sym"
            elif algo == "two_phase":
                cc_fn, table = cc_two_phase, "canon"
            else:
                raise SystemExit(
                    "--bucketed supports --algorithm labelprop or two_phase"
                )
            e = pin_bucketed_edges(
                spark, _bkt_table(args.bucketed, table),
                _os.path.join(args.bucketed, table),
            )
            labels, runner = cc_fn(
                spark, e, vertices=_bucketed_vertices(spark, args.bucketed),
                max_iterations=args.max_iterations,
            )
            out["algorithm"] = algo
            out["num_components"] = count_components(labels)
            out["iterations"] = runner.num_iterations
            phases = runner.phase_iterations
            if set(phases) - {"main"}:
                out["phase_iterations"] = phases
            if args.out:
                labels.write.mode("overwrite").parquet(args.out)
        elif args.command == "cc":
            edges, verts = _load_edges(spark, args)
            if args.resume and args.algorithm in ("two_phase", "afforest", "auto"):
                # none is a single resumable fixpoint (multi-phase or
                # conditional pipelines); fail loudly instead of silently
                # recomputing
                raise SystemExit(
                    f"--resume is not supported for --algorithm {args.algorithm}; "
                    "use stars or labelprop"
                )
            if args.algorithm == "auto":
                from .operators import cc_auto

                labels, info = cc_auto(
                    spark, symmetrize(edges), vertices=verts,
                    checkpoint_dir=args.checkpoint_dir,
                    max_iterations=args.max_iterations,
                )
                runner = info["lp_runner"]
                out["auto_path"] = info["algorithm"]
                out["auto_iterations"] = {
                    "labelprop": info["lp_iterations"],
                    "finish": info["finish_iterations"],
                }
            elif args.algorithm == "stars":
                from .operators import cc_alternating_stars

                labels, runner = cc_alternating_stars(
                    spark, edges, vertices=verts,
                    checkpoint_dir=args.checkpoint_dir, resume=args.resume,
                    max_iterations=args.max_iterations,
                )
            elif args.algorithm == "labelprop":
                labels, runner = cc_label_propagation(
                    spark, symmetrize(edges), vertices=verts,
                    checkpoint_dir=args.checkpoint_dir, resume=args.resume,
                    max_iterations=args.max_iterations,
                )
            elif args.algorithm == "afforest":
                from .operators import cc_afforest

                labels, runner = cc_afforest(
                    spark, edges, vertices=verts, checkpoint_dir=args.checkpoint_dir,
                    max_iterations=args.max_iterations,
                )
            else:
                labels, runner = cc_two_phase(
                    spark, edges, vertices=verts, checkpoint_dir=args.checkpoint_dir,
                    max_iterations=args.max_iterations,
                    partition_by="auto",
                )
                out["partition_info"] = runner.partition_info
            out["algorithm"] = args.algorithm
            out["num_components"] = count_components(labels)
            out["iterations"] = runner.num_iterations
            phases = runner.phase_iterations
            if set(phases) - {"main"}:  # multi-phase algorithms: break it down
                out["phase_iterations"] = phases
            if args.out:
                labels.write.mode("overwrite").parquet(args.out)
        elif args.command == "scc":
            from .operators import scc as _scc

            edges, verts = _load_edges(spark, args)
            labels, sinfo = _scc(
                spark, edges,
                # header range only (superset guarantee, as pagerank/lpa)
                vertices=verts if args.mtx else None,
            )
            out["num_sccs"] = count_components(labels)
            out["rounds"] = sinfo["rounds"]
            out["color_steps"] = sinfo["color_steps"]
            out["mark_steps"] = sinfo["mark_steps"]
            if args.out:
                labels.write.mode("overwrite").parquet(args.out)
        elif args.command == "pagerank" and args.bucketed:
            import os as _os

            from .sources import pin_bucketed_edges

            if args.resume or args.checkpoint_dir:
                raise SystemExit(
                    "--bucketed does not support --resume/--checkpoint-dir; "
                    "use a plain input path for durable snapshots"
                )
            e = pin_bucketed_edges(
                spark, _bkt_table(args.bucketed, "canon"),
                _os.path.join(args.bucketed, "canon"),
            )
            ranks, runner = pagerank(
                spark, e, tol=args.tol, max_iterations=args.max_iterations,
                vertices=_bucketed_vertices(spark, args.bucketed),
            )
            out["iterations"] = runner.num_iterations
            out["l1_delta"] = runner.metrics[-1].extra.get("l1_delta")
            if args.out:
                ranks.write.mode("overwrite").parquet(args.out)
        elif args.command == "pagerank":
            edges, verts = _load_edges(spark, args)
            ranks, runner = pagerank(
                spark,
                canonicalize(edges),
                tol=args.tol,
                max_iterations=args.max_iterations,
                checkpoint_dir=args.checkpoint_dir,
                resume=args.resume,
                # only the MTX header range is guaranteed a SUPERSET of
                # the edge endpoints (pagerank's vertices contract); the
                # pages vertex table is not — uncrawled href targets are
                # endpoints too, and passing a non-superset would leak
                # their rank mass
                vertices=verts if args.mtx else None,
            )
            out["iterations"] = runner.num_iterations
            out["l1_delta"] = runner.metrics[-1].extra.get("l1_delta")
            if args.out:
                ranks.write.mode("overwrite").parquet(args.out)
        elif args.command == "lpa":
            edges, verts = _load_edges(spark, args)
            labels, runner = label_propagation_communities(
                spark, symmetrize(edges), max_iterations=min(args.max_iterations, 20),
                # MTX header range only (superset guarantee, as pagerank)
                vertices=verts if args.mtx else None,
            )
            out["num_communities"] = count_components(labels)
            out["iterations"] = runner.num_iterations
            if args.out:
                labels.write.mode("overwrite").parquet(args.out)
        elif args.command == "triangles":
            edges, _ = _load_edges(spark, args)
            out["triangles"] = triangle_count(spark, edges, orient_by_degree=True)
        elif args.command == "kcore":
            from .operators import coreness as _coreness

            edges, verts = _load_edges(spark, args)
            cores, runner = _coreness(
                spark, symmetrize(edges),
                # MTX header range only (superset guarantee, as pagerank)
                vertices=verts if args.mtx else None,
            )
            row = cores.agg(
                F.max("core").alias("mx"),
                F.sum(F.when(F.col("core") >= 2, 1).otherwise(0)).alias("c2"),
            ).collect()[0]
            out["max_core"] = row["mx"]
            out["vertices_core_ge2"] = row["c2"]
            out["rounds"] = runner.num_iterations
            if args.out:
                cores.write.mode("overwrite").parquet(args.out)
        elif args.command == "anf":
            from .operators import anf as _anf
            from .operators import effective_diameter as _effdiam

            edges, verts = _load_edges(spark, args)
            sketches, runner = _anf(
                spark, symmetrize(edges), rounds=args.rounds,
                # MTX header range only (superset guarantee, as pagerank)
                vertices=verts if args.mtx else None,
            )
            sketches.count()  # drive the loop; metrics carry N(t)
            out["rounds"] = runner.num_iterations
            out["neighborhood_function"] = [
                round(m.extra["neighborhood_function"], 1)
                for m in runner.metrics
                if "neighborhood_function" in m.extra
            ]
            out["effective_diameter_90"] = _effdiam(runner, ratio=0.9)
            if args.out:
                sketches.write.mode("overwrite").parquet(args.out)
        elif args.command == "bfs":
            from .operators import bfs_hops as _bfs

            if not args.seeds:
                raise SystemExit("bfs requires --seeds id[,id...]")
            edges, _ = _load_edges(spark, args)
            seed_ids = [int(s) for s in args.seeds.split(",") if s.strip()]
            seeds = spark.createDataFrame([(s,) for s in seed_ids], "id long")
            dists, runner = _bfs(
                spark, edges, seeds,
                max_hops=args.max_hops if args.max_hops > 0 else None,
            )
            out["reached"] = dists.count()
            out["rounds"] = runner.num_iterations
            if args.out:
                dists.write.mode("overwrite").parquet(args.out)
        elif args.command == "truss":
            from .operators import truss_decomposition as _truss

            edges, _ = _load_edges(spark, args)
            # degree orientation, as the triangles subcommand: crawl hubs
            # sit at arbitrary ids (measured 32x on a 40k-degree mid-id
            # hub, BENCH/BASELINE.md truss-family section)
            tr, info = _truss(spark, edges, orient_by_degree=True)
            out["max_truss"] = info["max_truss"]
            out["stage_rounds"] = {str(k): v for k, v in info["stage_rounds"].items()}
            out["truss_histogram"] = sorted(
                (r["truss"], r["count"]) for r in tr.groupBy("truss").count().collect()
            )
            if args.out:
                tr.write.mode("overwrite").parquet(args.out)
        elif args.command == "linkpred":
            from .operators import link_prediction_topk as _lp

            edges, _ = _load_edges(spark, args)
            # scale mode (associative RA sum) — the ordered-fold variant is
            # the oracle-verification mode (operators/linkpred.py docstring)
            lp = _lp(
                spark, edges, k=args.topk, max_degree=args.max_degree,
                exact_fold=False,
            )
            rows = lp.collect()
            out["pairs"] = [
                [r.src, r.dst, r.common_neighbors, round(r.jaccard, 6)] for r in rows
            ]
            if args.out:
                lp.write.mode("overwrite").parquet(args.out)
        elif args.command == "stats":
            edges, verts = _load_edges(spark, args)
            out["degrees"] = degree_stats(symmetrize(edges)).collect()[0].asDict()
            labels, _ = cc_two_phase(spark, edges, vertices=verts)
            out["components"] = component_stats(labels).collect()[0].asDict()
        print(json.dumps(out))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
