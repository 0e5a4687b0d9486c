"""SuiteSparse-path validation at reference scale (round-5 VERDICT item
8): the closest sandbox analog of the reference's own validation run
(roadNet-CA through its downloader + CC,
/root/reference/README.md:120-123).

Pipeline, all through public surfaces:
1. generate a roadNet-CA-sized road-network analog (1400x1400 grid:
   1.96M vertices, 3.92M edges — roadNet-CA is 1.97M V / 2.77M E) and
   sink it with write_mtx;
2. pack it into the SuiteSparse archive layout (NAME/NAME.mtx tarball)
   and pull it back through fetch_matrix via a file:// URL — the same
   code path a real collection download takes;
3. drive `python -m parallel_connected_components_spark cc --mtx ...`
   (the spark-submit deployment surface) for --algorithm auto and
   two_phase --two-phase-partition range, capturing the CLI's own JSON.

Usage: python scripts/suitesparse_scale_bench.py
Prints one JSON line; BENCH/BASELINE.md quotes it.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tarfile
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GRID_SIDE = 1400  # 1.96M vertices — roadNet-CA scale


def main() -> None:
    from parallel_connected_components_spark.session import get_spark
    from parallel_connected_components_spark.sources.grids import gen_grid_edges
    from parallel_connected_components_spark.sources.mtx import read_mtx_header, write_mtx
    from parallel_connected_components_spark.sources.suitesparse import fetch_matrix

    work = tempfile.mkdtemp(prefix="ss_scale_")
    out: dict = {"grid_side": GRID_SIDE}
    try:
        # 1. generate + export (own session, stopped before the CLI runs)
        spark = get_spark("ss_scale_gen")
        t0 = time.perf_counter()
        edges = gen_grid_edges(spark, GRID_SIDE, GRID_SIDE)
        n_vertices = GRID_SIDE * GRID_SIDE
        stem_dir = os.path.join(work, "road_scale")
        os.makedirs(stem_dir)
        mtx_path = os.path.join(stem_dir, "road_scale.mtx")
        write_mtx(edges, n_vertices, mtx_path)
        out["gen_write_sec"] = round(time.perf_counter() - t0, 2)
        out["n_vertices"] = n_vertices
        hdr = read_mtx_header(mtx_path)
        out["nnz"] = hdr["nnz"]
        spark.stop()

        # 2. archive in the collection layout, fetch through the public path
        tar_path = os.path.join(work, "road_scale.tar.gz")
        with tarfile.open(tar_path, "w:gz") as tf:
            tf.add(stem_dir, arcname="road_scale")
        fetched_dir = os.path.join(work, "fetched")
        t0 = time.perf_counter()
        fetched_mtx = fetch_matrix(fetched_dir, url=f"file://{tar_path}")
        out["fetch_extract_sec"] = round(time.perf_counter() - t0, 2)

        # 3. CLI end-to-end (fresh JVM each — the deployment surface)
        for label, argv in (
            ("auto", ["cc", "--mtx", fetched_mtx, "--algorithm", "auto"]),
            (
                "two_phase_range",
                ["cc", "--mtx", fetched_mtx, "--algorithm", "two_phase",
                 "--two-phase-partition", "range"],
            ),
        ):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, "-m", "parallel_connected_components_spark", *argv],
                capture_output=True, text=True, cwd=REPO, timeout=1800,
            )
            wall = round(time.perf_counter() - t0, 2)
            if proc.returncode != 0:
                out[f"cli_{label}_error"] = proc.stderr[-800:]
                continue
            cli = json.loads(proc.stdout.strip().splitlines()[-1])
            assert cli["num_components"] == 1, cli
            out[f"cli_{label}_wall_sec"] = wall
            out[f"cli_{label}"] = {
                k: v for k, v in cli.items()
                if k in ("num_components", "iterations", "auto_path",
                         "auto_iterations", "phase_iterations", "seconds")
            }
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
