"""Bucketed-vs-pinned edge deployment A/B at 18M canonical edges
(36M symmetrized): how much of a cold CC job is the pin exchange, and
does the bucketed table (sources/bucketed.py) actually remove it?

Three measured legs, same session, same input, same LP loop:
  pin      — pin_edges (full src repartition of the sym table) + LP
  bucketed — pin_bucketed_edges (bucket-aligned scan, no exchange) + LP
  write    — the one-time save_bucketed_edges cost (amortized over jobs)

``run(spark, edges, work_dir, reps)`` measures one edge table and
returns the result; tests/test_scripts.py runs it on a toy graph.

Usage: python scripts/bucketed_bench.py [edges_parquet] [reps] [--md]
Prints one JSON line; with ``--md`` splices the bucketed section of
BENCH/BASELINE.md.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from parallel_connected_components_spark.operators import (  # noqa: E402
    cc_label_propagation,
    count_components,
    symmetrize,
)
from parallel_connected_components_spark.operators.graph import pin_edges  # noqa: E402
from parallel_connected_components_spark.plans.runner import release  # noqa: E402
from parallel_connected_components_spark.session import get_spark  # noqa: E402
from parallel_connected_components_spark.sources.bucketed import (  # noqa: E402
    pin_bucketed_edges,
    save_bucketed_edges,
)
from scripts.mdsplice import splice_md  # noqa: E402

TABLE = "pccs_bench_bkt"


def run(spark, edges, work_dir: str, reps: int = 3) -> dict:
    """A/B the pinned and the bucketed edge deployment of the symmetrized
    ``edges`` under frontier-LP CC, ``reps`` times each; the bucketed
    table is written under ``work_dir`` and dropped again."""
    n_part = spark.sparkContext.defaultParallelism
    # persist so the timed write measures the bucketed write itself, not
    # a recompute of the symmetrize union+dedup shuffle
    sym = symmetrize(edges).persist()
    n_edges = sym.count()

    bkt_path = os.path.join(work_dir, f"bucketed_sym_{n_part}")
    t0 = time.monotonic()
    save_bucketed_edges(spark, sym, TABLE, bkt_path, num_buckets=n_part)
    t_write = time.monotonic() - t0

    cache_mb = {}

    def _storage():
        return {
            i.id(): i.memSize()
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    def leg(tag, pin):
        before = _storage()
        t0 = time.monotonic()
        e = pin()
        t_pin = time.monotonic() - t0
        # the leg's newly-persisted RDD's in-memory size: the sorted
        # bucketed cache RLE/delta-compresses its src column, the
        # shuffled pin does not — on a memory-bandwidth-bound loop the
        # smaller cache is a per-iteration win, not just a setup win
        new = [sz for rid, sz in _storage().items() if rid not in before]
        if new and tag not in cache_mb:
            cache_mb[tag] = round(max(new) / 2**20)
        t0 = time.monotonic()
        labels, runner = cc_label_propagation(spark, e)
        nc = count_components(labels)
        t_loop = time.monotonic() - t0
        release(labels)
        e.edges.unpersist()
        return t_pin, t_loop, nc, runner.num_iterations

    legs = {
        # sort=False pins the A/B's meaning: this leg IS the unsorted
        # shuffled pin the report contrasts against (pin_edges itself
        # now defaults to sort=True in production — the r5 follow-up
        # section of BENCH/BASELINE.md measures that separately)
        "pin": lambda: pin_edges(spark, sym, sort=False),
        "bucketed": lambda: pin_bucketed_edges(spark, TABLE, bkt_path),
    }
    # alternate leg order between reps: the box carries oscillating
    # external load (~10-min period), so a fixed order would bias
    # whichever leg always ran second
    samples = {"pin": [], "bucketed": []}
    for r in range(reps):
        for tag in ("pin", "bucketed") if r % 2 == 0 else ("bucketed", "pin"):
            samples[tag].append(leg(tag, legs[tag]))
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
    sym.unpersist()
    assert {s[2] for s in samples["pin"]} == {s[2] for s in samples["bucketed"]}

    def best(tag):  # min total = least external-load noise
        s = min(samples[tag], key=lambda s: s[0] + s[1])
        return {"setup_sec": round(s[0], 2), "loop_sec": round(s[1], 2), "iters": s[3]}

    pin, bkt = best("pin"), best("bucketed")
    return {
        "metric": "bucketed_vs_pin_cc",
        "edges_sym": n_edges,
        "cores": n_part,
        "reps": reps,
        "bucketed_write_once_sec": round(t_write, 2),
        "pin": pin,
        "bucketed": bkt,
        "setup_speedup": (
            round(pin["setup_sec"] / bkt["setup_sec"], 2) if bkt["setup_sec"] else None
        ),
        "num_components": samples["pin"][0][2],
        "pin_samples": [[round(s[0], 2), round(s[1], 2)] for s in samples["pin"]],
        "bkt_samples": [[round(s[0], 2), round(s[1], 2)] for s in samples["bucketed"]],
        "cache_mb": cache_mb,
    }


def write_md(out: dict) -> None:
    pin, bkt = out["pin"], out["bucketed"]
    md = f"""<!-- bucketed:begin (auto-generated by scripts/bucketed_bench.py) -->
## Bucketed edge deployment (one-time shuffle)

Every iterative operator's cold-start cost includes pinning the edge
table (a full src-keyed exchange). A bucketed table (`sources/
bucketed.py`, CLUSTERED BY src INTO {out['cores']} BUCKETS) moves that
exchange to write time, once, and every subsequent job's scan reports
the bucket partitioning directly — the executed join plan shows
`Bucketed: true` and zero Exchange above the scan
(tests/test_plan_shape.py pins this).

Measured at {out['edges_sym']:,} symmetrized edges, local[{out['cores']}],
best-of-{out['reps']} per leg, same session, same frontier-LP loop
({pin['iters']} iterations, {out['num_components']} components both ways):

| leg | setup (pin/scan) | LP loop | total |
|---|---|---|---|
| pin_edges per job | {pin['setup_sec']:.2f}s | {pin['loop_sec']:.2f}s | {pin['setup_sec'] + pin['loop_sec']:.2f}s |
| bucketed scan | {bkt['setup_sec']:.2f}s | {bkt['loop_sec']:.2f}s | {bkt['setup_sec'] + bkt['loop_sec']:.2f}s |

Per-rep [setup, loop] samples (legs alternated against the box's
external-load oscillation): pin {out['pin_samples']}, bucketed
{out['bkt_samples']}.

One-time bucketed write: {out['bucketed_write_once_sec']:.2f}s (amortized across every later
job; the timed write reads the pre-materialized symmetrized cache, so
it is the bucketed exchange+write itself). Setup speedup
{out['setup_speedup']}x. At 100 TB the pin exchange is a full shuffle
of the edge bytes per job — the bucketed layout is how a production
deployment would run every recurrent graph job.

The loop is ALSO consistently faster over the bucketed cache, and it is
not load noise: the join/exchange plan is identical, but the bucketed
files are sorted by src, so the persisted columnar cache RLE/delta-
compresses — measured {out['cache_mb'].get('bucketed', '?')} MB vs
{out['cache_mb'].get('pin', '?')} MB for the shuffled (unsorted) pin of the
same rows. On this memory-bandwidth-bound substrate (BENCH scaling
notes: 8→32 cores flat on bandwidth), a ~2x smaller edge cache streams
proportionally faster every iteration — sort-on-write is a second
standing win of the bucketed layout, free at write time.
<!-- bucketed:end -->"""
    splice_md(os.path.join(REPO, "BENCH", "BASELINE.md"),
              "<!-- bucketed:begin", "<!-- bucketed:end -->", md)


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--md"]
    edges_path = args[0] if args else os.path.join(REPO, ".data", "bench_edges_18M.parquet")
    reps = int(args[1]) if len(args) > 1 else 3
    spark = get_spark("bucketed_bench")
    out = run(spark, spark.read.parquet(edges_path), os.path.join(REPO, ".data"), reps)
    print(json.dumps(out))
    if "--md" in sys.argv:
        write_md(out)
    spark.stop()


if __name__ == "__main__":
    main()
