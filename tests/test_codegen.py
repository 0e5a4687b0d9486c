"""Codegen cache residency: a warm rerun of a pipeline must reuse the
classes its first run compiled.

Spark keeps compiled generated classes in a cache whose size is the static
conf ``spark.sql.codegen.cache.maxEntries`` (session.py). At Spark's
default of 100 entries the cc + lpa + scc sequence below already thrashes:
each rerun recompiles ~140 classes, and the driver pays Janino and JIT
again. The compile count is the count of Spark's ``CodegenMetrics``
compilation-time histogram (plans/runner.py:JvmMeter)."""

from __future__ import annotations

from pyspark.sql import functions as F

from parallel_connected_components_spark.operators import (
    cc_label_propagation,
    label_propagation_communities,
    scc,
    symmetrize,
)
from parallel_connected_components_spark.plans.runner import JvmMeter


def _hub_edges(spark, n: int = 300, sites: int = 3):
    """Directed hub graph shaped like the benchmark's: in each site every
    page links to its predecessor (cyclically) and three times to the
    site's root, and the root links to every page."""
    i = F.col("id")
    size = n // sites
    root = i - i % size
    return (
        spark.range(n).select(
            i.alias("src"), (root + (i % size + size - 1) % size).alias("dst")
        )
        .union(spark.range(3 * n).select(
            (i % n).alias("src"), ((i % n) - (i % n) % size).alias("dst")
        ))
        .union(spark.range(n).select(root.alias("src"), i.alias("dst")))
        .filter(F.col("src") != F.col("dst"))
    )


def test_warm_rerun_compiles_no_classes(spark):
    edges = _hub_edges(spark)
    meter = JvmMeter(spark)

    def once():
        sym = symmetrize(edges).persist()
        labels, cc_run = cc_label_propagation(spark, sym)
        labels.collect()
        comm, lpa_run = label_propagation_communities(spark, sym, max_iterations=5)
        comm.collect()
        sccs, _ = scc(spark, edges)
        sccs.collect()
        sym.unpersist()
        return [cc_run, lpa_run]

    once()
    c0 = meter.totals()[0]
    runners = once()
    assert meter.totals()[0] - c0 == 0
    # the runner ledger sees the same: every poll records zero compiles,
    # and the driver's GC time next to its JIT time
    for r in runners:
        polls = [m.extra for m in r.metrics if "codegen_compiles" in m.extra]
        assert polls and not any(p["codegen_compiles"] for p in polls), r.name
        assert all(p["jit_ms"] >= 0 and p["gc_ms"] >= 0 for p in polls), r.name
