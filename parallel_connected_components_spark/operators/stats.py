"""Component statistics and the sampling-based giant-component detector.

Ports of the reference's reporting/aggregation layer (SURVEY.md §2.3):
- component size histogram + min/max/avg:
  print_component_stats (/root/reference/src/cc_common.c:40-94);
- distinct-label count: count_unique_labels
  (/root/reference/src/cc_common.c:7-38);
- frequent-element sampling — 1024 random vertices, count labels, argmax
  → probable largest component (/root/reference/src/cc_openmp.c:422-496,
  /root/reference/src/pthreads/afforest_simple.c:522-611). This is the
  reference's skew detector, feeding the Afforest skip-largest-component
  path (/root/reference/src/cc_openmp.c:596-613). Here it is a report
  only: Afforest's contraction (``cc.relabel``) drops the giant's
  internal edges with every other resolved region's, no vote needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def component_sizes(labels: DataFrame) -> DataFrame:
    """(label, size) histogram (cc_common.c:58-66)."""
    return labels.groupBy("label").agg(F.count("*").alias("size"))


def component_stats(labels: DataFrame) -> DataFrame:
    """num_components + min/max/avg component size (cc_common.c:68-91)."""
    return component_sizes(labels).agg(
        F.count("*").alias("num_components"),
        F.min("size").alias("min_size"),
        F.max("size").alias("max_size"),
        F.avg("size").alias("avg_size"),
    )


def count_components_approx(labels: DataFrame, rsd: float = 0.02) -> int:
    """HyperLogLog++ estimate of the component count — the cheap variant
    of count_unique_labels for 10^12-vertex label tables where the exact
    distinct's shuffle is not worth it (SURVEY §2.3 A2 note)."""
    return labels.select(F.approx_count_distinct("label", rsd)).collect()[0][0]


def top_components(labels: DataFrame, k: int = 10) -> DataFrame:
    """Largest k components — orderBy+limit = TakeOrdered, the plan the
    reference hand-rolls as parallel argmax (SURVEY.md §2.3 A8)."""
    return (
        component_sizes(labels)
        .orderBy(F.desc("size"), F.asc("label"))
        .limit(k)
    )


def giant_component_sample(
    labels: DataFrame, num_samples: int = 1024, seed: int = 42
) -> tuple[int, int]:
    """→ (probable giant-component label, sampled hits). Samples ~1024
    vertices like the reference (cc_openmp.c:427) instead of a full
    groupBy — on 10^12 vertices the exact histogram is a full shuffle;
    the sample is one tiny job on a pushed-down fraction."""
    total = labels.count()
    if total == 0:
        raise ValueError("empty labels")
    frac = min(1.0, num_samples / total)
    top = (
        labels.sample(fraction=frac, seed=seed)
        .groupBy("label")
        .agg(F.count("*").alias("hits"))
        .orderBy(F.desc("hits"), F.asc("label"))
        .limit(1)
        .collect()
    )
    if not top:  # sample came back empty (tiny tables) → exact fallback
        top = (
            labels.groupBy("label").agg(F.count("*").alias("hits"))
            .orderBy(F.desc("hits"), F.asc("label")).limit(1).collect()
        )
    return top[0]["label"], top[0]["hits"]

