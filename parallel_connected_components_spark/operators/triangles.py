"""Join-based triangle enumeration: the one oriented double self-join that
triangle counts, per-vertex counts, edge supports and the k-truss read.

Target-only capability (BASELINE.json north_rule). Built directly on the
reference's canonical-orientation trick — process each undirected edge
once as (u, v) with u < v (/root/reference/src/cc_sequential.c:418,
/root/reference/src/cc_opencilk.c:286) — which is also the standard
triangle-join orientation: with edges oriented low→high, each triangle
{a<b<c} is enumerated exactly once as the wedge (a,b),(b,c) closed by
(a,c).

Skew: hub vertices create huge wedge fan-outs. Orientation assigns each
wedge to its *middle* vertex, and AQE's skew-join splits hot middle keys.
The classic refinement for power-law graphs (Schank & Wagner's
degree-ordered enumeration) orients by (degree, id) instead of id, so a
hub's out-degree is bounded by O(sqrt(E)): pass a degree table to
:func:`triangles` (``orient_by_degree=True`` on the public operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .graph import canonicalize, degrees, symmetrize


def _oriented(canon: DataFrame, deg: DataFrame | None) -> DataFrame:
    """``canon`` (src < dst, deduped) oriented low→high by (degree, id)
    when ``deg`` ``(id, degree)`` is given, else as is."""
    if deg is None:
        return canon
    d = deg.select("id", "degree")
    # shuffle_hash: with no hint these joins broadcast the degree table
    # below the broadcast threshold and sort-merge above it
    e = canon.join(
        d.withColumnsRenamed({"id": "src", "degree": "_ds"}).hint("shuffle_hash"), "src"
    ).join(
        d.withColumnsRenamed({"id": "dst", "degree": "_dd"}).hint("shuffle_hash"), "dst"
    )
    fwd = F.struct("_ds", "src") < F.struct("_dd", "dst")
    return e.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("dst"),
    )


def triangles(canon: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """→ (a, b, c): one row per triangle of the canonical edge table
    ``canon``, its vertices in orientation order (id, or (degree, id)
    when ``deg`` is given — any total order enumerates each triangle
    once).

    The edge input of each join is shuffle_hash-hinted: per-partition
    edge slices are bounded build sides, and sort-merge's per-join sorts
    of the 18M-edge table are pure overhead — measured 46s (SMJ) vs 19s
    (hash) warm at 18M edges, local[32]. The wedge stream stays the
    PROBE side (no hint): hinting it too lets Spark's meaningless
    self-join size estimate pick a 100M-row build map → executor OOM."""
    e = _oriented(canon, deg)
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c")).hint("shuffle_hash")
    ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c")).hint("shuffle_hash")
    return ab.join(bc, "b").join(ac, ["a", "c"], "left_semi").select("a", "b", "c")


def _degree_table(edges: DataFrame, orient_by_degree: bool) -> DataFrame | None:
    return degrees(symmetrize(edges)) if orient_by_degree else None


def _per_vertex(tri: DataFrame) -> DataFrame:
    """(vertex, triangles) from :func:`triangles`' rows."""
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count("*").alias("triangles"))
    )


def triangle_count(
    spark: SparkSession, edges: DataFrame, orient_by_degree: bool = False
) -> int:
    return triangles(canonicalize(edges), _degree_table(edges, orient_by_degree)).count()


def triangles_per_vertex(
    spark: SparkSession, edges: DataFrame, orient_by_degree: bool = False
) -> DataFrame:
    """→ (vertex, triangles): per-vertex triangle participation counts."""
    return _per_vertex(
        triangles(canonicalize(edges), _degree_table(edges, orient_by_degree))
    )
