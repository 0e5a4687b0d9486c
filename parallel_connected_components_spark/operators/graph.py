"""Edge-table construction — the engine's ETL, replacing the reference's
mutable adjacency-list build + CSR finalize (/root/reference/src/graph.c).

Reference semantics reproduced (SURVEY.md §1.1):
- symmetrized: both (u,v) and (v,u) present (graph.c:75-104);
- self-loops dropped (graph.c:70-73);
- duplicates tolerated by every downstream algorithm; we additionally
  dedup (results identical either way, shuffle volume lower);
- dense int32 ids → 64-bit ids here (10^12-doc scale exceeds int32,
  SURVEY.md §1.5): vertex id = xxhash64(url), collision-audited.

Scale notes: id assignment is a stateless projection (no join, no shuffle
— the url and every href hash independently); the symmetrize is
a union + exchange on the dedup; adjacency never materializes
driver-side. CSR's "neighbors of v are contiguous" locality is recovered
by hash-partitioning the edge table on src — a shuffle once, reused by
every iteration that joins/aggregates on src.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.extract import extract_links_udf


def vertices_from_pages(pages: DataFrame) -> DataFrame:
    """url → vertex-id mapping table (id = xxhash64(url))."""
    return pages.select(
        F.col("url"), F.xxhash64("url").alias("id")
    ).dropDuplicates(["url"])


def edges_from_pages(pages: DataFrame, keep_dangling: bool = True) -> DataFrame:
    """pages → directed link edges (src long, dst long), raw (self-loops
    and duplicates intact — cleaning is :func:`symmetrize` /
    :func:`canonicalize`'s job, mirroring the reference's split between
    mtx_reader and graph_add_edge).

    ``keep_dangling=False`` drops links whose target url is not a crawled
    page (semi-join against the vertex set); the default keeps them —
    every href names a vertex, crawled or not, which is the usual
    web-graph convention and avoids a join entirely.
    """
    links = pages.select(
        F.xxhash64("url").alias("src"),
        F.explode(extract_links_udf(F.col("html"))).alias("href"),
    )
    edges = links.select("src", F.xxhash64("href").alias("dst"))
    if not keep_dangling:
        verts = vertices_from_pages(pages).select(F.col("id").alias("dst"))
        edges = edges.join(verts, "dst", "left_semi").select("src", "dst")
    return edges


def audit_id_collisions(pages: DataFrame) -> int:
    """xxhash64(url) collision count — must be 0 (risk R4, SURVEY.md §7).
    At 10^12 urls the birthday bound on 64 bits is ~2.7% per-pair-free;
    production would fall back to 128-bit (md5 hi/lo) on nonzero."""
    v = pages.select("url").distinct().count()
    h = pages.select(F.xxhash64("url").alias("id")).distinct().count()
    return v - h


def symmetrize(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """Both directions, no self-loops (graph.c:75-104, :70-73)."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    both = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return both.dropDuplicates(["src", "dst"]) if dedup else both


def canonicalize(edges: DataFrame) -> DataFrame:
    """Each undirected edge once, oriented src < dst — the reference's
    edge-reorder trick (cc_sequential.c:418) and the triangle-counting
    orientation."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
    )


def contract_edges(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Map every edge (u, v) to (label(u), label(v)), dropping
    now-internal edges — the graph-contraction step shared by cc_auto's
    LP→stars hand-off, the streaming incremental-CC batch fold, and the
    (deprecated) prune rewrite's keep/star split. ``labels`` is
    (vertex, label); edges whose endpoints miss from it keep their own id
    (vertex = its own label), matching the union-by-min convention.

    Contraction preserves components exactly: l(u) is always a vertex of
    u's component, so (l(u), l(v)) connects the same two components
    (u, v) does."""
    ls = labels.select(F.col("vertex").alias("src"), F.col("label").alias("_ls"))
    ld = labels.select(F.col("vertex").alias("dst"), F.col("label").alias("_ld"))
    return (
        edges.join(ls, "src", "left")
        .join(ld, "dst", "left")
        .select(
            F.coalesce("_ls", F.col("src")).alias("src"),
            F.coalesce("_ld", F.col("dst")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )


def vertices_of(edges: DataFrame) -> DataFrame:
    """Distinct vertex ids appearing in the edge table."""
    return (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def pin_edges(spark, edges: DataFrame, sort: bool = True) -> tuple[DataFrame, int]:
    """Partition the static edge table on src, its message-join key, ONCE
    and pin it in memory — every iterative operator's opening move (the
    ghost-exchange precondition; plan rationale in plans/runner.py:gather).
    Eagerly materialized so iteration 0 doesn't pay the exchange and so
    the in-loop joins see real cached stats instead of estimates (the
    in-loop-broadcast guard, PLANS.md §7). → (pinned edges, n_part);
    caller owns the unpersist.

    ``sort=True`` adds an in-partition sort (no exchange, partitioning
    preserved) before the persist: the sorted key column RLE/delta-
    compresses in the columnar cache — measured 299 vs 550 MB at 36M
    edges — and on a memory-bandwidth-bound loop the smaller cache makes
    EVERY iteration faster (~17% per LP iteration measured), repaying
    the one-time sort (~2 s at 36M rows/32 cores) within 2-3 iterations.
    Same mechanism as the bucketed layout's sortBy (sources/bucketed.py,
    BENCH/BASELINE.md bucketed section)."""
    n_part = spark.sparkContext.defaultParallelism
    e = edges.select("src", "dst").repartition(n_part, "src")
    if sort:
        e = e.sortWithinPartitions("src", "dst")
    e = e.persist()
    e.count()
    return e, n_part


def pin_dedup_edges(
    spark, edges: DataFrame, drop_self_loops: bool = True
) -> tuple[DataFrame, int]:
    """Fused self-loop filter + (src, dst) dedup + pin in ONE exchange
    (round 6): hash(src) partitioning satisfies the (src, dst) dedup's
    clustering requirement (equal-key rows are co-located), so the dedup
    aggregation runs inside the pin's exchange instead of adding its own
    — the raw edge table crosses the network once, not twice. Output is
    exactly ``pin_edges(filter + dropDuplicates)``: deduped, sorted
    within partitions, persisted; → (pinned, n_part), caller owns the
    unpersist. Trade-off vs dedup-first: duplicate rows of one hot key
    are no longer map-side combined before the exchange — a win whenever
    duplicates are rare (every graph here), and the per-key fan-in is
    the same deg(hub) the src-pinned layout carries anyway."""
    n_part = spark.sparkContext.defaultParallelism
    e = edges.select("src", "dst")
    if drop_self_loops:
        e = e.filter(F.col("src") != F.col("dst"))
    e = (
        e.repartition(n_part, "src")
        .dropDuplicates(["src", "dst"])
        .sortWithinPartitions("src", "dst")
        .persist()
    )
    e.count()
    return e, n_part


def degrees(edges_sym: DataFrame) -> DataFrame:
    """Per-vertex degree over a symmetrized deduped edge table
    (graph.c:222-253's per-vertex scan as one partial+final agg)."""
    return edges_sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("degree"))


def degree_stats(edges_sym: DataFrame) -> DataFrame:
    """min/max/avg degree (graph_print_stats, graph.c:233-252)."""
    return degrees(edges_sym).agg(
        F.min("degree").alias("min_degree"),
        F.max("degree").alias("max_degree"),
        F.avg("degree").alias("avg_degree"),
        F.count("*").alias("num_vertices"),
    )


def detect_hubs(edges_sym: DataFrame, degree_threshold: int) -> DataFrame:
    """Vertices with degree above threshold — the skew set. The
    reference's analog is the sampled giant-component detector
    (cc_openmp.c:422-496); hubs here are the *cause* (power-law in-links)
    rather than the symptom. Used to route hub keys through the salted
    aggregation path."""
    return degrees(edges_sym).filter(F.col("degree") > degree_threshold).select("id", "degree")
