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

from contextlib import AbstractContextManager, contextmanager
from typing import Iterator, NamedTuple

from pyspark.sql import DataFrame, functions as F

from ..functions.extract import extract_links_udf
from ..plans.runner import fixpoint_conf, release


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
    now-internal edges — the contraction that feeds ``cc.relabel``, the
    hand-off of Afforest's phase b, cc_auto's stall escape and the
    streaming CC fold. ``labels`` is (vertex, label); edges whose
    endpoints miss from it keep their own id (vertex = its own label),
    matching the union-by-min convention.

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


class Pinned(NamedTuple):
    """Edges ``(src, dst)`` hash-partitioned on src into ``n_part``
    partitions and persisted, the layout the loops join against
    (plans/runner.py:gather). Whoever pinned it owns the unpersist; an
    operator handed one uses it as is (no dedup, no exchange)."""

    edges: DataFrame
    n_part: int


def pin_edges(spark, edges: DataFrame, sort: bool = True) -> Pinned:
    """Partition the static edge table on src, its message-join key, ONCE
    and pin it in memory — every iterative operator's opening move (the
    ghost-exchange precondition; plan rationale in plans/runner.py:gather).
    Eagerly materialized so iteration 0 doesn't pay the exchange and so
    the in-loop joins see real cached stats instead of estimates (the
    in-loop-broadcast guard, PLANS.md §7). Caller owns the unpersist.

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
    return Pinned(e, n_part)


def pin_dedup_edges(spark, edges: DataFrame, drop_self_loops: bool = True) -> Pinned:
    """Fused self-loop filter + (src, dst) dedup + pin in ONE exchange
    (round 6): hash(src) partitioning satisfies the (src, dst) dedup's
    clustering requirement (equal-key rows are co-located), so the dedup
    aggregation runs inside the pin's exchange instead of adding its own
    — the raw edge table crosses the network once, not twice. Output is
    exactly ``pin_edges(filter + dropDuplicates)``: deduped, sorted
    within partitions, persisted; caller owns the unpersist. Trade-off
    vs dedup-first: duplicate rows of one hot key are no longer map-side
    combined before the exchange — a win whenever duplicates are rare
    (every graph here), and the per-key fan-in is the same deg(hub) the
    src-pinned layout carries anyway."""
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
    return Pinned(e, n_part)


@contextmanager
def pinned(
    spark, edges: DataFrame | Pinned, dedup: bool = True, drop_self_loops: bool = True
) -> Iterator[Pinned]:
    """Scope of a loop operator's edges: a :class:`Pinned` input as is, or
    a DataFrame pinned by :func:`pin_dedup_edges` (:func:`pin_edges` if
    ``dedup=False``: already deduped) and unpersisted on exit, also when
    the body raises."""
    if isinstance(edges, Pinned):
        yield edges
        return
    p = (
        pin_dedup_edges(spark, edges, drop_self_loops)
        if dedup
        else pin_edges(spark, edges)
    )
    try:
        yield p
    finally:
        p.edges.unpersist()


@contextmanager
def loop_table(df: DataFrame, key: str, n_part: int) -> Iterator[DataFrame]:
    """Scope of a table a loop reads: ``df`` hash(``key``)-partitioned into
    the loop's ``n_part`` partitions, checkpointed under the loop's
    settings (``plans/runner.py:fixpoint_conf``, so the checkpoint keeps
    that partitioning and the loop's joins on ``key`` need no exchange)
    and released on exit, also when the body raises, so the operator's
    output must not read it. A ``df`` already so partitioned plans no
    exchange: Spark drops a repartition its input satisfies."""
    with fixpoint_conf(df.sparkSession, n_part):
        table = df.repartition(n_part, key).localCheckpoint(eager=True)
    try:
        yield table
    finally:
        release(table)


def long_ids(df: DataFrame) -> DataFrame:
    """``(id long)``: the ``id`` column of ``df``. Only non-bigint ids are
    cast: the optimizer drops an identity cast, and a checkpoint would
    then record its partitioning on an attribute it no longer outputs
    (plans/runner.py:FixpointRunner.run)."""
    ids = df.select("id")
    return ids if dict(ids.dtypes)["id"] == "bigint" else ids.select(F.col("id").cast("long"))


def distinct_ids(vertices: DataFrame) -> DataFrame:
    """A caller's vertex set as ``(id)`` with each id once: an id listed
    twice would otherwise join into two output rows and count twice in
    |V|. The operators' own default vertex sets are distinct already and
    do not pass through here."""
    return vertices.select("id").distinct()


def vertex_table(
    vertices: DataFrame | None, default: DataFrame, n_part: int
) -> AbstractContextManager[DataFrame]:
    """Scope of a loop operator's vertex set ``(id long)``: the distinct
    ids of ``vertices``, else of ``default``, as a :func:`loop_table`
    (:func:`long_ids`)."""
    ids = default if vertices is None else distinct_ids(vertices)
    return loop_table(long_ids(ids), "id", n_part)


def own_labels(verts: DataFrame) -> DataFrame:
    """``(vertex, label)`` with every vertex of a vertex table ``(id)`` its
    own label. ``label`` is the minimum over the vertex's own row, a new
    attribute: ``id AS vertex, id AS label`` would alias the key twice,
    and a checkpoint of it records ``hash(label)``
    (plans/runner.py:FixpointRunner.run). Over a :func:`vertex_table` the
    aggregation needs no exchange."""
    return verts.groupBy(F.col("id").alias("vertex")).agg(F.min("id").alias("label"))


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

