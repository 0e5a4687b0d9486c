"""Similarity search over an embedding column (array<float>).

Two paths, per the training-data-pipeline requirements:
- :func:`knn_bruteforce` — exact cosine top-k for a (small) query set:
  broadcast the queries, score every vector with a JVM-side
  zip_with/aggregate dot product (no Python, no UDF), take top-k per
  query with the salted two-stage top-k (skew.salted_topk_per_key) —
  a query's full N-row candidate set never sorts on one task.
- :func:`knn_lsh` — a scale path: random-hyperplane LSH buckets
  (deterministic planes from the portable hash, seed-stable), top-k
  within the probe buckets only. Recall < 1.0 by construction; the
  bucket-bit Hamming radius (multi-probe) trades recall vs cost.
- :func:`knn_ivf` — the other scale path: IVF (inverted-file) index. A
  seeded Lloyd's k-means (pure DataFrame ops — assignment is an argmin
  over centroid literals, the update a per-(cluster, dim) average)
  coarse-quantizes the corpus once; queries probe only their ``nprobe``
  nearest cells. Data-adaptive where LSH is oblivious: clustered
  corpora get much better recall/cost.

Scale notes: brute force is O(N·Q·d) flops but a single scan — on a
cluster it is embarrassingly parallel with the queries broadcast; the
LSH path turns it into an equi-join on bucket keys. Skew: dense regions
make hot buckets; multi-probe spreads them and AQE splits the join; the
top-k itself is salted so per-query row counts are bounded at every
stage after the first (stage 1 sees ≤ N/num_salts rows per
(query, salt); stage 2 sees ≤ num_salts·k rows per query).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.hashing import portable_hash64_py
from ..plans.runner import release
from .skew import salted_topk_per_key


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine over array<double>; zero-norm vectors score 0."""
    denom = norm_expr(a) * norm_expr(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot_expr(a, b) / denom)


def _plane(dim: int, plane_idx: int, seed: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component i ∈ [-1, 1)
    derived from the portable hash — same plane family everywhere."""
    return [
        (portable_hash64_py(f"plane-{seed}-{plane_idx}-{i}") % 2000003) / 1000001.5 - 1.0
        for i in range(dim)
    ]


def hyperplane_sketch_col(vec: Column, num_planes: int, seed: int, dim: int = 64) -> Column:
    """Sign sketch: bit j = 1 iff dot(vec, plane_j) > 0, packed into a
    long. Pure column expression."""
    out = F.lit(0).cast("long")
    v = vec.cast("array<double>")
    for j in range(num_planes):
        plane = F.array(*[F.lit(c) for c in _plane(dim, j, seed)])
        out = out + F.when(dot_expr(v, plane) > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0)
        )
    return out


def knn_bruteforce(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ (query_id, neighbor_id, rank 1..k, cosine). Exact. Ties break
    by neighbor id (deterministic). Self-matches excluded."""
    queries = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    scored = (
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("nv"),
        )
        .join(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_expr(F.col("qv"), F.col("nv")).alias("cosine"),
        )
    )
    return salted_topk_per_key(
        scored, "query_id", "cosine", k, tiebreak_col="neighbor_id", rank_col="rank"
    ).select("query_id", "neighbor_id", "rank", "cosine")


def knn_lsh(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 6,
    multiprobe_hamming: int = 1,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only vectors whose hyperplane sketch is
    within ``multiprobe_hamming`` bits of the query's sketch. Same output
    schema as brute force; recall measured in tests. ``dim`` defaults to
    the measured vector length (one tiny job)."""
    if dim is None:
        row = embeddings.select(F.size(vec_col).alias("d")).limit(1).collect()
        dim = row[0]["d"] if row else 0
    sk = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
        hyperplane_sketch_col(F.col(vec_col), num_planes, seed, dim).alias("bucket"),
    )
    # multi-probe: each query probes its bucket plus all buckets within
    # the Hamming radius (bucket count is tiny: 2^num_planes)
    probes = [0]
    if multiprobe_hamming >= 1:
        probes += [1 << j for j in range(num_planes)]
    if multiprobe_hamming >= 2:
        probes += [
            (1 << i) | (1 << j) for i in range(num_planes) for j in range(i + 1, num_planes)
        ]
    queries = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv"),
            hyperplane_sketch_col(F.col(vec_col), num_planes, seed, dim).alias("qb"),
        )
        .select(
            "query_id",
            "qv",
            F.explode(
                F.array(*[F.col("qb").bitwiseXOR(F.lit(p)) for p in probes])
            ).alias("bucket"),
        )
    )
    scored = (
        sk.join(F.broadcast(queries), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", cosine_expr(F.col("qv"), F.col("nv")).alias("cosine")
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return salted_topk_per_key(
        scored, "query_id", "cosine", k, tiebreak_col="neighbor_id", rank_col="rank"
    ).select("query_id", "neighbor_id", "rank", "cosine")


def _sq_dist_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _lloyd_driver(rows, k: int, n_iterations: int) -> list[list[float]]:
    """Lloyd's iterations over an already-collected bounded sample —
    the numpy twin of the distributed loop in :func:`kmeans_fit` (same
    init order, same first-min tie-break, empty clusters keep their
    centroid)."""
    import numpy as np

    if not rows:
        return []
    rows = sorted(rows, key=lambda r: (r["h"], r["_id"]))
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    centroids = X[: min(k, len(X))].copy()
    for _ in range(n_iterations):
        d = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # first min — matches array_position
        new = centroids.copy()
        for ci in range(len(centroids)):
            mask = assign == ci
            if mask.any():
                new[ci] = X[mask].sum(axis=0) / mask.sum()
        if np.array_equal(new, centroids):
            break
        centroids = new
    return [[float(x) for x in c] for c in centroids]


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 16,
    n_iterations: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    sample_target: int = 16384,
) -> list[list[float]]:
    """Seeded Lloyd's k-means over an array column, pure DataFrame ops —
    no MLlib, no Python UDF:

    - init: the k vectors with the smallest ``xxhash64(id, seed)`` (a
      deterministic pseudo-random sample, reproducible on any
      partitioning);
    - assign: argmin over k centroid *literals* (array_position of the
      min of a distance array — whole-stage codegen, one scan);
    - update: per-(cluster, dim) mean via posexplode + two-level agg;
      k·dim rows come back to the driver (tiny), never the vectors.

    Scale: a coarse quantizer needs cluster SHAPE, not every point (the
    standard IVF training practice), so above ``sample_target`` rows the
    fit trains on a deterministic ``xxhash64``-keyed sample of ~that
    size. A bounded training set also means Lloyd's ITERATIONS need no
    cluster at all: the sampled path (default) collects the ≲16k sample
    once and iterates in numpy on the driver — one Spark job per fit
    instead of 2 per Lloyd round, which removed ~80% of ``knn_ivf``'s
    fixed cost (BENCH round 4; at 32 local cores each extra job is
    ~1.5 s of pure scheduling). The distributed assign/update loop below
    remains the ``sample_target=0`` exact path for unbounded inputs;
    both backends implement the identical recipe (same hash-seeded init,
    first-min tie-break, empty clusters keep their centroid) and agree
    to float-association tolerance (tested). The full-data pass happens
    once, in :func:`ivf_assign`.
    """
    v = embeddings.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    if sample_target and sample_target > 0:
        n_total = v.count()
        if n_total > sample_target:
            denom = max(2, n_total // sample_target)
            v = v.where(
                F.pmod(F.xxhash64("_id", F.lit(seed), F.lit("kmeans-sample")), denom)
                == 0
            )
        rows = v.select(
            F.xxhash64("_id", F.lit(seed)).alias("h"), "_id", "v"
        ).collect()
        return _lloyd_driver(rows, k, n_iterations)
    v = v.localCheckpoint(eager=True)
    init_rows = (
        v.orderBy(F.xxhash64("_id", F.lit(seed)), F.col("_id")).limit(k).collect()
    )
    centroids = [list(r["v"]) for r in init_rows]
    for _ in range(n_iterations):
        cent_arrs = [F.array(*[F.lit(c) for c in cent]) for cent in centroids]
        dists = F.array(*[_sq_dist_expr(F.col("v"), ca) for ca in cent_arrs])
        assigned = v.select(
            (F.array_position(dists, F.array_min(dists)) - 1).alias("cluster"), "v"
        )
        sums = (
            assigned.select("cluster", F.posexplode("v").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        counts: dict[int, int] = {}
        for r in sums:
            by_cluster.setdefault(r["cluster"], {})[r["dim"]] = r["s"]
            counts[r["cluster"]] = r["n"]
        new = []
        for ci, cent in enumerate(centroids):
            if ci in by_cluster:  # empty clusters keep their centroid
                n = counts[ci]
                cent = [by_cluster[ci][d] / n for d in range(len(cent))]
            new.append(cent)
        if new == centroids:
            break
        centroids = new
    release(v)
    return centroids


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the IVF cell id: (…all columns…, cluster int). One scan,
    argmin over centroid literals."""
    cent_arrs = [F.array(*[F.lit(c) for c in cent]) for cent in centroids]
    v = F.col(vec_col).cast("array<double>")
    dists = F.array(*[_sq_dist_expr(v, ca) for ca in cent_arrs])
    return embeddings.withColumn(
        "cluster", (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    )


def knn_ivf(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
    nprobe: int = 4,
    kmeans_iterations: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via an IVF index: score only vectors whose cell
    is among the query's ``nprobe`` nearest centroids. Same output schema
    as :func:`knn_bruteforce`; recall measured in tests. The cell
    equi-join replaces the O(N·Q) score scan with O(N·Q·nprobe/num_centroids)
    expected work; skew (hot cells) is handled by the salted top-k and
    AQE's skew-join splitting like every other bucketed join here."""
    centroids = kmeans_fit(
        embeddings, num_centroids, kmeans_iterations, vec_col, id_col, seed
    )
    indexed = ivf_assign(embeddings, centroids, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
        "cluster",
    )
    cent_arrs = [F.array(*[F.lit(c) for c in cent]) for cent in centroids]
    qv = F.col(vec_col).cast("array<double>")
    dist_structs = F.array(
        *[
            F.struct(_sq_dist_expr(qv, ca).alias("d"), F.lit(ci).alias("c"))
            for ci, ca in enumerate(cent_arrs)
        ]
    )
    nprobe = min(nprobe, len(centroids))
    probes = F.slice(F.array_sort(dist_structs), 1, nprobe)
    queries = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            qv.alias("qv"),
            F.explode(F.transform(probes, lambda s: s["c"])).alias("cluster"),
        )
    )
    scored = (
        indexed.join(F.broadcast(queries), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", cosine_expr(F.col("qv"), F.col("nv")).alias("cosine")
        )
    )
    return salted_topk_per_key(
        scored, "query_id", "cosine", k, tiebreak_col="neighbor_id", rank_col="rank"
    ).select("query_id", "neighbor_id", "rank", "cosine")
