"""Deduplication operators for the training-data pipeline (exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup).

Design constraints:
- everything JVM-side column expressions where possible (no per-row
  Python; the one Python step — none — the MinHash/SimHash math is pure
  Catalyst arithmetic over the portable md5-based hash, so the DuckDB
  oracle can reproduce signatures bit-exactly);
- all pair-producers emit canonical (a < b) pairs, deduped;
- scale: candidate generation is always a band/bucket equi-join (shuffle
  on the band key), never an all-pairs cross join. Hot buckets (boilerplate
  shingles) are the skew risk → band keys include the band index, and the
  verify step re-filters so oversized buckets only cost time, not
  correctness; AQE skew-join splitting covers the join itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.hashing import MERSENNE_31, minhash_params, portable_hash64_col
from ..functions.textstats import (
    fingerprint_col,
    normalized_text_col,
    shingles_from_words,
    words_col,
)


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents:
    (fingerprint, canonical_id = min id, dup_count). dup_count > 1 rows
    are the duplicate groups."""
    return (
        docs.select(F.col(id_col), fingerprint_col(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("dup_count"))
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per normalized-text group."""
    keep = exact_duplicates(docs, id_col, text_col).select(
        F.col("canonical_id").alias(id_col)
    )
    return docs.join(keep, id_col, "left_semi")


# --------------------------------------------------------------------------
# MinHash signatures + LSH banding
# --------------------------------------------------------------------------

def _shingle_values(
    docs: DataFrame, id_col: str, text_col: str, n: int, distinct: bool = True
) -> DataFrame:
    """(id, x): shingle hash values reduced into the 31-bit field the
    permutations operate in. Words are materialized as a column BEFORE
    the shingle lambda — HOF lambdas re-evaluate inline child
    expressions per element (~25x measured on the tokenizer chain).

    ``distinct=False`` (round 6) skips the per-(id, x) dedup exchange for
    consumers whose aggregation is duplicate-insensitive — the MinHash
    MIN folds see the same minimum over a multiset as over its set, so
    the signature path saves a full shuffle of the shingle stream
    (bit-identical signatures; the Jaccard path keeps the dedup — its
    counts are set semantics)."""
    words = docs.select(
        F.col(id_col).alias("_id"),
        words_col(normalized_text_col(text_col)).alias("_w"),
    )
    vals = (
        words.select("_id", F.explode(shingles_from_words(F.col("_w"), n)).alias("sh"))
        .select("_id", F.pmod(portable_hash64_col(F.col("sh")), F.lit(MERSENNE_31)).alias("x"))
    )
    return vals.dropDuplicates(["_id", "x"]) if distinct else vals


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, sig array<long> of length num_perm). One groupBy with
    num_perm MIN aggregates — partial aggregation makes this a single
    shuffle of num_perm longs per document regardless of document size."""
    # distinct=False: MIN over a multiset equals MIN over its set, so the
    # signature path skips the per-(id, x) dedup exchange entirely
    sv = _shingle_values(docs, id_col, text_col, shingle_n, distinct=False)
    params = minhash_params(num_perm, seed)
    aggs = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MERSENNE_31)).alias(f"h{i}")
        for i, (a, b) in enumerate(params)
    ]
    sig = sv.groupBy("_id").agg(*aggs)
    return sig.select(
        F.col("_id").alias(id_col),
        F.array(*[F.col(f"h{i}") for i in range(num_perm)]).alias("sig"),
    )


def minhash_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 8,
    num_perm: int | None = None,
) -> DataFrame:
    """LSH banding: split each signature into bands; documents sharing
    any band collide. → (a, b) canonical candidate pairs."""
    if num_perm is None:
        # derive from the runtime array length (costs one small job —
        # callers on the hot path pass num_perm explicitly)
        sig_len = signatures.select(F.size("sig").alias("n")).limit(1).collect()
        num_perm = sig_len[0]["n"] if sig_len else 0
    n = num_perm
    rows_per_band = max(1, n // num_bands)
    banded = signatures.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_bands - 1)),
                lambda b: F.md5(
                    F.concat_ws(
                        ",",
                        F.concat(b.cast("string"), F.lit(":")),
                        F.concat_ws(",", F.slice("sig", b * rows_per_band + 1, rows_per_band)),
                    )
                ),
            )
        ).alias("band", "bucket"),
    )
    left = banded.select("band", "bucket", F.col("_id").alias("a"))
    right = banded.select("band", "bucket", F.col("_id").alias("b"))
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    num_bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Candidate pairs verified by estimated Jaccard = fraction of equal
    signature components ≥ threshold → (a, b, est_jaccard).

    Signatures are materialized once (localCheckpoint) — they feed the
    banding join and both sides of the verify join; without pinning they
    recompute the shingle explode + k-way min 3×."""
    sigs = minhash_signatures(
        docs, id_col, text_col, num_perm, shingle_n, seed
    ).localCheckpoint(eager=True)
    cands = minhash_candidate_pairs(sigs, id_col, num_bands, num_perm=num_perm)
    sa = sigs.select(F.col(id_col).alias("a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("b"), F.col("sig").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / F.size("sig_a")
    )
    return (
        cands.join(sa, "a").join(sb, "b")
        .select("a", "b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def _simhash_from_hashes(hashes: Column, bits: int) -> Column:
    """SimHash from an (attribute-referenced) array of word hashes: per
    word hash h, each bit j votes sign((h>>j)&1); signature bit j is 1
    iff the aggregate vote is positive. Array folds — no explode, no
    shuffle, a pure projection."""
    bit_votes = [
        F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        for j in range(bits)
    ]
    out = F.lit(0).cast("long")
    for j, vote in enumerate(bit_votes):
        out = out + F.when(vote > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0))
    return out


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 60
) -> DataFrame:
    """(id, simhash long). 60 bits by default: 1<<j stays positive int64
    and the 4×15-bit band split is exact. Two projections: the per-word
    hash array materializes first so the 60 bit-vote folds walk an
    attribute, not the md5 chain (HOF re-evaluation, ~bits× otherwise)."""
    # two-step select is enough: CollapseProject declines to inline a
    # non-cheap alias referenced more than once (measured in git history)
    hashed = docs.select(
        F.col(id_col),
        F.transform(
            F.split(normalized_text_col(text_col), " "), portable_hash64_col
        ).alias("_hs"),
    )
    return hashed.select(
        F.col(id_col), _simhash_from_hashes(F.col("_hs"), bits).alias("simhash")
    )


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 60,
    num_bands: int = 4,
) -> DataFrame:
    """Pairs within Hamming distance ≤ max_hamming. Candidates: by the
    pigeonhole principle any pair within distance < num_bands shares at
    least one exact band → equi-join per band; verify with bit_count(xor).
    → (a, b, hamming)."""
    sigs = simhash_signatures(docs, id_col, text_col, bits)
    band_bits = bits // num_bands
    mask = (1 << band_bits) - 1
    banded = sigs.select(
        F.col(id_col).alias("_id"),
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", i * band_bits).bitwiseAND(F.lit(mask))
                    for i in range(num_bands)
                ]
            )
        ).alias("band", "key"),
    )
    left = banded.select("band", "key", F.col("_id").alias("a"), F.col("simhash").alias("ha"))
    right = banded.select("band", "key", F.col("_id").alias("b"), F.col("simhash").alias("hb"))
    pairs = (
        left.join(right, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"))
        .dropDuplicates(["a", "b"])
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


# --------------------------------------------------------------------------
# n-gram Jaccard (exact, via shared-shingle join)
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard over word n-gram sets for pairs sharing ≥1 shingle.
    → (a, b, jaccard). The inverted-index join is the scale path: pairs
    never materialize unless they share a shingle; stopword-only shingle
    skew is bounded by the ``max_df`` document-frequency cap: shingle
    values held by more than max_df documents are removed from the
    vocabulary BEFORE the self-join (a boilerplate shingle shared by 10^6
    docs would otherwise emit ~10^12 candidate pairs). Jaccard is then
    exact over the capped vocabulary — sizes are recomputed after the
    filter so numerator and denominator agree (the standard
    stopword-removal semantics, not an approximation of uncapped
    Jaccard). ``max_df=None`` disables the cap."""
    sv = _shingle_values(docs, id_col, text_col, shingle_n).localCheckpoint(eager=True)
    if max_df is not None:
        ok = (
            sv.groupBy("x")
            .agg(F.count("*").alias("_df"))  # (_id, x) is distinct ⇒ count = doc freq
            .filter(F.col("_df") <= max_df)
            .select("x")
        )
        sv = sv.join(ok, "x", "left_semi")
    sizes = sv.groupBy("_id").agg(F.count("*").alias("n_sh"))
    left = sv.select(F.col("x"), F.col("_id").alias("a"))
    right = sv.select(F.col("x"), F.col("_id").alias("b"))
    common = (
        left.join(right, "x")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(sizes.withColumnsRenamed({"_id": "a", "n_sh": "na"}), "a")
        .join(sizes.withColumnsRenamed({"_id": "b", "n_sh": "nb"}), "b")
        .select(
            "a",
            "b",
            (
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicates
# --------------------------------------------------------------------------

def embedding_near_duplicates(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ threshold. Candidates via
    random-hyperplane LSH (sign sketch, deterministic planes derived from
    the portable hash) — vectors agreeing on all num_planes signs collide;
    verify exact cosine. High-threshold near-dup detection only (recall
    drops for lower thresholds — use similarity.knn_* for search).
    → (a, b, cosine). ``dim`` defaults to the measured vector length (one
    tiny job); a wrong dim would NULL-pad every plane dot product, push
    every sketch bit to 0, and silently degrade the LSH join to an
    all-pairs cross join in bucket 0."""
    from .similarity import cosine_expr, hyperplane_sketch_col  # local import, shared math

    if dim is None:
        row = embeddings.select(F.size(vec_col).alias("d")).limit(1).collect()
        dim = row[0]["d"] if row else 0
    sk = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        hyperplane_sketch_col(F.col(vec_col), num_planes, seed, dim).alias("bucket"),
    )
    left = sk.select("bucket", F.col("_id").alias("a"), F.col("v").alias("va"))
    right = sk.select("bucket", F.col("_id").alias("b"), F.col("v").alias("vb"))
    return (
        left.join(right, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", cosine_expr(F.col("va"), F.col("vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .dropDuplicates(["a", "b"])
    )


# --------------------------------------------------------------------------
# End-to-end dedup: near-dup pairs -> clusters -> keep-one representative
# --------------------------------------------------------------------------

def dedup_clusters(
    spark,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    num_bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """The deliverable a training-data pipeline actually consumes: every
    document assigned a duplicate-cluster id with a keep-one flag.

    Composition: :func:`minhash_near_duplicates` pairs form a similarity
    graph over doc ids; connected components (``cc_two_phase`` — the
    similarity graph is tiny relative to the corpus, so the local-UF
    contraction pass collapses most clusters in one round) give the
    transitive closure; cluster_id = min doc id of the cluster, and the
    minimum doc is the canonical representative. Documents with no
    near-duplicate are their own singleton cluster (canonical by
    definition), so the output has exactly one row per input document:
    (id, cluster_id, is_canonical). Filtering ``is_canonical`` yields the
    deduplicated corpus; grouping by ``cluster_id`` yields the dup groups.

    Scale: pair generation is banded (never all-pairs), CC runs on the
    pair graph only (|pairs| << |docs| in real crawls), and the final
    labeling is one left join back to the corpus — three shuffles end to
    end beyond the signature pass.
    """
    from .cc import cc_two_phase

    pairs = minhash_near_duplicates(
        docs, id_col, text_col, num_perm, num_bands, shingle_n, threshold, seed
    )
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    vertices = docs.select(F.col(id_col).alias("id"))
    labels, _ = cc_two_phase(spark, edges, vertices=vertices)
    return labels.select(
        F.col("vertex").alias(id_col),
        F.col("label").alias("cluster_id"),
        (F.col("vertex") == F.col("label")).alias("is_canonical"),
    )
