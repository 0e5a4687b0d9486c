"""Deterministic random-walk sampling over the link graph — the
DeepWalk/node2vec corpus generator (Perozzi et al. KDD'14), the bridge
from the link graph to embedding training data.

Target-only capability on the package's join skeleton. The walk is
pseudo-random but fully DETERMINISTIC: at step t the walk at vertex u
moves to the out-neighbor w minimizing the portable 60-bit md5 hash of
"<walk_id>:<t>:<u>:<w>" (functions/hashing.py — identical in Spark,
DuckDB and Python). Hash-ordering a neighborhood is a uniform choice
for any fixed (walk_id, t, u) because the hash is exchangeable across
the candidate set, yet reruns, retries and independent engines
reproduce the identical corpus — the property that matters for
training-data lineage (re-generating a shard after a failure must not
silently produce different samples). Ties would need two 60-bit hash
collisions in one neighborhood (~2^-60); the DuckDB twin uses the same
arg-min so any tie would break identically by value anyway.

Per step the plan is one equi-join (positions ⋈ edges on the current
vertex) + one min_by aggregation per walk — the same shuffle shape as
every other loop here; positions are (walk_id, vertex) pairs, so state
is tiny relative to the edge table and the join broadcast-flips
naturally when few walks remain (harmless outside a loop-carried cache,
and the edge side stays pinned). Walks that reach a sink (no out-edge)
terminate; the emitted corpus is (walk_id, step, vertex) for every
position visited, step 0 = the seed.

Scale: corpus size is seeds × (walk_len+1) rows — independent of |E|
beyond the per-step join — and each step's shuffle moves only live
walks. At 10^12 documents one shards the seed set and streams corpus
parts out; nothing in the loop accumulates driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.hashing import portable_hash64_col
from ..plans.runner import release
from .graph import pinned


def random_walks(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    walk_len: int = 8,
) -> DataFrame:
    """→ (walk_id long, step int, vertex long): one walk per distinct
    seed id (walk_id = the seed), following edges src → dst for up to
    ``walk_len`` steps with the deterministic hash-arg-min transition.
    Pass the symmetrized table for undirected walks."""
    with pinned(
        spark, edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    ) as (e, _):
        pos = (
            seeds.select(F.col("id").cast("long").alias("walk_id"))
            .dropDuplicates(["walk_id"])
            .select("walk_id", F.col("walk_id").alias("vertex"))
            .localCheckpoint(eager=True)
        )
        corpus = [pos.select("walk_id", F.lit(0).alias("step"), "vertex")]
        for t in range(1, walk_len + 1):
            h = portable_hash64_col(
                F.concat_ws(
                    ":",
                    F.col("walk_id").cast("string"),
                    F.lit(str(t)),
                    F.col("src").cast("string"),
                    F.col("dst").cast("string"),
                )
            )
            pos = (
                e.join(
                    pos.select("walk_id", F.col("vertex").alias("src")).hint(
                        "shuffle_hash"
                    ),
                    "src",
                )
                .select("walk_id", "dst", h.alias("_h"))
                .groupBy("walk_id")
                .agg(F.min_by("dst", "_h").alias("vertex"))
                .localCheckpoint(eager=True)
            )
            if pos.isEmpty():  # every walk ended: the corpus never reads it
                release(pos)
                break
            corpus.append(pos.select("walk_id", F.lit(t).alias("step"), "vertex"))
    out = corpus[0]
    for c in corpus[1:]:
        out = out.unionAll(c)
    return out


def walks_python_oracle(edge_list, seed_ids, walk_len: int = 8):
    """Independent simulation with the same portable hash — exact
    differential anchor. → {(walk_id, step): vertex}. Test-scale."""
    from ..functions.hashing import portable_hash64_py

    adj: dict[int, list[int]] = {}
    for u, v in edge_list:
        u, v = int(u), int(v)
        if u != v and v not in adj.setdefault(u, []):
            adj[u].append(v)
    out: dict[tuple[int, int], int] = {}
    for s in sorted(set(int(x) for x in seed_ids)):
        cur = s
        out[(s, 0)] = cur
        for t in range(1, walk_len + 1):
            nbrs = adj.get(cur)
            if not nbrs:
                break
            cur = min(nbrs, key=lambda w: (portable_hash64_py(f"{s}:{t}:{cur}:{w}"), w))
            out[(s, t)] = cur
    return out


def walk_cooccurrence(walks: DataFrame, window: int = 2) -> DataFrame:
    """→ (center, context, pairs): skip-gram co-occurrence counts over a
    walk corpus — the word2vec/DeepWalk training-pair generator (the
    step after random_walks in the embedding pipeline). A pair is
    emitted for every two positions of the same walk within ``window``
    steps of each other, in BOTH (center, context) directions, exactly
    as a word2vec window does; counts are integers, so the DuckDB twin
    matches bit-for-bit.

    Plan: one self-equi-join on walk_id with a bounded step-distance
    predicate + one grouped count (map-side partial combine). Corpus
    rows are walks × (len+1), so this never touches the edge table —
    at 10^12 documents the corpus is sharded upstream and this join is
    per-shard local."""
    a = walks.select(
        F.col("walk_id"), F.col("step").alias("_sa"), F.col("vertex").alias("center")
    )
    b = walks.select(
        F.col("walk_id"), F.col("step").alias("_sb"), F.col("vertex").alias("context")
    )
    d = F.col("_sb") - F.col("_sa")
    pairs = a.join(b, "walk_id").filter((d >= 1) & (d <= window))
    both = pairs.select("center", "context").unionAll(
        pairs.select(F.col("context").alias("center"), F.col("center").alias("context"))
    )
    return both.groupBy("center", "context").agg(F.count("*").alias("pairs"))
