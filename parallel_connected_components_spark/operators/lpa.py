"""Community detection by label propagation (LPA).

Target-only capability (BASELINE.json north_rule). Reuses the plumbing of
the reference's label-propagation CC loop
(/root/reference/src/cc_openmp.c:38-142) with the per-vertex aggregate
swapped: instead of MIN over neighbor labels it takes the *most frequent*
neighbor label (ties broken toward the smaller label so the computation is
deterministic — the reference's async variants tolerate nondeterministic
iteration counts but we pin results, risk R4 SURVEY.md §7).

Synchronous updates can oscillate on bipartite structures, so the loop is
bounded by ``max_iterations`` and also stops when the label assignment is
stable; tests check community structure on graphs where LPA's fixpoint is
unambiguous.

Plan shape per iteration: edges ⋈ labels (shuffle join), two-stage
aggregation — count per (vertex, label), then argmax per vertex via
max_by with a packed (count, -label) ordering key, avoiding a window sort.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.runner import FixpointRunner, send
from .graph import Pinned, own_labels, pinned, vertex_table


def label_propagation_communities(
    spark: SparkSession,
    edges_sym: DataFrame | Pinned,
    vertices: DataFrame | None = None,
    max_iterations: int = 20,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, FixpointRunner]:
    """→ (labels(vertex, label), runner). ``edges_sym`` symmetrized."""
    # src-partitioned edges as in plans/runner.py:gather, but unlike CC
    # and PageRank the sent (vertex, label) rows are exchanged
    # explicitly on vertex alone: combining them before the exchange
    # would place it on (vertex, label), and the per-vertex argmax would
    # then need a second exchange.
    with pinned(spark, edges_sym, dedup=False) as (e, n_part), vertex_table(
        vertices,
        # symmetrized input: every vertex appears as src, and the pinned
        # table is hash(src)-partitioned — exchange-free distinct
        e.select(F.col("src").alias("id")).distinct(),
        n_part,
    ) as verts:
        init = own_labels(verts)
        # LPA may oscillate on bipartite structures; hitting the cap
        # returns the last state rather than raising (the reference's
        # bounded loops, its src/pthreads/cc_pthreads.c:132).
        runner = FixpointRunner(
            spark, "lpa", checkpoint_dir=checkpoint_dir,
            max_iterations=max_iterations, raise_on_cap=False, n_part=n_part,
        )

        def step(state: DataFrame, it: int) -> DataFrame:
            counts = (
                send(e, state.select("vertex", "label"))
                .repartition(n_part, "vertex")
                .groupBy("vertex", "label")
                .agg(F.count("*").alias("cnt"))
            )
            # argmax by (cnt, -label): most frequent, smallest label on ties.
            # The ordering key is packed into ONE decimal(38,0):
            #   key = cnt·2^64 + (2^63−1 − label)
            # (cnt·2^64 ≤ 2^95 « 10^38 exact; the label offset spans (0, 2^64)
            # so the lexicographic (cnt, −label) order is preserved exactly,
            # for EVERY int64 label). Round 6, two reasons: a struct ordering
            # key forces the argmax into a SortAggregate — a full sort of the
            # (vertex, label, cnt) stream inside every iteration — while the
            # decimal key plans as a plain HashAggregate; and struct's
            # −label ANSI-overflows on a label of −2^63, which a 64-bit
            # hashed vertex id can genuinely be (regression test:
            # test_lpa_long_min_label).
            # shuffle_hash hint on the join-back: without it AQE flips the
            # left join to a broadcast once `best` looks small — a serial
            # driver-side build every iteration (see cc_label_propagation)
            key = F.col("cnt").cast("decimal(38,0)") * F.lit(Decimal(2**64)).cast(
                "decimal(38,0)"
            ) + (
                F.lit(Decimal(2**63 - 1)).cast("decimal(38,0)")
                - F.col("label").cast("decimal(38,0)")
            )
            best = counts.groupBy("vertex").agg(
                F.max_by("label", key).alias("new_label")
            ).hint("shuffle_hash")
            return (
                state.select("vertex", F.col("label").alias("old_label"))
                .join(best, "vertex", "left")
                .select(
                    "vertex",
                    F.coalesce("new_label", F.col("old_label")).alias("label"),
                    "old_label",
                )
            )

        def converged(got: dict, it: int):
            return got["changed"] or 0, {}

        final = runner.run(
            init.withColumn("old_label", F.col("label")),
            step,
            [F.sum((F.col("label") != F.col("old_label")).cast("long")).alias("changed")],
            converged,
        )
    return final.select("vertex", "label"), runner
