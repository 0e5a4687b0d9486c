"""Salted-aggregation skew utilities + hypothesis property tests for CC
(the reference's randomized-input layer, SURVEY.md §5, upgraded to real
property-based testing)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from parallel_connected_components_spark.operators import (
    cc_alternating_stars,
    symmetrize,
    union_find_oracle,
)
from parallel_connected_components_spark.operators.skew import (
    packed_adjacency,
    salted_topk_per_key,
)


def test_packed_adjacency_matches_plain_collect(spark, golden_edges):
    sym = symmetrize(golden_edges)
    got = {r["id"]: r["neighbors"] for r in packed_adjacency(sym, num_salts=4).collect()}
    assert got == {0: [1, 2], 1: [0, 2], 2: [0, 1], 3: [4], 4: [3, 5], 5: [4]}


def test_packed_adjacency_hub(spark):
    # hub vertex 0 connected to 1..500: salted two-stage collect must
    # reassemble the full neighbor list
    edges = spark.range(1, 501).select(F.lit(0).alias("src"), F.col("id").alias("dst"))
    sym = symmetrize(edges)
    got = {r["id"]: r["neighbors"] for r in packed_adjacency(sym, num_salts=8).collect()}
    assert got[0] == list(range(1, 501))
    assert got[17] == [0]


def test_salted_topk_matches_window(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", "event_id", "value"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    plain = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 3")
        .select("user_id", "event_id")
    )
    salted = salted_topk_per_key(ev, "user_id", "value", k=3, tiebreak_col="event_id").select(
        "user_id", "event_id"
    )
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)), min_size=0, max_size=120
    )
)
def test_cc_matches_oracle_on_arbitrary_graphs(spark, edges):
    """Any edge multiset (self-loops and duplicates included) → labels
    equal the union-find oracle's — the reference's cross-verification
    made adversarial."""
    df = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    labels = {r["vertex"]: r["label"] for r in cc_alternating_stars(spark, df)[0].collect()}
    # oracle restricted to non-self-loop edges: vertices appearing only
    # in self-loops are isolated and (absent a vertex table) unreported
    expect = union_find_oracle([(u, v) for u, v in edges if u != v])
    assert labels == expect


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=80
    ),
)
def test_label_prop_prune_matches_oracle_fuzz(spark, edges):
    """Adversarial check of frontier label propagation (only changed
    vertices send): arbitrary graphs must equal the union-find oracle.
    (Named after the deleted edge-pruning path it used to fuzz.)"""
    from parallel_connected_components_spark.operators import (
        cc_label_propagation,
        symmetrize,
    )

    clean = [(u, v) for u, v in edges if u != v]
    if not clean:
        return
    df = spark.createDataFrame(clean, "src long, dst long")
    labels = {
        r["vertex"]: r["label"]
        for r in cc_label_propagation(spark, symmetrize(df))[0].collect()
    }
    assert labels == union_find_oracle(clean)
