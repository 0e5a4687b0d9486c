"""Bucketed edge tables — the one-time-shuffle deployment format.

Every iterative operator's opening move is :func:`..operators.graph.
pin_edges`: repartition the edge table on its message-join key and pin
it, so per-iteration joins move only the (small) state side. That
exchange costs a full pass over the edge bytes PER JOB — fine at
sandbox scale, but on a 100 TB link graph the pin shuffle IS the
dominant cost of every cold job, repaid nothing across jobs.

Spark's answer is hash bucketing: write the table CLUSTERED BY (src)
INTO n BUCKETS once, and every subsequent scan reports
``HashPartitioning(src, n)`` straight off the files — the planner then
exchanges only the other join side (verified by
tests/test_plan_shape.py: the executed iteration plan shows
``Bucketed: true`` and zero Exchange above the scan). Bucket hashing is
the same Murmur3 ``repartition(n, "src")`` uses, so a bucketed scan is
plan-equivalent to a pinned table, minus the per-job exchange.

The reference has no persistent format at all (it re-reads MTX and
rebuilds CSR per run, /root/reference/src/mtx_reader.c); this module is
the scale path the north rule's resumable-sink requirement implies.

Sandbox note: the session uses the in-memory catalog (no Hive
metastore), so table registrations die with the session. The layout is
therefore self-describing: a ``_bucketing.json`` sidecar carries
(num_buckets, key, schema), and :func:`load_bucketed_edges`
re-registers the external table over the existing bucket files when the
catalog doesn't know it. Bucket membership lives in the file NAMES
(part-*_NNNNN.*), so re-registration is metadata-only — no data moves.
On a real cluster with a shared metastore the re-registration branch
simply never runs.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

_SIDE = "_bucketing.json"


def save_bucketed_edges(
    spark: SparkSession,
    edges: DataFrame,
    name: str,
    path: str,
    num_buckets: int | None = None,
    key: str = "src",
) -> int:
    """Write ``edges`` as an external parquet table bucketed (and
    sorted) by ``key``. Returns the bucket count.

    The explicit ``repartition(n, key)`` before the write aligns write
    tasks with buckets (one file per bucket instead of one file per
    bucket PER TASK — a small-files explosion at high parallelism).
    """
    n = num_buckets or spark.sparkContext.defaultParallelism
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        # cast pins the on-disk type to what the sidecar re-registration
        # declares (BIGINT) — an int32 edge table would otherwise write
        # INT32 parquet that the reloaded schema can't read
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .repartition(n, key)
        .write.mode("overwrite")
        .bucketBy(n, key)
        # secondary sort column matches pin_edges' in-partition sort:
        # fully deterministic layout, and the second column delta-encodes
        .sortBy(key, "dst" if key == "src" else "src")
        .option("path", path)
        .format("parquet")
        .saveAsTable(name)
    )
    with open(os.path.join(path, _SIDE), "w", encoding="utf-8") as f:
        json.dump({"num_buckets": n, "key": key, "columns": ["src", "dst"]}, f)
    return n


def load_bucketed_edges(
    spark: SparkSession, name: str, path: str | None = None
) -> tuple[DataFrame, int]:
    """→ (edges scan with bucket partitioning, num_buckets).

    If the session catalog doesn't know ``name`` (fresh session,
    in-memory catalog), re-register the external table from ``path``
    using the sidecar's bucketing spec — metadata only, the bucket files
    are untouched.
    """
    if not spark.catalog.tableExists(name):
        if path is None:
            raise FileNotFoundError(
                f"table {name} is not in the catalog and no path was given"
            )
        with open(os.path.join(path, _SIDE), "r", encoding="utf-8") as f:
            side = json.load(f)
        cols = ", ".join(f"{c} BIGINT" for c in side["columns"])
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING parquet "
            f"CLUSTERED BY ({side['key']}) SORTED BY ({side['key']}) "
            f"INTO {side['num_buckets']} BUCKETS LOCATION '{path}'"
        )
    elif path is not None:
        # a same-name registration pointing elsewhere must fail loudly —
        # silently returning the OTHER dataset's edges would hand the
        # caller the wrong graph
        loc = _table_location(spark, name)
        if loc is not None and os.path.realpath(loc) != os.path.realpath(path):
            raise ValueError(
                f"table {name} is registered at {loc!r}, not the requested "
                f"{path!r} — drop it or use a different name"
            )
    n = _num_buckets(spark, name)
    return spark.table(name), n


def pin_bucketed_edges(spark: SparkSession, name: str, path: str | None = None):
    """Load + persist + materialize a bucketed edge table as an
    ``operators.graph.Pinned`` (edges, num_buckets), which the iterative
    operators take in place of a DataFrame and use without a pin
    exchange. The persisted InMemoryRelation inherits the scan's bucket
    partitioning, so the in-loop joins co-locate without any exchange on
    the edge side (same mechanism as pinned-repartition, PLANS.md §7
    lesson 18). Caller owns the unpersist."""
    from ..operators.graph import Pinned  # operators import sources at load

    e, n = load_bucketed_edges(spark, name, path)
    e = e.persist()
    e.count()
    return Pinned(e, n)


def _num_buckets(spark: SparkSession, name: str) -> int:
    for row in spark.sql(f"DESCRIBE FORMATTED {name}").collect():
        if row["col_name"].strip() == "Num Buckets":
            return int(row["data_type"])
    raise ValueError(f"table {name} is not bucketed")


def _table_location(spark: SparkSession, name: str) -> str | None:
    for row in spark.sql(f"DESCRIBE FORMATTED {name}").collect():
        if row["col_name"].strip() == "Location":
            loc = row["data_type"].strip()
            return loc[len("file:"):] if loc.startswith("file:") else loc
    return None
