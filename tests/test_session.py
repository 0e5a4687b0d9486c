"""Session factory: the package ships to workers once per SparkContext."""

from __future__ import annotations

import os


def test_package_ships_once_per_context(spark, monkeypatch):
    """A ``get_spark`` that returns the running session adds no file: the
    zip was shipped when the context started (a second ``addPyFile`` of
    one path is ignored with a warning). The zip lies under the context's
    ``SparkFiles`` root, which Spark deletes when the context stops."""
    from pyspark import SparkContext, SparkFiles

    from parallel_connected_components_spark.session import get_spark

    added = []
    add = SparkContext.addPyFile

    def spy(self, path):
        added.append(path)
        return add(self, path)

    monkeypatch.setattr(SparkContext, "addPyFile", spy)
    # the fixture's own arguments, so the session's settings stay as they are
    args = dict(
        cores=spark.sparkContext.defaultParallelism,
        shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    for _ in range(2):
        assert get_spark("pccs-tests", **args) is spark
    assert added == []
    root = SparkFiles.getRootDirectory()
    assert os.path.isfile(
        os.path.join(root, "pyfiles", "parallel_connected_components_spark.zip")
    )
