"""Session factory: the package ships to workers once per SparkContext,
and the driver JVM runs the Parallel collector."""

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


def test_driver_runs_parallel_collector(spark):
    """The driver JVM (in local mode also every task's heap) runs the
    Parallel collector that ``get_spark`` selects."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    names = {gc.getName() for gc in mx.getGarbageCollectorMXBeans()}
    assert names == {"PS Scavenge", "PS MarkSweep"}


def test_driver_java_options_compose_with_callers():
    """The collector flag leads the caller's default options and is left
    out when the caller selects a collector: HotSpot refuses to start
    with two ("Multiple garbage collectors selected")."""
    from parallel_connected_components_spark.session import (
        DEFAULT_JAVA_OPTIONS as DEFAULT,
        DRIVER_GC,
        EXTRA_JAVA_OPTIONS as EXTRA,
        driver_java_options,
    )

    def opts(default=None, extra=None, env=None):
        conf = {k: v for k, v in ((DEFAULT, default), (EXTRA, extra)) if v is not None}
        return driver_java_options(conf, env or {})

    assert opts() == DRIVER_GC
    # the benchmark's own extraJavaOptions ride next to it
    assert opts(extra="-XX:-UsePerfData") == DRIVER_GC
    assert opts(default="-Xss4m") == f"{DRIVER_GC} -Xss4m"
    assert opts(extra="-Xss4m -XX:+UseG1GC") == ""
    assert opts(default="-XX:+UseZGC -Xss4m") == "-XX:+UseZGC -Xss4m"
    assert opts(default="-Xss4m", extra="-XX:+UseSerialGC") == "-Xss4m"
    for var in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS"):
        assert opts(env={var: "-XX:+UseShenandoahGC"}) == ""
    # flags that only mention GC select nothing
    for flag in ("-XX:-UseG1GC", "-XX:+UseGCOverheadLimit",
                 "-XX:+UseAdaptiveSizePolicyWithSystemGC"):
        assert opts(extra=flag) == DRIVER_GC, flag
