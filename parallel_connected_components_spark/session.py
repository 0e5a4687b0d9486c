"""SparkSession factory.

The reference parallelizes with OpenMP/pthreads/MPI thread- and
rank-sweeps (/root/reference/scripts/run_benchmarks.sh:40-74); here
parallelism is the Spark scheduler, configured once. Must-set configs per
SURVEY.md §4: AQE on (runtime skew-join splitting + partition coalescing —
the analog of the reference's dynamic scheduling,
/root/reference/src/pthreads/afforest_simple.c:622-649), Arrow on (all
Python UDFs are vectorized per BASELINE.json input_hint), UTC session
timezone (DuckDB oracle parity), shuffle partitions sized to cores rather
than the 200 default.

The driver JVM runs the Parallel (throughput) collector, not the JDK's
default G1. The engine is driver-bound: its short supersteps spend their
CPU on Catalyst, codegen and JIT in the driver JVM, and a throughput
collector pauses briefly instead of running concurrent marking threads
beside them. Per warm hub-skew pass, G1's collector threads used
0.6-10.5 s of CPU in per-thread probes against 0.1-0.4 s for Parallel's,
and the benchmark's hub-skew ``cpu_s`` fell 13-18% in median
(BENCH/BASELINE.md, "Driver collector"). In local mode the driver JVM
also runs every task, so this covers the engine's whole heap. The flag
goes in ``spark.driver.defaultJavaOptions``, which Spark puts in front
of ``spark.driver.extraJavaOptions``: a caller's ``extraJavaOptions``
(the benchmark passes its own) add to it instead of replacing it.
Executor JVMs on a real cluster keep the collector their deployment
gives them; that layout is unmeasured.
"""

from __future__ import annotations

import os
import re
import zipfile
from collections.abc import Mapping

from pyspark import SparkFiles
from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Worker-thread count: $SPARK_GRAFT_CPUS, else all cores."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


DEFAULT_JAVA_OPTIONS = "spark.driver.defaultJavaOptions"
EXTRA_JAVA_OPTIONS = "spark.driver.extraJavaOptions"
DRIVER_GC = "-XX:+UseParallelGC"
# A HotSpot flag that selects a collector; the JVM refuses to start when
# two are selected ("Multiple garbage collectors selected").
_SELECTS_GC = re.compile(
    r"-XX:\+Use(?:Serial|Parallel|ParallelOld|G1|ConcMarkSweep|Z|Shenandoah|Epsilon)GC\b"
)
# Environment variables whose JVM options reach the driver JVM: the first
# two every HotSpot JVM reads, the last spark-submit's launcher passes on.
_JVM_ENV_OPTIONS = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")


def driver_java_options(
    extra_conf: Mapping[str, str], env: Mapping[str, str] = os.environ
) -> str:
    """The session's ``spark.driver.defaultJavaOptions``: the caller's own
    value from ``extra_conf``, led by :data:`DRIVER_GC` unless the caller
    already selects a collector, in the default or extra driver options
    or in an environment variable the driver JVM reads. A collector
    chosen in spark-defaults.conf or ``PYSPARK_SUBMIT_ARGS`` is not seen."""
    default = extra_conf.get(DEFAULT_JAVA_OPTIONS, "")
    chosen = [extra_conf.get(EXTRA_JAVA_OPTIONS, ""), default] + [
        env.get(var, "") for var in _JVM_ENV_OPTIONS
    ]
    if any(_SELECTS_GC.search(opts) for opts in chosen):
        return default
    return f"{DRIVER_GC} {default}".strip()


def get_spark(
    app_name: str = "parallel_connected_components_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores=None`` → ``local[$SPARK_GRAFT_CPUS or *]``. On a real cluster
    the same code runs via ``spark-submit --py-files`` with master unset
    here (spark-submit provides it); local mode is the sandbox substitute
    for the north rule's N / 4N executor sweep.
    """
    n = cores if cores is not None else default_parallelism()
    shuffle = shuffle_partitions if shuffle_partitions is not None else max(n, 8)
    # Under spark-submit on a cluster the master comes from the launcher;
    # standalone (tests, bench) we pin local[n].
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # 0.5 GB/core — the sandbox analog of a normally provisioned
        # executor. The old 8g flat default (0.25 GB/core at local[32],
        # thinner than any production layout) made the triangle family's
        # shuffle-hash builds fail at 18M edges: round-5 truss peel OOM'd
        # at 8g, clean at 16g (BENCH/BASELINE.md structural-family notes).
        # Round 6 (r5 advisor): sized to the requested core count instead
        # of a flat 16g, so a small-core host isn't asked for a JVM it
        # cannot launch; floor 4g, SPARK_GRAFT_DRIVER_MEM still overrides.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(4, (n + 1) // 2)}g"),
        )
        .config("spark.ui.enabled", "false")
        # The iteration runner reads cumulative shuffle bytes from the
        # app-status store (plans/runner.py:ShuffleMeter). Round 4 set
        # retainedStages=100000 to keep that total monotone under eviction
        # — which made every statusStore poll scan the app's ENTIRE stage
        # history at ~0.5 ms/stage of py4j round-trips, a measured
        # wall-clock regression on stage-heavy queries (BENCH_r04
        # pagerank_1e6 16.2s vs r3 14.5s). The meter is now incremental
        # and monotone under eviction by itself, so retention stays modest:
        # large enough that no stage completes AND evicts between two
        # per-iteration polls (a few stages apart), small enough that the
        # one-shot full scans (task_skew_report) stay sub-second.
        .config("spark.ui.retainedStages", "2000")
        # Codegen cache sized to the engine's working set. At Spark's
        # default of 100 entries one hub-skew benchmark pass (cc + lpa +
        # scc) overflows the cache, so every warm rerun recompiled 141
        # classes it had just run and the driver paid Janino plus HotSpot
        # JIT again; at 2200 a warm pass compiles none (BENCH/BASELINE.md,
        # "Codegen cache residency"). Sizing run: all 61 __spark_entry__
        # queries at sf0.01 on a cold session, cache set to 100000,
        # 4 cores, compiled 1093 classes (scripts/check_entry.py prints
        # the count); 2200 is that working set with a 2x margin. Static
        # conf: it applies when the session starts, and extra_conf below
        # still overrides it.
        .config("spark.sql.codegen.cache.maxEntries", "2200")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Input-split sizing for the local sandbox: bench/test parquet is
    # ~200MB in ~6MB files, and the default 128MB maxPartitionBytes
    # bin-packs that into 2-3 input partitions — the scan (and the
    # pandas-UDF extraction it feeds) then can't use more than 2-3
    # cores regardless of local[n] (measured: phase profile showed the
    # scan stage flat from 2→32 cores). 16MB ≈ one task per file here.
    # On a real cluster reading 100 TB the stock 128MB default is right
    # (files >> executors), so the override applies ONLY to local[...]
    # masters; SPARK_GRAFT_MAX_PARTITION_BYTES forces a value anywhere.
    env_split = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    if env_split is not None:
        builder = builder.config("spark.sql.files.maxPartitionBytes", env_split)
    elif master.startswith("local"):
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024)
        )
    # Shuffle spill through tmpfs when available: local-mode shuffles
    # otherwise serialize on one disk and flatten the core-scaling curve
    # (on a real cluster each executor brings its own disks/NVMe).
    shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm")
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        builder = builder.config("spark.local.dir", os.path.join(shm, "pccs-spark"))
    builder = builder.master(master)
    # Parallel collector for the driver JVM (module docstring), set
    # through defaultJavaOptions so a caller's extraJavaOptions still
    # reach the JVM; no flag is added when the caller picks a collector.
    conf = dict(extra_conf or {})
    if opts := driver_java_options(conf):
        conf[DEFAULT_JAVA_OPTIONS] = opts
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (addPyFile) — the
    in-process equivalent of ``spark-submit --py-files`` the north rule
    deploys with. Without it, pandas-UDF closures defined in this package
    unpickle on workers only when the consumer's CWD happens to contain
    the source tree (ModuleNotFoundError otherwise).

    Once per SparkContext: the zip is written under the context's
    ``SparkFiles`` root, which Spark deletes when the context stops, so a
    ``get_spark`` that returns the running session finds it there and
    ships nothing (a second ``addPyFile`` of one path only logs a
    warning), and no zip outlives its session."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    staging = os.path.join(SparkFiles.getRootDirectory(), "pyfiles")
    zip_path = os.path.join(staging, f"{pkg_name}.zip")
    if os.path.exists(zip_path):
        return
    os.makedirs(staging, exist_ok=True)
    with zipfile.ZipFile(zip_path, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    z.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
