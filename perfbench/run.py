"""Benchmark of the link-graph engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload crawl-web --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. A run generates the workload's inputs
for the seed once (``gen.py``), starts a Spark session, loads the inputs
and runs one cold pass (together: ``setup_s``), then runs warm passes
until ``--seconds`` have passed. Every pass checks its outputs against the
oracle answers; a mismatch or an exception counts as a failed operation.

``--trace 0`` reports the end-to-end metrics (medians over the warm
passes). ``--trace 1`` interleaves traced and untraced warm passes and
reports the per-layer metrics of the traced ones, plus the tracing
overhead; the spans go to ``perfbench/.work/runs/``. The last line of stdout
is the result object. ``METRICS.md`` lists every metric.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
MIN_WARM_PASSES = 2

from gen import ensure_inputs  # noqa: E402
from procfs import PeakRss, host_steal_s, tree_cpu_s  # noqa: E402
from spans import NullTracer, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

E2E_UNITS = {"cpu_s": "s", "shuffle_bytes": "bytes", "setup_s": "s"}


def _isolate_files() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    for d in ("tmp", "spark-local", "data", "runs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")


def _start_spark(slots: int):
    from parallel_connected_components_spark.session import get_spark

    return get_spark("perfbench", cores=slots, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # no hsperfdata files under /tmp; JVM temp files stay in the checkout
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    })


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _hygiene(spark, wl) -> None:
    """Between passes: drop caches, collect both heaps, remove snapshots."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    wl.cleanup()


def _cache_state(spark) -> tuple[int, float]:
    jsc = spark.sparkContext._jsc
    mb = sum(i.memSize() for i in jsc.sc().getRDDStorageInfo()) / 1e6
    return jsc.getPersistentRDDs().size(), mb


def _snapshots(root: str) -> tuple[int, int]:
    """(snapshot count, bytes) the table layer left under ``root``."""
    snaps = size = 0
    for dirpath, dirnames, filenames in os.walk(root):
        snaps += sum(d.startswith("snap=") for d in dirnames)
        size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in filenames)
    return snaps, size


class Passes:
    """Runs passes and counts them, with their failures."""

    def __init__(self, rss: PeakRss) -> None:
        self.rss = rss
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def one_pass(self, spark, wl, tr, meter) -> dict:
        """Run, time and check one pass. → record (``ok`` False on failure)."""
        self.attempted += 1
        rec = {"ok": False}
        self.rss.lap()
        st0, c0, t0 = host_steal_s(), tree_cpu_s(), time.perf_counter()
        with tr.span("pass") as span:
            try:
                res = wl.run_pass(tr)
            except Exception:  # noqa: BLE001 — a failed operation, not a crash
                res = None
                self.failures.append(traceback.format_exc())
            rec["job_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s() - c0
            rec["peak_rss_mb"] = self.rss.lap() / 1e6
            rec["host_steal_s"] = host_steal_s() - st0
            if res is not None:
                with tr.span("verify"):
                    try:
                        bad = wl.check(res)
                    except Exception:  # noqa: BLE001 — malformed output
                        bad = [traceback.format_exc()]
                rec["ok"] = not bad
                self.failures.extend(bad)
        rec["span"] = span
        if meter is not None:
            rec["shuffle_bytes"] = meter.pop(spark)
        rec["leaked_rdds"], rec["storage_mb"] = _cache_state(spark)
        rec["snapshots"], rec["snapshot_bytes"] = _snapshots(wl.snapshot_root)
        rec["res"] = res
        self.failed += not rec["ok"]
        return rec


class Meter:
    """Exact shuffle bytes between two calls, from the engine's ShuffleMeter."""

    def __init__(self, spark) -> None:
        from parallel_connected_components_spark.plans.runner import ShuffleMeter

        self.m = ShuffleMeter()
        self.last = sum(self.m.totals(spark, drain=True))

    def pop(self, spark) -> int:
        now = sum(self.m.totals(spark, drain=True))
        delta, self.last = now - self.last, now
        return delta


def _layer_metrics(tr: Tracer, rec: dict, slots: int) -> dict:
    """Per-layer numbers of one traced pass."""
    res, span = rec["res"], rec["span"]
    kids = {c["name"]: c for c in tr.children(span)}
    m = {k: 0.0 for k in PER_LAYER}
    ext = kids.get("extract")
    if ext:
        m["extract.s"], m["extract.task_cpu_s"] = ext["dur_s"], ext["task_cpu_s"]
        m["extract.edges"] = res.info["extract.edges"]
    if "symmetrize" in kids:
        m["graph.symmetrize_s"] = kids["symmetrize"]["dur_s"]
    work = loop = 0.0
    for op, runner in res.runners.items():
        its = [x.seconds for x in runner.metrics if x.changed >= 0]
        n = runner.num_iterations
        m[f"{op}.iterations"] = n
        m[f"{op}.loop_s"] = sum(its)
        m[f"{op}.iter_s"] = statistics.median(its)
        m[f"{op}.overhead_s"] = kids[op]["dur_s"] - sum(its)
        m[f"{op}.shuffle_bytes_per_iter"] = kids[op]["shuffle_bytes"] / n
        work += res.edge_counts[op] * n
        loop += sum(its)
    m["runner.edges_per_s"] = work / loop if loop else 0.0
    if "scc" in kids:
        m["scc.s"] = kids["scc"]["dur_s"]
        m["scc.shuffle_bytes"] = kids["scc"]["shuffle_bytes"]
        for k in ("rounds", "trim_passes", "color_steps", "mark_steps"):
            m[f"scc.{k}"] = res.info[f"scc.{k}"]
    m["spark.jobs"], m["spark.stages"], m["spark.tasks"] = (
        span["jobs"], span["stages"], span["tasks"])
    m["spark.slot_util"] = span["run_s"] / (rec["job_s"] * slots)
    m["spark.task_cpu_s"], m["spark.gc_s"] = span["task_cpu_s"], span["gc_s"]
    m["spark.spill_bytes"] = span["spill_bytes"]
    m["spark.driver_cpu_s"] = rec["cpu_s"] - span["task_cpu_s"]
    m["tables.snapshots"], m["tables.snapshot_bytes"] = rec["snapshots"], rec["snapshot_bytes"]
    m["cache.leaked_rdds"], m["cache.storage_mb"] = rec["leaked_rdds"], rec["storage_mb"]
    m["proc.peak_rss_mb"] = rec["peak_rss_mb"]
    m["host.steal_s"] = rec["host_steal_s"]
    m["trace.pass_self_s"] = tr.self_s(span)
    return m


def _skew_ratio(tr: Tracer, rec: dict, report: list[dict]) -> float:
    """Slowest-task time over median-task time, summed over the pass's
    operator stages in the engine's task_skew_report: how much longer
    those stages ran than they would with balanced tasks."""
    ops = [c for c in tr.children(rec["span"]) if c["name"] in ("cc", "pagerank", "lpa", "scc")]
    ids = {sid for c in ops for sid in c["stage_ids"]}
    stages = [r for r in report if r["stage_id"] in ids]
    p50 = sum(r["p50_ms"] for r in stages)
    return sum(r["max_ms"] for r in stages) / p50 if p50 else 1.0


PER_LAYER = {
    "extract.s": "s", "extract.task_cpu_s": "s", "extract.edges": "count",
    "graph.symmetrize_s": "s",
    **{f"{op}.{k}": u for op in ("cc", "pagerank", "lpa") for k, u in (
        ("overhead_s", "s"), ("iterations", "count"), ("iter_s", "s"),
        ("loop_s", "s"), ("shuffle_bytes_per_iter", "bytes"))},
    "scc.s": "s", "scc.shuffle_bytes": "bytes", "scc.rounds": "count",
    "scc.trim_passes": "count", "scc.color_steps": "count", "scc.mark_steps": "count",
    "runner.edges_per_s": "edges/s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.slot_util": "ratio", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.spill_bytes": "bytes", "spark.driver_cpu_s": "s", "spark.skew_ratio": "ratio",
    "tables.snapshots": "count", "tables.snapshot_bytes": "bytes",
    "cache.leaked_rdds": "count", "cache.storage_mb": "MB", "proc.peak_rss_mb": "MB",
    "host.steal_s": "s",
    "session.start_s": "s", "setup.load_s": "s", "setup.cold_pass_s": "s",
    "pass.job_s": "s", "trace.overhead_s": "s", "trace.pass_self_s": "s",
}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    _isolate_files()
    sys.path.insert(0, ROOT)
    import parallel_connected_components_spark  # noqa: F401 — fail fast without the engine
    import pyspark

    path, manifest = ensure_inputs(os.path.join(WORK, "data"), args.workload, args.seed)
    slots = len(os.sched_getaffinity(0))
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "slots": slots,
        "spark": pyspark.__version__, "python": platform.python_version(),
        "loadavg_1m_start": os.getloadavg()[0], "inputs": manifest,
    }
    rss = PeakRss()
    run = Passes(rss)
    tr = Tracer() if args.trace else NullTracer()
    scratch = os.path.join(WORK, "scratch")
    shutil.rmtree(scratch, ignore_errors=True)

    with tr.span("run"):
        with tr.span("setup"):
            t0 = time.perf_counter()
            with tr.span("session"):
                spark = _start_spark(slots)
            if args.trace:
                tr.sc = spark.sparkContext
            t1 = time.perf_counter()
            with tr.span("load"):
                wl = WORKLOADS[args.workload](spark, path, manifest, scratch)
            t2 = time.perf_counter()
            cold = run.one_pass(spark, wl, tr, None)
        setup = {"session.start_s": t1 - t0, "setup.load_s": t2 - t1,
                 "setup.cold_pass_s": cold["job_s"]}
        context["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        untraced, traced = [], []
        meter = Meter(spark)
        deadline = time.perf_counter() + args.seconds
        min_passes = 2 * MIN_WARM_PASSES if args.trace else MIN_WARM_PASSES
        while time.perf_counter() < deadline or len(untraced) + len(traced) < min_passes:
            _hygiene(spark, wl)
            # --trace 1 orders passes traced, untraced, untraced, traced, ...
            # so a warm-up trend cancels out of the tracing overhead
            if args.trace and (len(untraced) + len(traced)) % 4 in (0, 3):
                rec = run.one_pass(spark, wl, tr, meter)
                if rec["ok"]:
                    tr.read_counts(tr.spans)
                    rec["layers"] = _layer_metrics(tr, rec, slots)
                traced.append(rec)
            else:
                rec = run.one_pass(spark, wl, NullTracer(), meter)
                untraced.append(rec)
            rec["res"] = None
    if args.trace:
        from parallel_connected_components_spark.plans.runner import task_skew_report

        report = task_skew_report(spark, min_tasks=slots, min_stage_ms=0)
        for rec in traced:
            if "layers" in rec:
                rec["layers"]["spark.skew_ratio"] = _skew_ratio(tr, rec, report)
    _stop_spark(spark)
    context["run_peak_rss_mb"] = rss.close() / 1e6
    context["loadavg_1m_end"] = os.getloadavg()[0]

    def med(recs, key):
        return statistics.median(r[key] for r in recs)

    if args.trace:
        layers = [r["layers"] for r in traced if "layers" in r] or [dict.fromkeys(PER_LAYER, 0.0)]
        values = {k: statistics.median(m[k] for m in layers) for k in PER_LAYER
                  if k not in setup and k not in ("pass.job_s", "trace.overhead_s")}
        values.update(setup)
        values["pass.job_s"] = med(untraced, "job_s")
        values["trace.overhead_s"] = med(traced, "job_s") - values["pass.job_s"]
        units = PER_LAYER
        tr.write(os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-spans.jsonl"),
                 context)
    else:
        values = {"cpu_s": med(untraced, "cpu_s"), "shuffle_bytes": med(untraced, "shuffle_bytes"),
                  "setup_s": sum(setup.values())}
        units = E2E_UNITS
    context["passes"] = [
        {k: v for k, v in r.items() if k not in ("span", "res")}
        for r in [cold] + untraced + traced
    ]
    with open(os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump({"context": context, "metrics": values}, f, indent=1, default=str)
    for msg in run.failures:
        print(f"check failed: {msg}", file=sys.stderr)
    print(json.dumps({"context": {k: v for k, v in context.items()
                                  if k not in ("passes", "inputs")}}))
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
