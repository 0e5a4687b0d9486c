"""Local simulation of the driver's correctness gate: run every
__spark_entry__.queries() entry at a given sf dir, compare against
oracle_sql() via DuckDB — row count, column names, and an
order-insensitive value comparison (sorted rows, columns sorted by name).

The last line reports the generated classes the run compiled and the
driver JVM's JIT and GC seconds. On a cold session the compile count
bounds the codegen working set of all queries; session.py sizes Spark's
codegen cache from it, so re-measure when queries change.

Usage: python scripts/check_entry.py [sf_dir]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from parallel_connected_components_spark.plans.runner import JvmMeter  # noqa: E402
from parallel_connected_components_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(normalize(r[i]) for i in order) for r in rows)


def main(sf_dir: str, only: list[str] | None = None) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    spark = get_spark("check-entry")
    jvm_meter = JvmMeter(spark)
    jvm0 = jvm_meter.totals()
    qs, oracles = E.queries(), E.oracle_sql()
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    failures = 0
    for name, fn in qs.items():
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            cols = [c.lower() for c in df.columns]
            rows = [tuple(r) for r in df.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failures += 1
            continue
        dt = time.perf_counter() - t0
        if name not in oracles:
            status = "rows-only"
            ok = len(rows) >= 0
            print(f"ok    {name}: {len(rows)} rows [{status}] ({dt:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0].lower() for d in res.description]
            orows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {exc}")
            failures += 1
            continue
        problems = []
        if sorted(cols) != sorted(ocols):
            problems.append(f"columns {sorted(cols)} != {sorted(ocols)}")
        if len(rows) != len(orows):
            problems.append(f"rowcount {len(rows)} != {len(orows)}")
        if not problems:
            a, b = rowset(cols, rows), rowset(ocols, orows)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures += 1
        else:
            print(f"ok    {name}: {len(rows)} rows match oracle ({dt:.1f}s)")
    n_compiles, jit_ms, gc_ms = (b - a for a, b in zip(jvm0, jvm_meter.totals()))
    spark.stop()
    print(f"\n{len(qs)} queries, {len(oracles)} with oracle, {failures} failures")
    print(f"codegen: {n_compiles} classes compiled, {jit_ms / 1000:.1f} s JIT,"
          f" {gc_ms / 1000:.1f} s GC")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(
        main(
            sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
            only=sys.argv[2:] or None,
        )
    )
