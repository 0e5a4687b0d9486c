"""The benchmark scripts in scripts/ at toy size: each smoke test calls a
script's ``run`` on the shared session and renders its BENCH/BASELINE.md
section without writing it. Every script is smoke-tested here or is one
of the gate tools, so an API change cannot leave a script broken."""

from __future__ import annotations

import os

from scripts import bucketed_bench, highdiam_bench, skew_stress_bench

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
# the oracle gate (61 queries vs DuckDB) and the loop plan-shape gate
GATE_TOOLS = {"check_entry", "capture_step_plans"}


def _rendered_md(monkeypatch, module, write, *args) -> str:
    """The section ``write(*args)`` would splice into BENCH/BASELINE.md."""
    got = []
    monkeypatch.setattr(module, "splice_md", lambda path, begin, end, text: got.append(text))
    write(*args)
    assert len(got) == 1
    return got[0]


def test_smoke_highdiam_bench(spark, monkeypatch):
    res = highdiam_bench.run(spark, 10, 8, lp_cap=2)
    rows = {r["algorithm"].split(" (")[0]: r for r in res["rows"]}
    assert set(rows) == {"labelprop", "alternating stars", "two-phase", "cc_auto"}
    assert rows["labelprop"]["capped"] and rows["labelprop"]["iterations"] == 2
    assert all(rows[a]["exact"] for a in ("alternating stars", "two-phase", "cc_auto"))
    # the stall switch fires on a grid and hands over to auto-partitioned two-phase
    auto = rows["cc_auto"]
    assert auto["path"] == "lp+two_phase"
    assert auto["lp_iters"] < res["diameter"]
    assert auto["partition"] in ("range", "hash")
    md = _rendered_md(monkeypatch, highdiam_bench, highdiam_bench.write_md, [res], 8)
    assert md.startswith(highdiam_bench.BEGIN_MARK) and md.endswith(highdiam_bench.END_MARK)


def test_smoke_bucketed_bench(spark, monkeypatch, tmp_path):
    # four 50-vertex stars: LP converges in a few iterations
    edges = spark.createDataFrame(
        [(i, i - i % 50) for i in range(200) if i % 50], "src long, dst long"
    )
    out = bucketed_bench.run(spark, edges, str(tmp_path), reps=1)
    assert out["edges_sym"] == 2 * 196
    assert out["num_components"] == 4
    assert out["pin"]["iters"] == out["bucketed"]["iters"]
    assert not spark.catalog.tableExists(bucketed_bench.TABLE)
    md = _rendered_md(monkeypatch, bucketed_bench, bucketed_bench.write_md, out)
    assert "| bucketed scan |" in md


def test_smoke_skew_stress_bench(spark, monkeypatch):
    out = skew_stress_bench.run(spark, 500, iterations=2, min_stage_ms=0)
    assert set(out["ops"]) == {"pagerank", "lpa_8iter", "cc_labelprop_frontier"}
    for r in out["ops"].values():
        assert r["qualifying_stages"] >= 1 and r["worst_ratio"] >= 1.0
    md = _rendered_md(monkeypatch, skew_stress_bench, skew_stress_bench._write_md, out)
    assert "| cc_labelprop_frontier |" in md


def test_every_script_is_smoke_tested_or_a_gate_tool():
    scripts = {f[:-3] for f in os.listdir(SCRIPTS) if f.endswith(".py")}
    smoke = {n[len("test_smoke_"):] for n in globals() if n.startswith("test_smoke_")}
    allowed = smoke | GATE_TOOLS
    if any("mdsplice" in open(os.path.join(SCRIPTS, f"{n}.py")).read() for n in smoke & scripts):
        allowed.add("mdsplice")
    assert scripts <= allowed, f"untested scripts: {sorted(scripts - allowed)}"
