"""CLI round trip for the bucketize → --bucketed deployment path.

Pins the r5 contract: a layout written from --mtx carries the header's
vertex universe in meta.json, so cc/pagerank --bucketed count isolated
vertices exactly like the direct --mtx path (reference parity:
graph_create allocates all n vertices from the MTX dims,
/root/reference/src/main.c).
"""

from __future__ import annotations

import json

import pytest


MTX = """%%MatrixMarket matrix coordinate pattern general
10 10 5
1 2
2 3
1 3
4 5
5 6
"""
# 0-indexed: {0,1,2} + {3,4,5} + isolated 6..9 -> 6 components.
N_COMPONENTS = 6


@pytest.fixture()
def cli(spark, monkeypatch):
    import parallel_connected_components_spark.__main__ as cli_mod

    # Reuse the session fixture; main()'s finally-stop must not kill it.
    monkeypatch.setattr(cli_mod, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    return cli_mod


def _last_json(capsys) -> dict:
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_bucketize_mtx_roundtrip_counts_isolated_vertices(
    cli, tmp_path, capsys
):
    mtx = tmp_path / "g.mtx"
    mtx.write_text(MTX)
    layout = tmp_path / "bkt_cli_mtx"

    cli.main(["bucketize", "--mtx", str(mtx), "--out", str(layout)])
    out = _last_json(capsys)
    assert out["num_buckets"] >= 1
    meta = json.loads((layout / "meta.json").read_text())
    assert meta["num_vertices"] == 10

    # labelprop (the auto default) over the sym table
    cli.main(["cc", "--bucketed", str(layout)])
    assert _last_json(capsys)["num_components"] == N_COMPONENTS

    # two_phase over the canon table, pre-partitioned
    cli.main(["cc", "--bucketed", str(layout), "--algorithm", "two_phase"])
    assert _last_json(capsys)["num_components"] == N_COMPONENTS

    # pagerank: teleport mass reaches the 4 isolated vertices -> 10 rows
    cli.main(
        ["pagerank", "--bucketed", str(layout), "--out",
         str(tmp_path / "ranks"), "--max-iterations", "20"]
    )
    pr = _last_json(capsys)
    assert pr["iterations"] >= 1
    ranks = cli.get_spark().read.parquet(str(tmp_path / "ranks"))
    assert ranks.count() == 10


def test_bucketize_pages_layout_has_no_vertex_universe(
    cli, spark, tmp_path, capsys
):
    from parallel_connected_components_spark.sources import gen_pages

    pages_dir = tmp_path / "pages"
    gen_pages(spark, 200, 4, 2, seed=7).write.parquet(str(pages_dir))
    layout = tmp_path / "bkt_cli_pages"

    cli.main(["bucketize", "--pages", str(pages_dir), "--out", str(layout)])
    _last_json(capsys)
    meta = json.loads((layout / "meta.json").read_text())
    assert "num_vertices" not in meta
    assert cli._bucketed_vertices(spark, str(layout)) is None

    # --bucketed cc still runs, deriving vertices from edges, and matches
    # the direct --pages path on the same input
    cli.main(["cc", "--bucketed", str(layout)])
    bucketed_n = _last_json(capsys)["num_components"]
    cli.main(["cc", "--pages", str(pages_dir), "--algorithm", "labelprop"])
    assert _last_json(capsys)["num_components"] == bucketed_n


def test_cli_scc_mtx_counts_cycle_and_isolated(cli, tmp_path, capsys):
    # 0-indexed: DAG {0,1,2} (3 singletons) + cycle {3,4,5} (1 SCC)
    # + isolated 6..9 from the header range -> 8 SCCs
    mtx = tmp_path / "d.mtx"
    mtx.write_text(
        "%%MatrixMarket matrix coordinate pattern general\n"
        "10 10 6\n1 2\n2 3\n1 3\n4 5\n5 6\n6 4\n"
    )
    cli.main(["scc", "--mtx", str(mtx)])
    out = _last_json(capsys)
    assert out["num_sccs"] == 8
    assert out["rounds"] >= 1


def test_cli_kcore_mtx_triangle_plus_tail(cli, tmp_path, capsys):
    # 0-indexed: triangle {0,1,2} (core 2) + path 3-4-5 (core 1)
    # + isolated 6..9 (core 0) from the header range
    mtx = tmp_path / "k.mtx"
    mtx.write_text(MTX)
    cli.main(["kcore", "--mtx", str(mtx)])
    out = _last_json(capsys)
    assert out["max_core"] == 2
    assert out["vertices_core_ge2"] == 3
    assert out["rounds"] >= 1


def test_cli_bfs_seeds_and_cap(cli, tmp_path, capsys):
    # directed 0->1->2, 0->2; 3->4->5 unreachable from 0
    mtx = tmp_path / "b.mtx"
    mtx.write_text(MTX)
    cli.main(["bfs", "--mtx", str(mtx), "--seeds", "0"])
    assert _last_json(capsys)["reached"] == 3
    cli.main(["bfs", "--mtx", str(mtx), "--seeds", "0,3", "--max-hops", "1"])
    out = _last_json(capsys)
    assert out["reached"] == 5  # {0,1,2} via 0 (2 is 1 hop: edge 0->2) + {3,4}
    assert out["rounds"] == 1


def test_cli_anf_reports_neighborhood_function(cli, tmp_path, capsys):
    mtx = tmp_path / "a.mtx"
    mtx.write_text(MTX)
    cli.main(["anf", "--mtx", str(mtx), "--rounds", "4"])
    out = _last_json(capsys)
    assert out["rounds"] >= 1
    nf = out["neighborhood_function"]
    assert len(nf) == out["rounds"]
    assert all(b >= a for a, b in zip(nf, nf[1:]))
    assert 1 <= out["effective_diameter_90"] <= out["rounds"]


def test_cli_bfs_requires_seeds(cli, tmp_path):
    mtx = tmp_path / "s.mtx"
    mtx.write_text(MTX)
    with pytest.raises(SystemExit):
        cli.main(["bfs", "--mtx", str(mtx)])


def test_bucketed_rejects_incompatible_flags(cli, tmp_path):
    with pytest.raises(SystemExit):
        cli.main(["cc", "--bucketed", str(tmp_path), "--resume"])
    with pytest.raises(SystemExit):
        cli.main(
            ["pagerank", "--bucketed", str(tmp_path),
             "--checkpoint-dir", str(tmp_path / "ck")]
        )


def test_cli_truss_and_linkpred(cli, tmp_path, capsys):
    mtx = tmp_path / "t.mtx"
    mtx.write_text(MTX)
    # triangle {0,1,2}: truss 3; path edges 3-4, 4-5: truss 2
    cli.main(["truss", "--mtx", str(mtx)])
    out = _last_json(capsys)
    assert out["max_truss"] == 3
    assert out["truss_histogram"] == [[2, 2], [3, 3]]
    # K4 minus (2,3): top predicted pair is (2,3) with 2 common neighbors
    mtx2 = tmp_path / "l.mtx"
    mtx2.write_text(
        "%%MatrixMarket matrix coordinate pattern general\n"
        "4 4 5\n1 2\n1 3\n1 4\n2 3\n2 4\n"
    )
    cli.main(["linkpred", "--mtx", str(mtx2), "--topk", "3"])
    out = _last_json(capsys)
    assert out["pairs"][0][:3] == [2, 3, 2]
