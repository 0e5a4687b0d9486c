"""Benchmark inputs and their oracle answers, made from a seed.

Uses numpy, pyarrow and networkx only: nothing here imports the engine, so
an edit to the engine's own generators cannot change what the benchmark
measures. Every input file's sha256 is written to ``manifest.json`` and
checked again on load.

Vertex ids are the engine's documented id scheme, Spark's ``xxhash64`` of
the url (seed 42), recomputed here by :func:`xxh64` so that the oracles can
name vertices the way the engine's outputs do.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import networkx as nx
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1

# Workload shapes: WEB_* for crawl-web, HUB_* for hub-skew.
WEB_PAGES = 5_000
WEB_SITES = 64
WEB_LINKS = 6  # random in-site links per page, on top of the spanning link
HUB_PAGES = 5_000
HUB_SITES = 3  # fewer sites than task slots: a few hub keys carry everything
HUB_LINKS = 6  # every extra link points at the site root: ~6x duplicate rows
PR_DAMPING = 0.85
PR_TOL = 1e-6
PR_MAX_ITER = 100
PR_ITERATIONS = 17

_P1 = np.uint64(11400714785074694791)
_P2 = np.uint64(14029467366897019727)
_P3 = np.uint64(1609587929392839161)
_P4 = np.uint64(9650029242287828579)
_P5 = np.uint64(2870177450012600261)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * _P2, 31) * _P1


def _xxh64_fixed(buf: np.ndarray, seed: int) -> np.ndarray:
    """XXH64 of each row of a (rows, length) uint8 matrix."""
    rows, length = buf.shape
    seed64 = np.uint64(seed)
    pos = 0

    def lanes64(n_words: int) -> np.ndarray:
        return np.ascontiguousarray(buf[:, pos:pos + 8 * n_words]).view("<u8")

    if length >= 32:
        v = [
            np.full(rows, seed64 + _P1 + _P2, np.uint64),
            np.full(rows, seed64 + _P2, np.uint64),
            np.full(rows, seed64, np.uint64),
            np.full(rows, seed64 - _P1, np.uint64),
        ]
        while pos + 32 <= length:
            w = lanes64(4)
            v = [_round(v[k], w[:, k]) for k in range(4)]
            pos += 32
        h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        for k in range(4):
            h = (h ^ _round(np.zeros(rows, np.uint64), v[k])) * _P1 + _P4
    else:
        h = np.full(rows, seed64 + _P5, np.uint64)
    h = h + np.uint64(length)
    while pos + 8 <= length:
        h = _rotl(h ^ _round(np.zeros(rows, np.uint64), lanes64(1)[:, 0]), 27) * _P1 + _P4
        pos += 8
    if pos + 4 <= length:
        k = np.ascontiguousarray(buf[:, pos:pos + 4]).view("<u4")[:, 0].astype(np.uint64)
        h = _rotl(h ^ (k * _P1), 23) * _P2 + _P3
        pos += 4
    while pos < length:
        h = _rotl(h ^ (buf[:, pos].astype(np.uint64) * _P5), 11) * _P1
        pos += 1
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def xxh64(strings: list[str], seed: int = 42) -> np.ndarray:
    """Spark's ``xxhash64(string)`` (XXH64 of the UTF-8 bytes) as int64."""
    encoded = [s.encode("utf-8") for s in strings]
    lengths = np.fromiter((len(b) for b in encoded), np.int64, len(encoded))
    out = np.empty(len(encoded), np.uint64)
    with np.errstate(over="ignore"):
        for length in np.unique(lengths):
            idx = np.flatnonzero(lengths == length)
            joined = b"".join(encoded[i] for i in idx)
            buf = np.frombuffer(joined, np.uint8).reshape(len(idx), int(length))
            out[idx] = _xxh64_fixed(buf, seed)
    return out.view(np.int64)


def _sites(n_pages: int, n_sites: int) -> tuple[np.ndarray, np.ndarray]:
    """(site of each page, first page of each site): contiguous blocks."""
    sizes = np.full(n_sites, n_pages // n_sites)
    sizes[: n_pages % n_sites] += 1
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    return np.repeat(np.arange(n_sites), sizes), starts


def _urls(rng: np.random.Generator, site: np.ndarray, starts: np.ndarray) -> list[str]:
    tokens = rng.integers(0, 2**40, len(site))
    return [
        f"https://site{s}.example.org/p{i - starts[s]}-{t:010x}.html"
        for i, (s, t) in enumerate(zip(site.tolist(), tokens.tolist()))
    ]


def _ids(urls: list[str]) -> np.ndarray:
    ids = xxh64(urls)
    if len(np.unique(ids)) != len(ids):
        raise ValueError("xxhash64 id collision in generated urls")
    return ids


def crawl_links(seed: int, draw: int = 0) -> dict:
    """The crawl: pages in link-closed sites, each page linking to its
    predecessor in the site (the first page to the last) and to WEB_LINKS
    uniform random other pages of its site. Links are page indices."""
    rng = np.random.default_rng([seed, 1, draw])
    site, starts = _sites(WEB_PAGES, WEB_SITES)
    sizes = np.bincount(site)
    urls = _urls(rng, site, starts)
    page = np.arange(WEB_PAGES)
    local = page - starts[site]
    size_of = sizes[site]
    ring_dst = starts[site] + (local - 1) % size_of
    rnd_src = np.repeat(page, WEB_LINKS)
    offset = 1 + (rng.random(len(rnd_src)) * (size_of[rnd_src] - 1)).astype(np.int64)
    rnd_dst = starts[site[rnd_src]] + (local[rnd_src] + offset) % size_of[rnd_src]
    src = np.concatenate([page, rnd_src])
    dst = np.concatenate([ring_dst, rnd_dst])
    order = np.argsort(src, kind="stable")  # document order within a page
    return {"urls": urls, "site": site, "src": src[order], "dst": dst[order]}


def _html(urls: list[str], src: np.ndarray, dst: np.ndarray) -> list[bytes]:
    bounds = np.searchsorted(src, np.arange(len(urls) + 1))
    dst_l = dst.tolist()
    out = []
    for i, url in enumerate(urls):
        anchors = "".join(
            f'<a href="{urls[t]}">link</a>' for t in dst_l[bounds[i]:bounds[i + 1]]
        )
        out.append(
            f"<html><head><title>{url}</title></head><body>"
            f"<p>Page {i} of the crawl.</p>{anchors}</body></html>".encode("utf-8")
        )
    return out


def _min_label(group: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Per vertex, the minimum id of its group (the engine's label rule)."""
    mins = np.full(group.max() + 1, np.iinfo(np.int64).max)
    np.minimum.at(mins, group, ids)
    return mins[group]


def pagerank_oracle(n: int, src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, int]:
    """Power iteration of the engine's recipe over index edges, which must
    be deduplicated: dangling mass spread uniformly, stop when the L1 step
    falls below PR_TOL. → (ranks, iterations)."""
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    r = np.full(n, 1.0 / n)
    for it in range(1, PR_MAX_ITER + 1):
        w = np.where(dangling, 0.0, r / np.maximum(outdeg, 1.0))
        contrib = np.bincount(dst, weights=w[src], minlength=n)
        new = (1 - PR_DAMPING) / n + PR_DAMPING * (contrib + r[dangling].sum() / n)
        delta = np.abs(new - r).sum()
        r = new
        if delta < PR_TOL:
            return r, it
    raise RuntimeError("pagerank oracle did not converge")


def scc_oracle(n: int, src: np.ndarray, dst: np.ndarray, ids: np.ndarray) -> np.ndarray:
    g = nx.DiGraph()
    g.add_nodes_from(range(n))
    keep = src != dst
    g.add_edges_from(zip(src[keep].tolist(), dst[keep].tolist()))
    comp = np.empty(n, np.int64)
    for k, members in enumerate(nx.strongly_connected_components(g)):
        comp[list(members)] = k
    return _min_label(comp, ids)


def _edges_table(src_ids: np.ndarray, dst_ids: np.ndarray) -> pa.Table:
    return pa.table({"src": pa.array(src_ids, pa.int64()), "dst": pa.array(dst_ids, pa.int64())})


def _canonical_pagerank(c: dict, ids: np.ndarray) -> tuple[int, np.ndarray, int]:
    """PageRank oracle over the canonical edges (each undirected pair once,
    from the smaller id to the larger), the edges the pass ranks.
    → (canonical edge count, ranks, iterations)."""
    a, b = ids[c["src"]], ids[c["dst"]]
    keep = a != b
    canon = np.unique(np.stack([np.minimum(a, b)[keep], np.maximum(a, b)[keep]], axis=1), axis=0)
    order = np.argsort(ids)
    pos = order[np.searchsorted(ids, canon, sorter=order)]
    ranks, iters = pagerank_oracle(len(ids), pos[:, 0], pos[:, 1])
    return len(canon), ranks, iters


def _gen_crawl_web(seed: int, out: str) -> dict:
    # The step at which PageRank's L1 change falls below PR_TOL varies
    # with the draw (16 or 17 here). Redraw until it is PR_ITERATIONS, so
    # that every seed asks the engine for the same amount of work.
    for draw in range(64):
        c = crawl_links(seed, draw)
        ids = _ids(c["urls"])
        n_canon, ranks, iters = _canonical_pagerank(c, ids)
        if iters == PR_ITERATIONS:
            break
    else:
        raise RuntimeError(f"no crawl with {PR_ITERATIONS} PageRank iterations")
    pages = pa.table({
        "url": pa.array(c["urls"], pa.string()),
        "html": pa.array(_html(c["urls"], c["src"], c["dst"]), pa.binary()),
    })
    pq.write_table(pages, os.path.join(out, "pages.parquet"), row_group_size=4096)
    np.savez(
        os.path.join(out, "oracle.npz"),
        ids=ids, cc_label=_min_label(c["site"], ids), pr_rank=ranks,
    )
    return {"edges": int(len(c["src"])), "canonical_edges": int(n_canon),
            "pagerank_iterations": iters, "draw": draw, "components": WEB_SITES}


def _gen_hub_skew(seed: int, out: str) -> dict:
    """Raw directed edge table of a hub graph: in each site every page
    links to its predecessor (the first page to the last) and HUB_LINKS
    times to the site's root page, and the root links to every page."""
    rng = np.random.default_rng([seed, 2])
    site, starts = _sites(HUB_PAGES, HUB_SITES)
    ids = _ids(_urls(rng, site, starts))
    page = np.arange(HUB_PAGES)
    local = page - starts[site]
    size_of = np.bincount(site)[site]
    leaf = page[local > 0]
    hub = np.repeat(leaf, HUB_LINKS)
    src = np.concatenate([page, hub, starts[site[leaf]]])
    dst = np.concatenate([starts[site] + (local - 1) % size_of, starts[site[hub]], leaf])
    perm = rng.permutation(len(src))  # raw crawl order: duplicates scattered
    src, dst = src[perm], dst[perm]
    pq.write_table(_edges_table(ids[src], ids[dst]),
                   os.path.join(out, "edges.parquet"), row_group_size=65536)
    np.savez(os.path.join(out, "oracle.npz"), ids=ids, cc_label=_min_label(site, ids),
             scc_label=scc_oracle(len(ids), src, dst, ids))
    return {"edges": int(len(src)), "components": HUB_SITES}


GENERATORS = {"crawl-web": _gen_crawl_web, "hub-skew": _gen_hub_skew}


def _digests(path: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(path)):
        if name != "manifest.json":
            with open(os.path.join(path, name), "rb") as f:
                out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def ensure_inputs(root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Generate the workload's inputs for ``seed`` under ``root`` once;
    on every call check them against the recorded digests.
    → (input directory, manifest)."""
    path = os.path.join(root, f"{workload}-s{seed}-v{GENERATOR_VERSION}")
    manifest_path = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        shape = GENERATORS[workload](seed, tmp)
        manifest = {"workload": workload, "seed": seed, "version": GENERATOR_VERSION,
                    "shape": shape, "sha256": _digests(tmp)}
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(manifest_path) as f:
        manifest = json.load(f)
    if _digests(path) != manifest["sha256"]:
        raise RuntimeError(f"inputs under {path} do not match their recorded digests")
    return path, manifest
