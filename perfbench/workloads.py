"""The workloads: how each loads its inputs, what one pass calls in
the engine, and how the pass's outputs are checked against the oracles.

A pass returns its outputs as pandas frames (collected inside the timed
region, so lazy work is paid for) plus the runner objects and info dicts
the engine hands back; ``check`` compares those with the stored oracle
answers and returns the names of the checks that failed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from gen import PR_TOL

LPA_ITERATIONS = 10


@dataclass
class PassResult:
    outputs: dict[str, pd.DataFrame]
    runners: dict[str, object] = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    # edges each message-passing operator received, by runner name
    edge_counts: dict[str, int] = field(default_factory=dict)


def _sorted(df: pd.DataFrame, key: str) -> pd.DataFrame:
    return df.sort_values(key, kind="stable").reset_index(drop=True)


def _labels_match(got: pd.DataFrame, ids: np.ndarray, want: np.ndarray) -> bool:
    got = _sorted(got, "vertex")
    order = np.argsort(ids)
    return bool(
        len(got) == len(ids)
        and np.array_equal(got["vertex"].to_numpy(), ids[order])
        and np.array_equal(got["label"].to_numpy(), want[order])
    )


def _digest(df: pd.DataFrame) -> str:
    df = _sorted(df, "vertex")
    h = hashlib.sha256()
    for col in df.columns:
        h.update(np.ascontiguousarray(df[col].to_numpy()).tobytes())
    return h.hexdigest()


class Workload:
    name = ""

    def __init__(self, spark, path: str, manifest: dict, scratch: str) -> None:
        self.spark = spark
        self.path = path
        self.shape = manifest["shape"]
        self.snapshot_root = os.path.join(scratch, "snapshots")
        self.oracle = dict(np.load(os.path.join(path, "oracle.npz")))

    def run_pass(self, tr) -> PassResult:
        raise NotImplementedError

    def check(self, res: PassResult) -> list[str]:
        raise NotImplementedError

    def cleanup(self) -> None:
        """Pass hygiene owned by the workload: durable snapshot dirs."""
        shutil.rmtree(self.snapshot_root, ignore_errors=True)


class CrawlWeb(Workload):
    name = "crawl-web"

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.pages = self.spark.read.parquet(os.path.join(self.path, "pages.parquet"))

    def run_pass(self, tr) -> PassResult:
        from parallel_connected_components_spark.operators import (
            canonicalize, cc_label_propagation, edges_from_pages, pagerank, symmetrize)

        with tr.span("extract"):
            canon = canonicalize(edges_from_pages(self.pages)).persist()
            n_canon = canon.count()
        with tr.span("cc"):
            labels, cc_run = cc_label_propagation(self.spark, symmetrize(canon, dedup=False))
        with tr.span("pagerank"):
            ranks, pr_run = pagerank(self.spark, canon, tol=PR_TOL)
        with tr.span("collect"):
            out = {"cc": labels.toPandas(), "pagerank": ranks.toPandas()}
        canon.unpersist()
        return PassResult(
            out, {"cc": cc_run, "pagerank": pr_run}, {"extract.edges": n_canon},
            {"cc": 2 * n_canon, "pagerank": n_canon},
        )

    def check(self, res: PassResult) -> list[str]:
        o = self.oracle
        failed = []
        if res.info["extract.edges"] != self.shape["canonical_edges"]:
            failed.append("extract.edges")
        if not _labels_match(res.outputs["cc"], o["ids"], o["cc_label"]):
            failed.append("cc.labels")
        got = _sorted(res.outputs["pagerank"], "vertex")
        order = np.argsort(o["ids"])
        # both sides run the same contraction from the same start and stop
        # at the same L1 step, so they must agree within that tolerance
        if not (
            np.array_equal(got["vertex"].to_numpy(), o["ids"][order])
            and np.abs(got["rank"].to_numpy() - o["pr_rank"][order]).sum() <= PR_TOL
        ):
            failed.append("pagerank.ranks")
        return failed


class HubSkew(Workload):
    name = "hub-skew"

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.raw = self.spark.read.parquet(os.path.join(self.path, "edges.parquet"))
        self.lpa_digest: str | None = None

    def run_pass(self, tr) -> PassResult:
        from parallel_connected_components_spark.operators import (
            cc_label_propagation, label_propagation_communities, scc, symmetrize)

        with tr.span("symmetrize"):
            sym = symmetrize(self.raw).persist()
            n_sym = sym.count()
        with tr.span("cc"):
            labels, cc_run = cc_label_propagation(
                self.spark, sym, checkpoint_dir=self.snapshot_root)
        with tr.span("lpa"):
            comm, lpa_run = label_propagation_communities(
                self.spark, sym, max_iterations=LPA_ITERATIONS,
                checkpoint_dir=self.snapshot_root)
        with tr.span("scc"):
            sccs, info = scc(self.spark, self.raw)
        with tr.span("collect"):
            out = {"cc": labels.toPandas(), "lpa": comm.toPandas(), "scc": sccs.toPandas()}
        sym.unpersist()
        return PassResult(
            out, {"cc": cc_run, "lpa": lpa_run},
            {f"scc.{k}": v for k, v in info.items()},
            {"cc": n_sym, "lpa": n_sym},
        )

    def check(self, res: PassResult) -> list[str]:
        o = self.oracle
        failed = []
        if not _labels_match(res.outputs["cc"], o["ids"], o["cc_label"]):
            failed.append("cc.labels")
        if not _labels_match(res.outputs["scc"], o["ids"], o["scc_label"]):
            failed.append("scc.labels")
        # LPA has no closed form here; its result must repeat exactly
        digest = _digest(res.outputs["lpa"])
        if self.lpa_digest is None:
            self.lpa_digest = digest
        elif digest != self.lpa_digest or len(res.outputs["lpa"]) != len(o["ids"]):
            failed.append("lpa.digest")
        return failed


WORKLOADS = {w.name: w for w in (CrawlWeb, HubSkew)}
