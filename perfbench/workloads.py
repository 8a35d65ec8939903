"""The benchmark's workloads: inputs, one pass of engine calls, checks.

A pass is the list of public engine calls a user would make on the
workload's input, each materializing its result on the driver. Every
call is named ``<layer>.<function>`` after the engine module it enters.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

import inputs
import oracles

NEAR_THRESHOLD = 0.7
# 16 MinHash rows in 8 bands of 2: a pair at Jaccard 0.9 becomes an LSH
# candidate with probability 1 - (1 - 0.9**2)**8 > 0.99999
LSH_BANDS = 8
# Loop length on the untimed warm-up pass: enough to compile every step
# of each loop (including two durable epoch writes) without paying for
# the full run twice.
WARMUP_ITERATIONS = 2


@dataclass
class Pass:
    """One pass's calls in order, the values they returned, and what the
    checks and the traced extras need afterwards."""

    ops: list[tuple[str, Callable[[], Any]]]
    results: dict[str, Any] = field(default_factory=dict)
    handles: dict[str, Any] = field(default_factory=dict)


class Crawl:
    """The north-star input path on a pages table: text dedup, link
    extraction into a url graph, durable PageRank."""

    name = "crawl"
    ops = (
        "functions.exact_duplicates",
        "functions.minhash_near_duplicates",
        "sources.build_web_graph",
        "operators.pagerank",
    )
    sizes = {"full": 600, "tiny": 150}
    # One pass's wall time moved by up to 20% with the host, so a run
    # measures at least two and reports their median
    min_passes = 2
    # A fixed loop length with a tolerance too tight to be met first: the
    # convergence job still runs every iteration, the loop writes durable
    # epochs at iterations 0, 5 and the end, and every seed does the same
    # work (a 1e-7 tolerance stopped after 10 to 13 iterations, by seed)
    PR_ITERATIONS = 6
    PR_TOL = 1e-12

    def __init__(self, size: str):
        self.n_pages = self.sizes[size]

    def prepare(self, seed: int, directory: str) -> dict:
        pages = inputs.generate_pages(self.n_pages, seed)
        path = inputs.write_parquet(pages.table, os.path.join(directory, "pages.parquet"))
        web = oracles.WebGraph(pages.links, pages.table.url.to_numpy())
        ranks, iterations = oracles.pagerank(
            web.n_vertices, web.src, web.dst, tol=self.PR_TOL,
            max_iterations=self.PR_ITERATIONS,
        )
        return {
            "path": path,
            "pages": pages,
            "text": dict(zip(pages.table.url, pages.table.text)),
            "web": web,
            "ranks": ranks,
            "iterations": iterations,
        }

    def make_pass(self, spark, data: dict, scratch: str, warmup: bool = False) -> Pass:
        from arkouda_njit_spark.functions import exact_duplicates, minhash_near_duplicates
        from arkouda_njit_spark.operators import pagerank
        from arkouda_njit_spark.sources import build_web_graph

        pages = spark.read.parquet(data["path"])
        p = Pass([])
        ckpt = os.path.join(scratch, "pagerank-epochs")

        def web_graph():
            g = p.handles["graph"] = build_web_graph(pages)
            return g.n_vertices, g.n_edges

        p.ops = [
            ("functions.exact_duplicates",
             lambda: exact_duplicates(pages, id_col="url").toPandas()),
            ("functions.minhash_near_duplicates",
             lambda: minhash_near_duplicates(
                 pages, id_col="url", bands=LSH_BANDS,
                 threshold=NEAR_THRESHOLD).toPandas()),
            ("sources.build_web_graph", web_graph),
            ("operators.pagerank",
             lambda: pagerank(p.handles["graph"], tol=self.PR_TOL, checkpoint_dir=ckpt,
                              max_iterations=WARMUP_ITERATIONS if warmup
                              else self.PR_ITERATIONS).toPandas()),
        ]
        p.handles.update(pages=pages, checkpoint_dir=ckpt)
        return p

    def check(self, p: Pass, data: dict) -> dict[str, list[str]]:
        r, web = p.results, data["web"]
        iterations = loop_metrics(p.handles["checkpoint_dir"])
        return {
            "functions.exact_duplicates": oracles.check_exact_duplicates(
                r["functions.exact_duplicates"], data["pages"].exact_groups),
            "functions.minhash_near_duplicates": oracles.check_near_duplicates(
                r["functions.minhash_near_duplicates"], data["pages"].near_pairs,
                data["text"], NEAR_THRESHOLD),
            "sources.build_web_graph": oracles.check_counts(
                "web graph (vertices, edges)", r["sources.build_web_graph"],
                (web.n_vertices, web.n_edges)),
            "operators.pagerank": oracles.check_pagerank(
                r["operators.pagerank"], data["ranks"])
            + oracles.check_counts("pagerank iterations", len(iterations), data["iterations"]),
        }

    def graph_size(self, p: Pass) -> tuple[int, int]:
        return p.results["sources.build_web_graph"]

    def pagerank_iterations(self, p: Pass) -> int:
        return len(loop_metrics(p.handles["checkpoint_dir"]))

    def traced_extras(self, p: Pass) -> dict[str, float]:
        """Work done only on the traced run, outside the timed pass: LSH
        candidate yield and the cost of the durable epochs."""
        from arkouda_njit_spark.functions import minhash_lsh_candidates, minhash_signatures
        from arkouda_njit_spark.operators import pagerank

        pages = p.handles["pages"]
        candidates = minhash_lsh_candidates(
            minhash_signatures(pages, id_col="url"), id_col="url", bands=LSH_BANDS).count()
        t0 = time.perf_counter()
        pagerank(p.handles["graph"], tol=self.PR_TOL,
                 max_iterations=self.PR_ITERATIONS).toPandas()
        in_memory_s = time.perf_counter() - t0
        walls = [m["wall_sec"] for m in loop_metrics(p.handles["checkpoint_dir"])]
        pairs = len(p.results["functions.minhash_near_duplicates"])
        return {
            "functions.near_dup_pairs": pairs,
            "functions.lsh.candidate_yield": pairs / candidates if candidates else 0.0,
            "plans.pagerank.iterations": len(walls),
            "plans.iteration.s": float(np.median(walls)),
            "in_memory_pagerank_s": in_memory_s,
        }

    def cleanup(self, p: Pass) -> None:
        if "graph" in p.handles:
            p.handles["graph"].unpersist()


class Rmat:
    """A Graph500 RMAT graph through the in-memory fixpoint loops
    (PageRank, connected components, label propagation) and the
    degree-oriented wedge joins of triangle counting."""

    name = "rmat"
    ops = (
        "graph.from_edges",
        "operators.pagerank",
        "operators.connected_components",
        "operators.label_propagation",
        "operators.triangle_count",
    )
    sizes = {"full": 11, "tiny": 6}
    # A second pass would take a run past 70 s, more than the time budget
    # of a full evaluation allows (see README, Steadiness)
    min_passes = 1
    EDGE_FACTOR = 16
    PR_ITERATIONS = 6
    LPA_ROUNDS = 3

    def __init__(self, size: str):
        self.scale = self.sizes[size]

    def prepare(self, seed: int, directory: str) -> dict:
        edges = inputs.rmat_edges(self.scale, self.EDGE_FACTOR, seed)
        path = inputs.write_parquet(edges, os.path.join(directory, "edges.parquet"))
        g = oracles.UndirectedGraph(edges.src.to_numpy(), edges.dst.to_numpy())
        src, dst = g.arcs()
        n = g.n_vertices
        per_vertex = oracles.triangles_per_vertex(n, g.lo, g.hi)
        return {
            "path": path,
            "graph": g,
            "ranks": oracles.pagerank(n, src, dst, max_iterations=self.PR_ITERATIONS)[0],
            "components": oracles.connected_components(n, g.lo, g.hi),
            "labels": oracles.label_propagation(n, src, dst, self.LPA_ROUNDS),
            "triangles": int(per_vertex.sum() // 3),
        }

    def make_pass(self, spark, data: dict, scratch: str, warmup: bool = False) -> Pass:
        from arkouda_njit_spark import Graph
        from arkouda_njit_spark.operators import (
            connected_components,
            label_propagation,
            pagerank,
            triangle_count,
        )

        edges = spark.read.parquet(data["path"])
        p = Pass([])

        def build():
            g = p.handles["graph"] = Graph.from_edges(spark, edges)
            return g.n_vertices, g.n_edges

        def graph():
            return p.handles["graph"]

        short = WARMUP_ITERATIONS if warmup else None
        p.ops = [
            ("graph.from_edges", build),
            ("operators.pagerank",
             lambda: pagerank(graph(), tol=0.0,
                              max_iterations=short or self.PR_ITERATIONS).toPandas()),
            ("operators.connected_components",
             lambda: connected_components(graph(), max_iterations=short or 100).toPandas()),
            ("operators.label_propagation",
             lambda: label_propagation(
                 graph(), max_iterations=short or self.LPA_ROUNDS).toPandas()),
            ("operators.triangle_count", lambda: triangle_count(graph())),
        ]
        return p

    def check(self, p: Pass, data: dict) -> dict[str, list[str]]:
        r, g = p.results, data["graph"]
        return {
            "graph.from_edges": oracles.check_counts(
                "graph (vertices, edges)", r["graph.from_edges"], (g.n_vertices, g.n_edges)),
            "operators.pagerank": oracles.check_pagerank(
                r["operators.pagerank"], data["ranks"]),
            "operators.connected_components": oracles.check_exact(
                r["operators.connected_components"], "component", data["components"],
                "connected_components"),
            "operators.label_propagation": oracles.check_exact(
                r["operators.label_propagation"], "label", data["labels"],
                "label_propagation"),
            "operators.triangle_count": oracles.check_counts(
                "triangle_count", r["operators.triangle_count"], data["triangles"]),
        }

    def graph_size(self, p: Pass) -> tuple[int, int]:
        return p.results["graph.from_edges"]

    def pagerank_iterations(self, p: Pass) -> int:
        return self.PR_ITERATIONS

    def traced_extras(self, p: Pass) -> dict[str, float]:
        return {}

    def cleanup(self, p: Pass) -> None:
        if "graph" in p.handles:
            p.handles["graph"].unpersist()


def loop_metrics(checkpoint_dir: str) -> list[dict]:
    """FixpointLoop's per-iteration records, written next to its epochs."""
    path = os.path.join(checkpoint_dir, "metrics.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return json.load(f)


WORKLOADS = {w.name: w for w in (Crawl, Rmat)}
