"""Self-tests of the benchmark: oracles against networkx and the LPA rule,
corrupted results counted as failed operations, deterministic inputs, and
tiny end-to-end runs of every workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter
from contextlib import contextmanager

import networkx as nx
import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def small_graph(seed=5):
    edges = inputs.rmat_edges(7, 8, seed)
    return edges, oracles.UndirectedGraph(edges.src.to_numpy(), edges.dst.to_numpy())


def nx_of(g: oracles.UndirectedGraph) -> nx.Graph:
    G = nx.Graph()
    G.add_nodes_from(range(g.n_vertices))
    G.add_edges_from(zip(g.lo.tolist(), g.hi.tolist()))
    return G


def python_lpa(adj, rounds):
    """The rule of tests/test_lpa.py: most frequent neighbour label,
    ties to the smallest, synchronous, stop at a fixpoint."""
    labels = {v: v for v in adj}
    for _ in range(rounds):
        new = {}
        for v in adj:
            if not adj[v]:
                new[v] = labels[v]
                continue
            freq = Counter(labels[u] for u in adj[v])
            new[v] = max(freq.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        if new == labels:
            return new
        labels = new
    return labels


# -- oracles ---------------------------------------------------------------


def test_graph_counts_match_networkx():
    edges, g = small_graph()
    G = nx.Graph()
    G.add_edges_from((s, d) for s, d in zip(edges.src, edges.dst) if s != d)
    assert (g.n_vertices, g.n_edges) == (G.number_of_nodes(), G.number_of_edges())


def pagerank_loop(n, arcs, iterations, alpha=0.85):
    """Plain-Python power iteration with dangling mass spread evenly
    (networkx's definition; its own pagerank needs scipy)."""
    out = {v: [] for v in range(n)}
    for u, v in arcs:
        out[u].append(v)
    x = [1.0 / n] * n
    for _ in range(iterations):
        dangling = sum(x[v] for v in range(n) if not out[v])
        nxt = [(1 - alpha) / n + alpha * dangling / n] * n
        for u, targets in out.items():
            for v in targets:
                nxt[v] += alpha * x[u] / len(targets)
        x = nxt
    return x


def test_pagerank_oracle_matches_loop_reference():
    _, g = small_graph()
    src, dst = g.arcs()
    ranks, its = oracles.pagerank(g.n_vertices, src, dst, max_iterations=30)
    assert its == 30
    want = pagerank_loop(g.n_vertices, zip(src.tolist(), dst.tolist()), 30)
    assert np.allclose(ranks, want, rtol=1e-10, atol=0)


def test_pagerank_oracle_dangling_and_tolerance():
    pages = inputs.generate_pages(120, 4)
    web = oracles.WebGraph(pages.links, pages.table.url.to_numpy())
    assert (np.bincount(web.src, minlength=web.n_vertices) == 0).any()
    ranks, its = oracles.pagerank(web.n_vertices, web.src, web.dst, tol=1e-7)
    want = pagerank_loop(web.n_vertices, zip(web.src.tolist(), web.dst.tolist()), its)
    assert 1 < its < 100
    assert np.allclose(ranks, want, rtol=1e-10, atol=0)
    assert ranks.sum() == pytest.approx(1.0)


def test_components_match_networkx():
    _, g = small_graph()
    got = oracles.connected_components(g.n_vertices, g.lo, g.hi)
    want = np.empty(g.n_vertices, dtype=np.int64)
    for comp in nx.connected_components(nx_of(g)):
        want[list(comp)] = min(comp)
    assert np.array_equal(got, want)


def test_lpa_matches_python_rule():
    _, g = small_graph()
    G = nx_of(g)
    src, dst = g.arcs()
    want = python_lpa({v: set(G.neighbors(v)) for v in G}, 5)
    got = oracles.label_propagation(g.n_vertices, src, dst, 5)
    assert got.tolist() == [want[v] for v in range(g.n_vertices)]


def test_triangles_match_networkx():
    _, g = small_graph()
    want = nx.triangles(nx_of(g))
    got = oracles.triangles_per_vertex(g.n_vertices, g.lo, g.hi)
    assert got.tolist() == [want[v] for v in range(g.n_vertices)]
    assert got.sum() > 0


def test_injected_near_duplicates_clear_threshold():
    pages = inputs.generate_pages(300, 6)
    text = dict(zip(pages.table.url, pages.table.text))
    assert pages.near_pairs and pages.exact_groups
    for a, b in pages.near_pairs:
        assert oracles.jaccard(text[a], text[b]) >= 0.9


def test_inputs_are_deterministic_per_seed():
    a, b, c = (inputs.generate_pages(100, s) for s in (1, 1, 2))
    pd.testing.assert_frame_equal(a.table, b.table)
    assert not a.table.text.equals(c.table.text)
    pd.testing.assert_frame_equal(inputs.rmat_edges(6, 4, 1), inputs.rmat_edges(6, 4, 1))


# -- corrupted results count as failed operations ---------------------------


class FakeRecorder:
    def __init__(self):
        self.calls = []
        self.pass_id = None

    @contextmanager
    def span(self, name):
        yield

    @contextmanager
    def call(self, name):
        yield
        self.calls.append({"name": name, "s": 0.0, "jobs": 0, "tasks": 0})


class OracleRmat(workloads.Rmat):
    """Rmat whose pass returns the oracle's answers, optionally corrupted."""

    def __init__(self, corrupt=None):
        super().__init__("tiny")
        self.corrupt = corrupt or {}

    def make_pass(self, spark, data, scratch, warmup=False):
        g = data["graph"]
        vids = np.arange(g.n_vertices)
        answers = {
            "graph.from_edges": (g.n_vertices, g.n_edges),
            "operators.pagerank": pd.DataFrame({"vid": vids, "rank": data["ranks"].copy()}),
            "operators.connected_components":
                pd.DataFrame({"vid": vids, "component": data["components"]}),
            "operators.label_propagation": pd.DataFrame({"vid": vids, "label": data["labels"]}),
            "operators.triangle_count": data["triangles"],
        }
        keep = lambda x: x  # noqa: E731
        return workloads.Pass([
            (n, lambda n=n, fix=self.corrupt.get(n, keep): fix(answers[n])) for n in self.ops
        ])


def perturb_rank(df):
    df.loc[3, "rank"] *= 1 + 1e-4
    return df


@pytest.mark.parametrize(
    "corrupt, bad",
    [
        ({}, []),
        ({"operators.pagerank": perturb_rank}, ["operators.pagerank"]),
        ({"operators.triangle_count": lambda t: t - 1}, ["operators.triangle_count"]),
    ],
)
def test_corrupted_result_is_a_failed_operation(tmp_path, corrupt, bad):
    w = OracleRmat(corrupt)
    data = w.prepare(7, str(tmp_path))
    _, p, failed = run.run_pass(w, None, FakeRecorder(), data, str(tmp_path), "p0")
    assert failed == bad
    assert len(p.ops) == 5


def test_raising_call_fails_it_and_the_rest_of_the_pass(tmp_path):
    def boom(_):
        raise RuntimeError("engine error")

    w = OracleRmat({"operators.connected_components": boom})
    data = w.prepare(7, str(tmp_path))
    _, _, failed = run.run_pass(w, None, FakeRecorder(), data, str(tmp_path), "p0")
    assert failed == list(w.ops[2:])


# -- end to end --------------------------------------------------------------


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_benchmark(cwd, workload, trace):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric(workload, trace):
    spec = benchmark_spec()
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS)
    proc = run_benchmark(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = run_benchmark(tmp_path, "rmat", 0)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
