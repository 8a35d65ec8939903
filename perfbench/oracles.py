"""Independent reference answers and the checks that compare against them.

Every oracle works on plain numpy/pandas arrays built from the generated
inputs, never on engine output, and follows the semantics the engine
documents: dense vertex ids by ascending label, PageRank with dangling
redistribution, connected-component id = smallest vid, synchronous
label propagation with smallest-label ties.

Each ``check_*`` returns a list of mismatch descriptions; empty means the
engine's output is correct.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

PAGERANK_RTOL = 1e-6
ALPHA = 0.85  # the engine's default damping, which the benchmark uses


class UndirectedGraph:
    """Canonical simple undirected graph of an edge list: self-loops
    dropped, duplicate pairs merged, vids = rank of the ascending label."""

    def __init__(self, src: np.ndarray, dst: np.ndarray):
        pairs = pd.DataFrame({"lo": np.minimum(src, dst), "hi": np.maximum(src, dst)})
        pairs = pairs[pairs.lo != pairs.hi].drop_duplicates()
        self.labels = np.unique(np.concatenate([pairs.lo.to_numpy(), pairs.hi.to_numpy()]))
        self.lo = np.searchsorted(self.labels, pairs.lo.to_numpy())
        self.hi = np.searchsorted(self.labels, pairs.hi.to_numpy())
        self.n_vertices = len(self.labels)
        self.n_edges = len(self.lo)

    def arcs(self) -> tuple[np.ndarray, np.ndarray]:
        """Both orientations of every edge, as (src, dst) vid arrays."""
        return np.concatenate([self.lo, self.hi]), np.concatenate([self.hi, self.lo])


class WebGraph:
    """Url-keyed directed link graph: hrefs to pages outside the table and
    self-links dropped, duplicate links merged, vids = rank of the url."""

    def __init__(self, links: pd.DataFrame, urls: np.ndarray):
        known = links[links.href.isin(set(urls)) & (links.url != links.href)]
        known = known.drop_duplicates()
        self.urls = np.unique(np.concatenate([known.url.to_numpy(), known.href.to_numpy()]))
        self.src = np.searchsorted(self.urls, known.url.to_numpy())
        self.dst = np.searchsorted(self.urls, known.href.to_numpy())
        self.n_vertices = len(self.urls)
        self.n_edges = len(self.src)


def pagerank(
    n: int,
    src: np.ndarray,
    dst: np.ndarray,
    tol: float = 0.0,
    max_iterations: int = 100,
) -> tuple[np.ndarray, int]:
    """Power iteration from the uniform vector; dangling mass spread
    evenly. With ``tol > 0`` it stops once the L1 change is at most
    ``n * tol``. Returns (ranks by vid, iterations run)."""
    out_deg = np.bincount(src, minlength=n).astype(float)
    dangling = out_deg == 0
    weight = 1.0 / out_deg[src]
    x = np.full(n, 1.0 / n)
    for it in range(1, max_iterations + 1):
        contrib = np.bincount(dst, weights=x[src] * weight, minlength=n)
        nxt = (1 - ALPHA) / n + ALPHA * x[dangling].sum() / n + ALPHA * contrib
        change = np.abs(nxt - x).sum()
        x = nxt
        if tol > 0 and change <= n * tol:
            return x, it
    return x, max_iterations


def connected_components(n: int, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Union-find; each vertex is labelled with its component's smallest vid."""
    parent = list(range(n))

    def find(v: int) -> int:
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in zip(lo.tolist(), hi.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(v) for v in range(n)], dtype=np.int64)


def label_propagation(n: int, src: np.ndarray, dst: np.ndarray, rounds: int) -> np.ndarray:
    """Synchronous LPA: each vertex takes its neighbours' most frequent
    label, ties to the smallest label; stops early at a fixpoint. A
    vectorized replay of the rule in ``tests/test_lpa.py``."""
    labels = np.arange(n, dtype=np.int64)
    for _ in range(rounds):
        keys, counts = np.unique(src * n + labels[dst], return_counts=True)
        vertex, label = keys // n, keys % n
        order = np.lexsort((label, -counts, vertex))
        first = order[np.r_[True, vertex[order][1:] != vertex[order][:-1]]]
        new = labels.copy()
        new[vertex[first]] = label[first]
        if np.array_equal(new, labels):
            break
        labels = new
    return labels


def triangles_per_vertex(n: int, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Triangles through each vertex. Edges are oriented from lower to
    higher (degree, vid); every triangle is then found exactly once as a
    pair of out-neighbours of its lowest vertex that are themselves
    joined."""
    deg = np.bincount(np.concatenate([lo, hi]), minlength=n)
    order_key = deg * n + np.arange(n)
    fwd = order_key[lo] < order_key[hi]
    a = np.where(fwd, lo, hi)
    b = np.where(fwd, hi, lo)
    sort = np.lexsort((b, a))
    a, b = a[sort], b[sort]
    row_end = np.searchsorted(a, a, side="right")
    edge_keys = np.sort(np.minimum(a, b) * n + np.maximum(a, b))
    counts = np.zeros(n, dtype=np.int64)
    idx = np.arange(len(a))
    k = 1
    while True:
        live = idx[idx + k < row_end]
        if len(live) == 0:
            return counts
        u, v, w = a[live], b[live], b[live + k]
        key = np.minimum(v, w) * n + np.maximum(v, w)
        pos = np.minimum(np.searchsorted(edge_keys, key), len(edge_keys) - 1)
        hit = edge_keys[pos] == key
        for col in (u, v, w):
            counts += np.bincount(col[hit], minlength=n)
        k += 1


def jaccard(a: str, b: str, n: int = 3) -> float:
    """Word-shingle Jaccard, the similarity ``minhash_near_duplicates`` verifies."""

    def shingles(text: str) -> set[str]:
        words = text.split()
        if len(words) < n:
            return {text.strip()}
        return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}

    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


# -- checks ------------------------------------------------------------------


def check_counts(name: str, got: int, want: int) -> list[str]:
    return [] if got == want else [f"{name}: got {got}, want {want}"]


def _by_vid(df: pd.DataFrame, col: str, n: int, name: str) -> tuple[np.ndarray | None, list[str]]:
    vids = df["vid"].to_numpy()
    if len(vids) != n or not np.array_equal(np.sort(vids), np.arange(n)):
        return None, [f"{name}: {len(vids)} rows, want one per vid 0..{n - 1}"]
    out = np.empty(n, dtype=df[col].dtype)
    out[vids] = df[col].to_numpy()
    return out, []


def check_pagerank(df: pd.DataFrame, want: np.ndarray) -> list[str]:
    got, errs = _by_vid(df, "rank", len(want), "pagerank")
    if errs:
        return errs
    bad = ~np.isclose(got, want, rtol=PAGERANK_RTOL, atol=0.0)
    if bad.any():
        v = int(np.flatnonzero(bad)[0])
        return [f"pagerank: {int(bad.sum())} ranks differ, vid {v}: {got[v]!r} vs {want[v]!r}"]
    return []


def check_exact(df: pd.DataFrame, col: str, want: np.ndarray, name: str) -> list[str]:
    got, errs = _by_vid(df, col, len(want), name)
    if errs:
        return errs
    bad = got != want
    if bad.any():
        v = int(np.flatnonzero(bad)[0])
        return [f"{name}: {int(bad.sum())} vertices differ, vid {v}: {got[v]} vs {want[v]}"]
    return []


def check_exact_duplicates(df: pd.DataFrame, want: list[list[str]]) -> list[str]:
    got = sorted(sorted(ids) for ids in df["doc_ids"])
    if got != sorted(want):
        return [f"exact_duplicates: {len(got)} groups, want {len(want)} injected groups"]
    return []


def check_near_duplicates(
    df: pd.DataFrame, injected: list[tuple[str, str]], text: dict[str, str], threshold: float
) -> list[str]:
    """Every injected one-word edit must be found, and every reported pair
    must carry its true Jaccard, at or above the threshold."""
    errs = []
    found = set(zip(df["a"], df["b"]))
    missing = [p for p in injected if p not in found]
    if missing:
        errs.append(f"near_duplicates: {len(missing)} injected pairs missing, e.g. {missing[0]}")
    for a, b, j in zip(df["a"], df["b"], df["jaccard"]):
        true = jaccard(text[a], text[b])
        if true < threshold or not np.isclose(j, true, rtol=1e-12):
            errs.append(f"near_duplicates: ({a}, {b}) reported {j}, true {true}")
            break
    return errs
