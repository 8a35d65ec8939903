"""Seeded input generators for the benchmark, independent of the engine.

Everything here is numpy/pandas/pyarrow only, so an engine change cannot
move the inputs: the same ``seed`` gives byte-identical parquet files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

# Graph500 RMAT quadrant probabilities (a, b, c; d = 1 - a - b - c).
RMAT_A, RMAT_B, RMAT_C = 0.57, 0.19, 0.19

# Pages: bodies of MIN_WORDS..MAX_WORDS words from a VOCAB_SIZE vocabulary;
# Poisson(MEAN_LINKS) links per page with Pareto(PARETO_SHAPE) target ranks;
# shares of exact copies, near copies (of pages with at least
# NEAR_MIN_WORDS words), hrefs to missing pages, and pages with no links.
VOCAB_SIZE = 50_000
MIN_WORDS, MAX_WORDS = 30, 120
MEAN_LINKS = 8
PARETO_SHAPE = 1.2
DUP_SHARE = NEAR_SHARE = 0.02
NEAR_MIN_WORDS = 60
DANGLING_SHARE = 0.05
LEAF_SHARE = 0.1
PARTS = 4  # parquet files per input, so the engine's scan starts with 4 tasks


def rmat_edges(scale: int, edge_factor: int, seed: int) -> pd.DataFrame:
    """Graph500-style RMAT edge list ``(src, dst)`` with ``edge_factor *
    2**scale`` raw edges. Vertex labels are randomly permuted so hubs are
    not clustered at low ids; self-loops and duplicates are left in, as the
    engine's canonicalization is part of what the benchmark exercises."""
    rng = np.random.default_rng(seed)
    m = edge_factor << scale
    src = np.zeros(m, dtype=np.int64)
    dst = np.zeros(m, dtype=np.int64)
    for bit in range(scale):
        r = rng.random(m)
        src |= (r >= RMAT_A + RMAT_B).astype(np.int64) << bit
        dst |= (
            ((r >= RMAT_A) & (r < RMAT_A + RMAT_B)) | (r >= RMAT_A + RMAT_B + RMAT_C)
        ).astype(np.int64) << bit
    perm = rng.permutation(1 << scale).astype(np.int64)
    return pd.DataFrame({"src": perm[src], "dst": perm[dst]})


@dataclass
class Pages:
    """A generated pages table plus its ground truth."""

    table: pd.DataFrame  # url, warc_ts, html, text, lang
    links: pd.DataFrame  # (url, href) as written into the html, dangling hrefs included
    exact_groups: list[list[str]]  # sorted url lists of byte-identical texts
    near_pairs: list[tuple[str, str]]  # (a, b), a < b: one-word edits


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lowercase words of 4 to 9 letters."""
    letters = (rng.integers(0, 26, size=(2 * size, 9)) + ord("a")).astype(np.uint8)
    lengths = rng.integers(4, 10, size=2 * size)
    words = np.unique([row[:n].tobytes().decode() for row, n in zip(letters, lengths)])
    return rng.permutation(words)[:size]


def generate_pages(n_pages: int, seed: int) -> Pages:
    """Pages with uniformly drawn word bodies, Pareto-skewed link targets,
    and injected exact duplicates and one-word-edit near duplicates.

    Bodies drawn uniformly from a large vocabulary share almost no 3-word
    shingles by chance, so MinHash buckets stay small; the injected copies
    are the only true (near-)duplicates."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, VOCAB_SIZE)
    hosts = rng.integers(0, 97, size=n_pages)
    urls = np.array(
        [f"https://site{h}.example/p{i}" for i, h in enumerate(hosts)], dtype=object
    )

    n_words = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n_pages)
    bodies = [list(vocab[rng.integers(0, VOCAB_SIZE, size=k)]) for k in n_words]

    # Injected duplicates: disjoint page sets for sources, exact copies and
    # near copies, so the ground truth is unambiguous. Near copies come from
    # pages of at least NEAR_MIN_WORDS words, so a one-word edit keeps
    # their shingle Jaccard at 0.9 or more (see README on LSH recall).
    n_dup = int(n_pages * DUP_SHARE)
    n_near = int(n_pages * NEAR_SHARE)
    long_pages = np.flatnonzero(n_words >= NEAR_MIN_WORDS)
    near_src = rng.choice(long_pages, size=n_near, replace=False)
    rest = np.setdiff1d(np.arange(n_pages), near_src)
    dup_src, dup_dst, near_dst = np.split(
        rng.choice(rest, size=2 * n_dup + n_near, replace=False), [n_dup, 2 * n_dup]
    )
    for s, d in zip(dup_src, dup_dst):
        bodies[d] = list(bodies[s])
    near_pairs = []
    for s, d in zip(near_src, near_dst):
        body = list(bodies[s])
        pos = int(rng.integers(0, len(body)))
        replacement = body[pos]
        while replacement == body[pos]:
            replacement = vocab[int(rng.integers(0, VOCAB_SIZE))]
        body[pos] = replacement
        bodies[d] = body
        near_pairs.append(tuple(sorted((urls[s], urls[d]))))
    texts = [" ".join(b) for b in bodies]
    exact_groups = sorted(sorted((urls[s], urls[d])) for s, d in zip(dup_src, dup_dst))

    # Links: Pareto-distributed target ranks mapped through a permutation
    # (hubs spread over hosts); a share of hrefs point at pages that do
    # not exist, which the web-graph build must drop, and leaf pages link
    # nowhere, which gives PageRank dangling mass to spread.
    n_links = rng.poisson(MEAN_LINKS, size=n_pages)
    n_links[rng.random(n_pages) < LEAF_SHARE] = 0
    total = int(n_links.sum())
    rank = np.minimum(
        rng.pareto(PARETO_SHAPE, size=total) * (n_pages / 200), n_pages - 1
    ).astype(np.int64)
    target = rng.permutation(n_pages)[rank]
    hrefs = urls[target].copy()
    dangling = rng.random(total) < DANGLING_SHARE
    hrefs[dangling] = [f"https://gone.example/x{j}" for j in np.flatnonzero(dangling)]
    link_src = np.repeat(np.arange(n_pages), n_links)
    links = pd.DataFrame({"url": urls[link_src], "href": hrefs})

    anchors = pd.Series(
        ['<a href="' + h + '">link</a>' for h in hrefs]
    ).groupby(link_src).agg("".join)
    anchor_html = anchors.reindex(range(n_pages), fill_value="").to_numpy()
    html = [
        f"<html><head><title>p{i}</title></head><body><p>{t}</p>{a}</body></html>".encode()
        for i, (t, a) in enumerate(zip(texts, anchor_html))
    ]
    table = pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 86_400 * 30, size=n_pages), unit="s"),
            "html": html,
            "text": texts,
            "lang": np.array(["en", "de", "fr"])[rng.integers(0, 3, size=n_pages)],
        }
    )
    return Pages(table, links, exact_groups, sorted(near_pairs))


def write_parquet(df: pd.DataFrame, path: str) -> str:
    """Write ``df`` as a directory of ``PARTS`` parquet files."""
    os.makedirs(path)
    for i, chunk in enumerate(np.array_split(np.arange(len(df)), PARTS)):
        df.iloc[chunk].to_parquet(
            os.path.join(path, f"part-{i}.parquet"), index=False, coerce_timestamps="us"
        )
    return path
