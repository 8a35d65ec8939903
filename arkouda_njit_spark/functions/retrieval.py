"""TF-IDF and Okapi BM25 retrieval scoring over the documents table.

The missing piece between a crawl and a training set is lexical search:
given the (doc_id, text) corpus, build the postings list once and score
queries against it. Everything here is classic published IR (Salton's
TF-IDF; Robertson et al.'s Okapi BM25) expressed as native DataFrame
aggregations:

- ``term_postings`` — ONE explode + ONE map-side-combined groupBy on
  (doc_id, term). This is the inverted index in relational form: at
  100 TB it is the same shape as the word-count shuffle, partitioned by
  its group key, no driver state, no per-row Python.
- ``tf_idf`` — postings joined with the (term, df) aggregate;
  ``idf = ln(N/df)`` with raw-count tf. N is one scalar.
- ``bm25`` / ``bm25_batch`` — Okapi BM25,
  ``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))``,
  ``score(q,d) = Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl))``.
  Query terms ride a BROADCAST join against the postings (an equi-join
  on ``term``, so only matching postings shuffle — the corpus-sized
  side is filtered before exchange); dl/avgdl come from the same
  postings aggregate that built the index. ``bm25_batch`` scores a
  whole (query_id, term) table in one plan — the batch-inference shape:
  per-query work is a broadcast probe, not a job.

Term normalization (shared by all entry points, and replayed verbatim
by the DuckDB oracle in ``__spark_entry__``): lowercase, split on
whitespace, strip every character outside [a-z0-9] from each token,
drop empties. Deterministic and locale-free by construction.

Reference parity: the reference has no retrieval scoring; this extends
the engine's webtext family (SURVEY §2.7 beyond-reference block) with
the standard relevance baseline a Common-Crawl corpus pipeline needs.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.local import local_frame


def _norm_terms(text_col: str) -> "F.Column":
    """array<string> of normalized terms (duplicates kept — term freq)."""
    raw = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    cleaned = F.transform(raw, lambda t: F.regexp_replace(t, "[^a-z0-9]", ""))
    return F.filter(cleaned, lambda t: F.length(t) > 0)


def normalize_query(query: str | Iterable[str]) -> list[str]:
    """The same normalization applied to a query string or term list."""
    import re

    if isinstance(query, str):
        parts = query.split()
    else:
        parts = [str(t) for t in query]
    out = []
    for p in parts:
        t = re.sub(r"[^a-z0-9]", "", p.lower())
        if t:
            out.append(t)
    return out


def term_postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, term, tf) — the inverted index as a relation."""
    return (
        df.select(F.col(id_col).alias("doc_id"), _norm_terms(text_col).alias("_t"))
        .select("doc_id", F.explode("_t").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def document_frequencies(postings: DataFrame) -> DataFrame:
    """(term, df) from a term_postings relation."""
    return postings.groupBy("term").agg(F.count("*").alias("df"))


def tf_idf(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, term, tf, tfidf) with tfidf = tf * ln(N/df).

    The (term, df) side is an aggregate of the postings themselves —
    corpus-sized but combine-collapsed to the vocabulary; the join back
    is an equi-join on the postings' own group key."""
    postings = term_postings(df, id_col, text_col)
    n = df.select(F.countDistinct(F.col(id_col)).alias("n"))
    dfreq = document_frequencies(postings)
    return (
        postings.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            (F.col("tf") * F.log(F.col("n") / F.col("df"))).alias("tfidf"),
        )
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, dl, logprob) — mean per-token natural-log probability of
    each document under the corpus's OWN unigram distribution,
    ``logprob(d) = (1/|d|) Σ_{t∈d} tf_d(t)·ln(ctf(t)/T)`` with corpus
    term count ``ctf`` and total token count ``T``.

    This is the standard cheap stand-in for the LM-perplexity quality
    filter (CCNet / Gopher filter stacks): gibberish and boilerplate sit
    at the two extremes of the score. Self-trained, so there is no OOV
    (every token has ctf ≥ 1) and no external model. Docs with no tokens
    are omitted (no distribution to score under).

    Plan: the postings aggregate, a vocabulary-sized (term, ctf)
    aggregate of it, and one equi-join back on ``term`` — the same
    shapes as tf_idf; pass a persisted ``term_postings(df)`` to share
    the index with bm25/tf_idf."""
    if postings is None:
        postings = term_postings(df, id_col, text_col)
    ctf = postings.groupBy("term").agg(F.sum("tf").alias("ctf"))
    total = ctf.agg(F.sum("ctf").alias("total"))
    return (
        postings.join(ctf, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("dl"),
            (
                F.sum(F.col("tf") * F.log(F.col("ctf") / F.col("total")))
                / F.sum("tf")
            ).alias("logprob"),
        )
    )


def bm25_batch(
    df: DataFrame,
    query_terms: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings: DataFrame | None = None,
) -> DataFrame:
    """(query_id, doc_id, score) for every (query, doc) pair with ≥1
    matching term. ``query_terms`` is a small (query_id, term) table —
    already-normalized terms — broadcast against the postings.

    The postings relation is referenced three times (doc lengths,
    document frequencies, the match); pass a persisted
    ``term_postings(df)`` as ``postings`` to index the corpus once and
    score many query batches without re-scanning it."""
    if postings is None:
        postings = term_postings(df, id_col, text_col)
    dl = postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    )
    qt = query_terms.select("query_id", "term").distinct()
    dfreq = document_frequencies(postings).join(
        F.broadcast(qt.select("term").distinct()), "term"
    )
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "term",
        F.log(
            F.lit(1.0)
            + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
    )
    matched = (
        postings.join(F.broadcast(qt), "term")
        .join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
    )
    contrib = (
        F.col("idf")
        * (F.col("tf") * (k1 + 1.0))
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        matched.select("query_id", "doc_id", contrib.alias("c"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c").alias("score"))
    )


def bm25(
    df: DataFrame,
    query: str | Iterable[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, score) for one query; terms are normalized here."""
    terms = normalize_query(query)
    if not terms:
        raise ValueError("bm25 query has no terms after normalization")
    spark = df.sparkSession
    qt = local_frame(
        spark,
        [(0, t) for t in sorted(set(terms))], "query_id int, term string"
    )
    return bm25_batch(
        df, qt, k1=k1, b=b, id_col=id_col, text_col=text_col
    ).select("doc_id", "score")
