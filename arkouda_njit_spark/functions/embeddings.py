"""Distributed skip-gram-with-negative-sampling (SGNS) trainer over the
random-walk corpus — the step that turns ``operators/walks.py`` output into
the vertex embeddings ``functions/similarity.py`` consumes (DeepWalk /
node2vec end-to-end: walks → skip-gram → ANN top-k).

Architecture (the public Spark MLlib ``Word2Vec`` scheme, re-done with
Arrow batches instead of RDD closures):

* the MODEL (two V×dim float32 matrices) is driver-held and broadcast once
  per epoch; every partition trains locally-sequential mini-batch SGD over
  its own sentences inside ONE vectorized ``mapInPandas`` pass (numpy
  gather → sigmoid → scatter-add; no per-row Python),
* each partition emits per-TOUCHED-row weight deltas only — (row index,
  Δin, Δout, touch counts) — so the shuffle after an epoch is
  O(touched × dim), not O(V × dim × partitions),
* deltas are tree-reduced distributed (groupBy bucket → ``applyInPandas``
  sum) and only the V-row averaged update is collected; the driver applies
  ``W += Σ(Δ·touch)/Σtouch`` (touch-weighted model averaging, the
  MLlib/parameter-averaging rule) and rebroadcasts.

Scale regime — stated, not implied: the model must fit in one broadcast,
so the vocabulary is capped (``vocab_limit``, default 2^22 rows ≈ 2 GiB at
dim 64). That is the honest Spark answer at 10^12-document scale too: you
embed the top-V-by-frequency vertices (hosts, or high-degree urls) —
training a 10^12-row dense model needs a parameter server, which is not
Spark's execution model. The cap RAISES rather than silently sampling.

Determinism: initial weights come from a seeded generator; window shrink
and negative draws are pure functions of (walk_id, position, offset,
epoch, seed) via a vectorized splitmix64 — so a fixed input partitioning
reproduces bit-identical embeddings across runs and plan changes.
Within-partition SGD is order-dependent by nature, so layout-invariance is
NOT claimed; the trainer pins the layout itself with an explicit
``repartition(num_partitions, walk_id)``.

No reference analogue: the reference repo stops at the graph kernels; this
belongs to the training-data-pipeline mandate (BASELINE.json north_star:
embeddings feeding similarity search / dedup).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.local import local_frame

#: the model is broadcast per epoch — two float32 matrices of
#: vocab_limit × dim must fit comfortably in executor memory.
DEFAULT_VOCAB_LIMIT = 1 << 22


# ---------------------------------------------------------------------------
# deterministic vectorized uniforms (splitmix64 — public-domain mixer)
# ---------------------------------------------------------------------------

_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array (vectorized)."""
    with np.errstate(over="ignore"):
        x = (x + _SM_GAMMA).astype(np.uint64)
        x ^= x >> np.uint64(30)
        x *= _SM_M1
        x ^= x >> np.uint64(27)
        x *= _SM_M2
        x ^= x >> np.uint64(31)
    return x


def _u01(*keys: np.ndarray | int) -> np.ndarray:
    """Uniform [0,1) that is a pure function of the key tuple.

    Keys are folded left-to-right through the mixer, so ``_u01(a, b)`` and
    ``_u01(b, a)`` differ and scalar keys broadcast against array keys.
    """
    h = np.uint64(0)
    with np.errstate(over="ignore"):
        for k in keys:
            arr = np.asarray(k, dtype=np.uint64)
            h = _mix64(h ^ arr)
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


# ---------------------------------------------------------------------------
# pair construction (vectorized over a whole Arrow batch of sentences)
# ---------------------------------------------------------------------------

def _batch_pairs(
    walk_ids: np.ndarray,
    flat: np.ndarray,
    sent_of: np.ndarray,
    pos_in: np.ndarray,
    window: int,
    epoch: int,
    seed: int,
):
    """(center, context, center_walk, center_pos, offset) for every skip-gram
    pair in the batch, honoring word2vec's per-center window shrink
    ``b ~ U{1..window}`` (drawn deterministically from (walk, pos, epoch)).

    Pair ORDER is canonical — offset-major (d = 1..window), then flat
    position, emitting the (i, i+d) direction before (i+d, i) — and the
    pure-python reference in the tests replays exactly this order.
    """
    n = flat.shape[0]
    # per-position shrink: b in 1..window
    b = 1 + np.floor(
        _u01(walk_ids[sent_of], pos_in, np.uint64(epoch), np.uint64(seed))
        * window
    ).astype(np.int64)
    b = np.minimum(b, window)
    cs, xs, ws, ps, ds = [], [], [], [], []
    for d in range(1, window + 1):
        left = np.arange(n - d)
        same = sent_of[left] == sent_of[left + d]
        # center at i, context at i+d — admitted when d <= b(center i)
        m = same & (b[left] >= d)
        cs.append(flat[left[m]])
        xs.append(flat[left[m] + d])
        ws.append(walk_ids[sent_of[left[m]]])
        ps.append(pos_in[left[m]])
        ds.append(np.full(m.sum(), d, dtype=np.int64))
        # center at i+d, context at i — admitted when d <= b(center i+d)
        m2 = same & (b[left + d] >= d)
        cs.append(flat[left[m2] + d])
        xs.append(flat[left[m2]])
        ws.append(walk_ids[sent_of[left[m2]]])
        ps.append(pos_in[left[m2] + d])
        ds.append(np.full(m2.sum(), -d, dtype=np.int64))
    if not cs:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z, z, z
    return (
        np.concatenate(cs),
        np.concatenate(xs),
        np.concatenate(ws),
        np.concatenate(ps),
        np.concatenate(ds),
    )


def _draw_negatives(
    walk: np.ndarray,
    pos: np.ndarray,
    off: np.ndarray,
    k: int,
    cum: np.ndarray,
    epoch: int,
    seed: int,
) -> np.ndarray:
    """(len(walk), k) negative row indices by inverse-CDF over the unigram^α
    noise distribution — pure function of (walk, pos, offset, j, epoch)."""
    if len(walk) == 0:
        return np.zeros((0, k), dtype=np.int64)
    js = np.arange(k, dtype=np.uint64)
    u = _u01(
        walk[:, None],
        np.asarray(pos, dtype=np.uint64)[:, None],
        np.asarray(off + (1 << 32), dtype=np.uint64)[:, None],
        js[None, :],
        np.uint64(epoch + 7),
        np.uint64(seed),
    )
    return np.searchsorted(cum, u, side="right").clip(0, len(cum) - 1)


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-np.clip(x, -30.0, 30.0)))


# ---------------------------------------------------------------------------
# the trainer
# ---------------------------------------------------------------------------

@dataclass
class EpochMetrics:
    epoch: int
    pairs: int
    loss: float  # mean SGNS loss per pair
    touched_rows: int
    wall_sec: float = 0.0

    def to_dict(self) -> dict:
        return {
            "epoch": self.epoch,
            "pairs": self.pairs,
            "loss": self.loss,
            "touched_rows": self.touched_rows,
            "wall_sec": self.wall_sec,
        }


@dataclass
class SkipgramModel:
    """Result of :func:`train_skipgram` — embeddings plus per-epoch metrics."""

    embeddings: DataFrame  # (vid, embedding: array<float>)
    metrics: list[EpochMetrics] = field(default_factory=list)


def train_skipgram(
    walks: DataFrame,
    *,
    dim: int = 32,
    window: int = 4,
    negatives: int = 5,
    epochs: int = 3,
    lr: float = 0.25,
    seed: int = 42,
    batch_pairs: int = 256,
    alpha: float = 0.75,
    num_partitions: int | None = None,
    vocab_limit: int = DEFAULT_VOCAB_LIMIT,
) -> SkipgramModel:
    """Train SGNS embeddings over a walk corpus.

    ``walks`` must carry ``walk_id: long`` and ``path: array<long>`` (the
    exact output of :func:`..operators.walks.random_walks` /
    ``node2vec_walks``). Returns (vid, embedding float32[dim]) for every
    vid that occurs in the corpus, plus per-epoch loss/coverage metrics.

    ``batch_pairs`` is the mini-batch size: gradients within one chunk are
    computed against the same weight snapshot, and each touched row steps
    by the MEAN of its chunk contributions (per-row-normalized mini-batch
    SGD — a plain scatter-sum would give a row occurring r times in the
    chunk an r·lr step against one stale snapshot and diverge on skewed
    vocabularies). ``batch_pairs=1`` degenerates to per-pair SGD, which the
    parity test replays against a scalar reference implementation.
    """
    spark = walks.sparkSession
    sc = spark.sparkContext

    # ---- vocabulary + noise distribution (V-bounded driver state) -------
    freq_df = (
        walks.select(F.explode("path").alias("vid"))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n_vocab = freq_df.count()
    if n_vocab == 0:
        empty = local_frame(spark, [], "vid long, embedding array<float>")
        return SkipgramModel(embeddings=empty)
    if n_vocab > vocab_limit:
        raise ValueError(
            f"skip-gram vocabulary {n_vocab} exceeds vocab_limit "
            f"{vocab_limit}: the model is broadcast per epoch and must fit "
            "in executor memory — embed a frequency-capped vertex subset "
            "(hosts / top-K urls) or raise vocab_limit explicitly"
        )
    freq = (
        freq_df.orderBy("vid").toPandas()
    )  # deterministic row index <-> vid mapping
    vids = freq["vid"].to_numpy(dtype=np.int64)
    counts = freq["cnt"].to_numpy(dtype=np.float64)
    noise = counts**alpha
    cum = np.cumsum(noise / noise.sum())
    cum[-1] = 1.0

    rng = np.random.default_rng(seed)
    w_in = ((rng.random((n_vocab, dim)) - 0.5) / dim).astype(np.float32)
    # w_out is ALSO small-random (word2vec's classic zero init is a saddle
    # where every sigmoid is 0.5 and grad(w_in) is exactly 0 until w_out
    # drifts; with per-row-mean chunk updates the drift out of that saddle
    # costs many epochs, so break the symmetry at init instead)
    w_out = ((rng.random((n_vocab, dim)) - 0.5) / dim).astype(np.float32)

    parts = num_partitions or max(2, sc.defaultParallelism)
    corpus = walks.select("walk_id", "path").repartition(parts, "walk_id")
    corpus = corpus.localCheckpoint(eager=True)  # train input is scanned per epoch

    # vids is sorted, so row index = searchsorted — a vectorized gather,
    # not a per-element dict lookup
    vids_bc = sc.broadcast(vids)
    cum_bc = sc.broadcast(cum)

    delta_schema = T.StructType(
        [
            T.StructField("row", T.LongType()),
            T.StructField("d_in", T.ArrayType(T.FloatType())),
            T.StructField("d_out", T.ArrayType(T.FloatType())),
            T.StructField("t_in", T.LongType()),
            T.StructField("t_out", T.LongType()),
            T.StructField("part", T.IntegerType()),
            T.StructField("loss", T.DoubleType()),
            T.StructField("pairs", T.LongType()),
        ]
    )

    metrics: list[EpochMetrics] = []
    import time as _time

    for epoch in range(epochs):
        t0 = _time.monotonic()
        model_bc = sc.broadcast((w_in, w_out))

        def train_part(
            batches: Iterator[pd.DataFrame],
            _epoch: int = epoch,
        ) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId() if TaskContext.get() else 0
            wi0, wo0 = model_bc.value
            wi = wi0.copy()
            wo = wo0.copy()
            t_in = np.zeros(wi.shape[0], dtype=np.int64)
            t_out = np.zeros(wi.shape[0], dtype=np.int64)
            vids_arr = vids_bc.value
            cumv = cum_bc.value
            loss_sum = 0.0
            n_pairs = 0
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                paths = [
                    np.asarray(p, dtype=np.int64) for p in pdf["path"]
                ]
                lens = np.array([len(p) for p in paths], dtype=np.int64)
                keep = lens >= 2
                if not keep.any():
                    continue
                paths = [p for p, k in zip(paths, keep) if k]
                lens = lens[keep]
                wids = pdf["walk_id"].to_numpy(dtype=np.int64)[keep]
                flat_v = np.concatenate(paths)
                flat = np.searchsorted(vids_arr, flat_v)
                sent_of = np.repeat(np.arange(len(paths)), lens)
                pos_in = np.concatenate(
                    [np.arange(l, dtype=np.int64) for l in lens]
                )
                c, x, w, p, d = _batch_pairs(
                    wids.astype(np.uint64), flat, sent_of, pos_in,
                    window, _epoch, seed,
                )
                neg = _draw_negatives(
                    w.astype(np.uint64), p, d, negatives, cumv, _epoch, seed
                )
                n = len(c)
                n_pairs += n
                for s in range(0, n, batch_pairs):
                    e = min(s + batch_pairs, n)
                    ci, xi, ni = c[s:e], x[s:e], neg[s:e]
                    vin = wi[ci]  # B×d
                    vpos = wo[xi]  # B×d
                    vneg = wo[ni]  # B×k×d
                    s_pos = _sigmoid(np.einsum("bd,bd->b", vin, vpos))
                    s_neg = _sigmoid(np.einsum("bd,bkd->bk", vin, vneg))
                    loss_sum += float(
                        -np.log(np.maximum(s_pos, 1e-10)).sum()
                        - np.log(np.maximum(1.0 - s_neg, 1e-10)).sum()
                    )
                    g_pos = (s_pos - 1.0).astype(np.float32)  # B
                    g_neg = s_neg.astype(np.float32)  # B×k
                    grad_in = g_pos[:, None] * vpos + np.einsum(
                        "bk,bkd->bd", g_neg, vneg
                    ).astype(np.float32)
                    grad_out = np.concatenate(
                        [
                            g_pos[:, None] * vin,
                            (g_neg[..., None] * vin[:, None, :]).reshape(
                                -1, dim
                            ),
                        ]
                    ).astype(np.float32)
                    out_rows = np.concatenate([xi, ni.ravel()])
                    # per-row MEAN of the chunk's gradient contributions —
                    # a plain scatter-SUM gives a row appearing r times in
                    # the chunk an effective step of r·lr against one stale
                    # snapshot (r ≈ B/V for frequent rows), which diverges;
                    # the mean bounds every row's step by lr·|grad| for any
                    # batch_pairs, and batch_pairs=1 degenerates to it
                    for mat, rows_idx, grads in (
                        (wi, ci, grad_in),
                        (wo, out_rows, grad_out),
                    ):
                        uniq_r, inv_r = np.unique(rows_idx, return_inverse=True)
                        acc = np.zeros((len(uniq_r), dim), dtype=np.float32)
                        np.add.at(acc, inv_r, grads)
                        cnt = np.bincount(inv_r).astype(np.float32)
                        mat[uniq_r] -= lr * acc / cnt[:, None]
                    np.add.at(t_in, ci, 1)
                    np.add.at(t_out, xi, 1)
                    np.add.at(t_out, ni.ravel(), 1)
            touched = np.flatnonzero((t_in > 0) | (t_out > 0))
            out = pd.DataFrame(
                {
                    "row": touched,
                    "d_in": list((wi[touched] - wi0[touched]).astype(np.float32)),
                    "d_out": list((wo[touched] - wo0[touched]).astype(np.float32)),
                    "t_in": t_in[touched],
                    "t_out": t_out[touched],
                    "part": np.full(len(touched), pid, dtype=np.int32),
                    "loss": np.zeros(len(touched)),
                    "pairs": np.zeros(len(touched), dtype=np.int64),
                }
            )
            stats = pd.DataFrame(
                {
                    "row": [-1],
                    "d_in": [np.zeros(0, dtype=np.float32)],
                    "d_out": [np.zeros(0, dtype=np.float32)],
                    "t_in": [0],
                    "t_out": [0],
                    "part": [pid],
                    "loss": [loss_sum],
                    "pairs": [n_pairs],
                }
            )
            yield pd.concat([out, stats], ignore_index=True)

        deltas = corpus.mapInPandas(train_part, schema=delta_schema)

        # distributed touch-weighted reduce: bucket rows, sum Δ·touch and
        # touch per model row inside numpy, one output row per touched row
        def reduce_bucket(
            _key, pdf: pd.DataFrame
        ) -> pd.DataFrame:
            # fixed summation order (row, source partition) so the f64
            # accumulation — and therefore the model — is bit-deterministic
            pdf = pdf.sort_values(["row", "part"], ignore_index=True)
            rows = pdf["row"].to_numpy(dtype=np.int64)
            uniq, inv = np.unique(rows, return_inverse=True)
            k = len(uniq)
            acc_in = np.zeros((k, dim), dtype=np.float64)
            acc_out = np.zeros((k, dim), dtype=np.float64)
            ti = np.zeros(k, dtype=np.int64)
            to = np.zeros(k, dtype=np.int64)
            d_in = np.stack(pdf["d_in"].to_numpy()).astype(np.float64)
            d_out = np.stack(pdf["d_out"].to_numpy()).astype(np.float64)
            w_ti = pdf["t_in"].to_numpy(dtype=np.int64)
            w_to = pdf["t_out"].to_numpy(dtype=np.int64)
            np.add.at(acc_in, inv, d_in * w_ti[:, None])
            np.add.at(acc_out, inv, d_out * w_to[:, None])
            np.add.at(ti, inv, w_ti)
            np.add.at(to, inv, w_to)
            return pd.DataFrame(
                {
                    "row": uniq,
                    "d_in": list(acc_in.astype(np.float32)),
                    "d_out": list(acc_out.astype(np.float32)),
                    "t_in": ti,
                    "t_out": to,
                }
            )

        upd_schema = T.StructType(delta_schema.fields[:5])
        weight_rows = deltas.filter(F.col("row") >= 0)
        reduced = (
            weight_rows.groupBy((F.col("row") % 1024).alias("bucket"))
            .applyInPandas(
                lambda key, pdf: reduce_bucket(key, pdf), schema=upd_schema
            )
            .toPandas()
        )
        stats = (
            deltas.filter(F.col("row") < 0)
            .agg(F.sum("loss").alias("loss"), F.sum("pairs").alias("pairs"))
            .collect()[0]
        )

        if len(reduced):
            rws = reduced["row"].to_numpy(dtype=np.int64)
            ti = reduced["t_in"].to_numpy(dtype=np.float64)
            to = reduced["t_out"].to_numpy(dtype=np.float64)
            sin = np.stack(reduced["d_in"].to_numpy()).astype(np.float64)
            sout = np.stack(reduced["d_out"].to_numpy()).astype(np.float64)
            m_in = ti > 0
            m_out = to > 0
            w_in[rws[m_in]] += (
                sin[m_in] / ti[m_in, None]
            ).astype(np.float32)
            w_out[rws[m_out]] += (
                sout[m_out] / to[m_out, None]
            ).astype(np.float32)
        model_bc.unpersist()
        n_pairs_total = int(stats["pairs"] or 0)
        metrics.append(
            EpochMetrics(
                epoch=epoch,
                pairs=n_pairs_total,
                loss=float(stats["loss"] or 0.0) / max(1, n_pairs_total),
                touched_rows=int(len(reduced)),
                wall_sec=_time.monotonic() - t0,
            )
        )

    emb_pdf = pd.DataFrame(
        {"vid": vids, "embedding": list(w_in.astype(np.float32))}
    )
    embeddings = spark.createDataFrame(
        emb_pdf, schema="vid long, embedding array<float>"
    )
    return SkipgramModel(embeddings=embeddings, metrics=metrics)
