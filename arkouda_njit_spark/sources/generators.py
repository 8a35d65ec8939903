"""Graph generators (reference: arachne/client/arachne/generators.py).

All generators return raw (src, dst[, weight]) DataFrames; wrap with
``Graph.from_edges`` / ``DiGraph.from_edges`` for canonical graphs.

Determinism & scale: the reference seeds ``ak.randint`` server-side
(generators.py:281); Spark's ``rand(seed)`` is seeded **per partition**, so
its output changes with the partition layout — useless for the north rule's
"identical results at N and 4N executors". Instead every random draw here is
``xxhash64(row_id, seed, tag)``-based: a pure column function of the row id,
byte-stable across any parallelism. Generation is ``spark.range`` + column
expressions — no driver-side loops, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.local import local_frame

TWO63 = float(2**63)


def _u01(*cols) -> "F.Column":
    """Deterministic uniform [0,1) from hashed columns (partition-invariant)."""
    return (F.xxhash64(*cols).cast("double") / F.lit(TWO63) + 1.0) / 2.0


def complete_graph(spark: SparkSession, n: int) -> DataFrame:
    """K_n — generators.py:22-49."""
    return (
        spark.range(n * n)
        .select(
            (F.col("id") / n).cast("long").alias("src"),
            F.pmod(F.col("id"), F.lit(n)).cast("long").alias("dst"),
        )
        .filter(F.col("src") < F.col("dst"))
    )


def path_graph(spark: SparkSession, n: int) -> DataFrame:
    """P_n — generators.py:145-164."""
    return spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )


# Zachary's karate club (1977, public dataset): the reference commits the
# 156-entry both-orientations edge list plus ground-truth community labels —
# generators.py:92-113.
KARATE_COMMUNITY = [1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 1, 1, 1, 1, 0, 0, 1, 1, 0, 1,
                    0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
KARATE_SRC = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1,
              1, 1, 1, 1, 1, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 3, 3, 3, 3,
              3, 4, 4, 4, 5, 5, 5, 5, 6, 6, 6, 6, 7, 7, 7, 7, 8, 8, 8, 8,
              8, 9, 9, 10, 10, 10, 11, 12, 12, 13, 13, 13, 13, 13, 14, 14,
              15, 15, 16, 16, 17, 17, 18, 18, 19, 19, 19, 20, 20, 21, 21,
              22, 22, 23, 23, 23, 23, 23, 24, 24, 24, 25, 25, 25, 26, 26,
              27, 27, 27, 27, 28, 28, 28, 29, 29, 29, 29, 30, 30, 30, 30,
              31, 31, 31, 31, 31, 31, 32, 32, 32, 32, 32, 32, 32, 32, 32,
              32, 32, 32, 33, 33, 33, 33, 33, 33, 33, 33, 33, 33, 33, 33,
              33, 33, 33, 33, 33]
KARATE_DST = [1, 2, 3, 4, 5, 6, 7, 8, 10, 11, 12, 13, 17, 19, 21, 31, 0, 2,
              3, 7, 13, 17, 19, 21, 30, 0, 1, 3, 7, 8, 9, 13, 27, 28, 32,
              0, 1, 2, 7, 12, 13, 0, 6, 10, 0, 6, 10, 16, 0, 4, 5, 16, 0,
              1, 2, 3, 0, 2, 30, 32, 33, 2, 33, 0, 4, 5, 0, 0, 3, 0, 1, 2,
              3, 33, 32, 33, 32, 33, 5, 6, 0, 1, 32, 33, 0, 1, 33, 32, 33,
              0, 1, 32, 33, 25, 27, 29, 32, 33, 25, 27, 31, 23, 24, 31, 29,
              33, 2, 23, 24, 33, 2, 31, 33, 23, 26, 32, 33, 1, 8, 32, 33,
              0, 24, 25, 28, 32, 33, 2, 8, 14, 15, 18, 20, 22, 23, 29, 30,
              31, 33, 8, 9, 13, 14, 15, 18, 19, 20, 22, 23, 26, 27, 28, 29,
              30, 31, 32]


def karate_club_graph(spark: SparkSession) -> DataFrame:
    """generators.py:62-116 (34 vertices, 78 undirected edges)."""
    rows = zip([int(x) for x in KARATE_SRC], [int(x) for x in KARATE_DST])
    return local_frame(spark, rows, "src long, dst long")


def random_tree(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Uniform attachment tree: parent(i) = hash-uniform in [0, i) —
    generators.py:118-143 (U = randint % arange trick)."""
    return spark.range(1, n).select(
        F.col("id").alias("src"),
        F.pmod(F.xxhash64("id", F.lit(seed)), F.col("id")).cast("long").alias("dst"),
    )


def gnp_random_graph(spark: SparkSession, n: int, p: float, seed: int = 42) -> DataFrame:
    """G(n,p): independent Bernoulli(p) draw for every ORDERED non-loop
    pair, exactly like the reference (generators.py:274-286 draws over all
    n²−n ordered pairs; an undirected Graph built from the result keeps an
    edge with probability 1−(1−p)² after symmetrize+dedup)."""
    return (
        spark.range(n * n)
        .select(
            (F.col("id") / n).cast("long").alias("src"),
            F.pmod(F.col("id"), F.lit(n)).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .filter(_u01(F.col("src") * n + F.col("dst"), F.lit(seed)) < p)
    )


def rmat_graph(
    spark: SparkSession,
    scale: int,
    edge_factor: int = 16,
    p: tuple[float, float, float, float] = (0.57, 0.19, 0.19, 0.05),
    seed: int = 42,
    permute: bool = False,
) -> DataFrame:
    """Graph500 R-MAT: per-bit quadrant assignment, fully columnar —
    reference client generators.py:166-236, server kernel
    BuildGraphMsg.chpl:350-438 (assignQuadrant/genRMATgraph).

    For each of ``m = edge_factor * 2^scale`` edges and each of ``scale``
    bits, two hash-uniform draws pick the quadrant; src/dst accumulate bits.
    Power-law hubs emerge at p=(0.57,...), giving the skew-stress fixture
    the north rule asks for.
    """
    a, b, c, d = p
    m = edge_factor * (2**scale)
    df = spark.range(m).select(
        F.col("id"), F.lit(0).cast("long").alias("src"), F.lit(0).cast("long").alias("dst")
    )
    for bit in range(scale):
        u = _u01("id", F.lit(seed), F.lit(bit))
        # quadrant probabilities: a=(0,0) b=(0,1) c=(1,0) d=(1,1)
        src_bit = F.when(u < a + b, F.lit(0)).otherwise(F.lit(1))
        dst_bit = (
            F.when(u < a, F.lit(0))
            .when(u < a + b, F.lit(1))
            .when(u < a + b + c, F.lit(0))
            .otherwise(F.lit(1))
        )
        df = df.select(
            "id",
            (F.col("src") * 2 + src_bit).alias("src"),
            (F.col("dst") * 2 + dst_bit).alias("dst"),
        )
    out = df.select("src", "dst")
    if permute:
        # TRUE bijective relabeling (the reference applies a random
        # permutation, BuildGraphMsg.chpl:393-408; a bare hash-mod is NOT
        # a bijection — ~1/e of ids would collide and merge vertices).
        # Alternating-half Feistel: xor one bit-half with a hash of the
        # other — each round is invertible, so the composition is a
        # permutation of [0, 2^scale); pure column ops, no shuffle.
        out = out.select(
            _feistel_permute(F.col("src"), scale, seed + 1).alias("src"),
            _feistel_permute(F.col("dst"), scale, seed + 1).alias("dst"),
        )
    return out


def _feistel_permute(col, scale: int, seed: int, rounds: int = 4):
    """Bijection on [0, 2^scale) from alternating xor rounds:
    L ^= hash(R) (even rounds), R ^= hash(L) (odd rounds)."""
    h_lo = max(scale // 2, 1) if scale > 1 else 0
    h_hi = scale - h_lo
    if h_hi == 0:  # scale == 1: identity is the only cheap bijection family
        return col
    lo_mask = (1 << h_lo) - 1
    hi_mask = (1 << h_hi) - 1
    L = F.shiftright(col, h_lo).bitwiseAND(F.lit(hi_mask))
    R = col.bitwiseAND(F.lit(lo_mask))
    for r in range(rounds):
        if r % 2 == 0:
            L = L.bitwiseXOR(
                F.xxhash64(R, F.lit(seed), F.lit(r)).bitwiseAND(F.lit(hi_mask))
            )
        else:
            R = R.bitwiseXOR(
                F.xxhash64(L, F.lit(seed), F.lit(r)).bitwiseAND(F.lit(lo_mask))
            )
    return (L * F.lit(1 << h_lo) + R).cast("long")


def barabasi_albert_graph(spark: SparkSession, n: int, m: int, seed: int = 42) -> DataFrame:
    """Preferential attachment (generators.py:358-423, server kernel
    BuildGraphMsg.chpl:440-500). Inherently sequential (each new vertex
    samples from the degree distribution so far), so — like the reference,
    which runs it as a serial server loop — the attachment sequence is
    computed on the driver and parallelized only as the output DataFrame.
    Intended for test-scale graphs; use rmat_graph for scale."""
    import random

    rng = random.Random(seed)
    # reference shape (BuildGraphMsg.chpl:451-486): seed star 0->(1..m),
    # then every new source m..n-1 samples m targets WITH replacement from
    # the repeated-nodes pool (duplicate draws stay in the edge list — the
    # graph build's dedup collapses them, exactly like add_edges_from)
    edges: list[tuple[int, int]] = [(0, t) for t in range(1, m + 1)]
    repeated: list[int] = [0] * m + list(range(1, m + 1))
    for source in range(m, n):
        targets = [repeated[rng.randrange(len(repeated))] for _ in range(m)]
        edges.extend((source, t) for t in targets)
        repeated.extend([source] * m)
        repeated.extend(targets)
    return local_frame(spark, edges, "src long, dst long")


def watts_strogatz_graph(
    spark: SparkSession, n: int, k: int, p: float, seed: int = 42
) -> DataFrame:
    """Ring lattice (each vertex to its k/2 successors) + hash-seeded
    rewiring of the dst endpoint — generators.py:292-356."""
    half = k // 2
    ring = (
        spark.range(n * half)
        .select(
            (F.col("id") / half).cast("long").alias("src"),
            ((F.col("id") / half).cast("long") + F.pmod(F.col("id"), F.lit(half)) + 1).alias(
                "_off"
            ),
            F.col("id"),
        )
        .select("src", F.pmod(F.col("_off"), F.lit(n)).cast("long").alias("dst"), "id")
    )
    rewire = _u01("id", F.lit(seed)) < p
    new_dst = F.pmod(F.xxhash64("id", F.lit(seed), F.lit(1)), F.lit(n)).cast("long")
    # rewiring is UNCONDITIONAL like the reference (generators.py:343-345):
    # a rewire that hits its own src yields a self-loop row that the graph
    # build drops — the edge is lost, not kept as the lattice edge
    return ring.select(
        "src",
        F.when(rewire, new_dst).otherwise(F.col("dst")).alias("dst"),
    )
