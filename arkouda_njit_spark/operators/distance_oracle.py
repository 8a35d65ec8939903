"""Sketch-based approximate distance oracle for web-scale graphs.

Das Sarma, Gollapudi, Najork & Panigrahy, "A Sketch-Based Distance
Oracle for Web-Scale Graphs" (WSDM 2010): sample seed sets
S_0, S_1, ..., S_{r-1} with |S_i| = 2^i; every vertex u stores, per
set, its CLOSEST seed and the distance to it. The estimate

    d~(u, v) = min over sets i, common seed w: d(u, w) + d(w, v)

is an upper bound on the true distance (it is a real path through w)
and, per the paper, a 2k-1 multiplicative approximation with r =
O(log n) sets in expectation. Answering a query is a sketch join — no
graph traversal at query time, which is the entire point at 10^12
edges: the graph is touched once to BUILD the sketch, queries are
O(sketch) lookups.

Spark formulation:
* seeds are hash-sampled deterministically (xxhash64 order — seeded,
  partition-invariant, no `rand()`);
* ALL sets build in ONE `multi_source_bfs` (operators/bfs.py) — the
  multi-root frontier is keyed by (root, vid), so adding seed sets
  widens the frontier, never adds rounds; total rounds = max
  eccentricity, exactly one action per level;
* the per-(vertex, set) argmin over reached seeds is one
  map-side-combined `min_by` aggregation;
* queries (a pair table) are two equi-joins of the pair endpoints
  against the sketch plus a min-aggregate — broadcast when the sketch
  side fits, shuffle-hash on vid otherwise.

The sketch is O(V · r) rows of four longs — at 10^12 vertices and r=30
sets that is the same order as one PageRank state table per set, each
built inside the shared BFS rather than separately.

Reference parity: the reference's Diameter.chpl runs exact BFS per
component; this is the published approximate path for when exact
all-pairs is impossible (SURVEY §2.7 beyond-reference block).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.local import local_frame
from .bfs import multi_source_bfs


def distance_sketch(
    graph: Graph,
    num_sets: int | None = None,
    seed: int = 0,
    directed: bool = False,
) -> DataFrame:
    """(vid, set_id, seed_vid, dist) — each vertex's closest seed per
    sampled set. ``num_sets`` defaults to ceil(log2 n); set sizes are
    1, 2, 4, ..., capped at n. ``directed=False`` sketches over the
    symmetric edge view (distance in the undirected sense — the paper's
    setting); ``directed=True`` uses out-edges only, making d~(u,v) an
    upper bound on the directed u→w→v path length."""
    import math

    n = graph.n_vertices
    if n == 0:
        return local_frame(
            graph.spark,
            [], "vid long, set_id int, seed_vid long, dist long"
        )
    if num_sets is None:
        num_sets = max(1, math.ceil(math.log2(max(2, n))))
    verts = graph.vertices.select("vid")
    # deterministic hash-mod sampling (NO sort: an orderBy().limit(2^i)
    # at the larger sets would funnel n/2 rows through the driver):
    # vertex v joins set i iff pmod(xxhash64(v, seed, i), n) < 2^i —
    # expected size 2^i, uniform, partition-invariant. Seeds carry a
    # composite root id (set_id << 44 | vid): internal vids are dense
    # 0..n-1 and n <= 2^44 covers 10^12 vertices with room for ~2^19
    # sets in a long.
    sources = None
    for i in range(num_sets):
        size = min(1 << i, n)
        s_i = (
            verts.filter(
                F.pmod(F.xxhash64("vid", F.lit(seed), F.lit(i)), F.lit(n))
                < F.lit(size)
            ).select(
                (F.col("vid") + F.lit(i * (1 << 44)).cast("long")).alias("root"),
                "vid",
            )
        )
        sources = s_i if sources is None else sources.unionByName(s_i)
    if directed:
        edges = graph.edges.select("src", "dst").distinct()
    else:
        e = graph.edges.select("src", "dst")
        edges = (
            e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .distinct()
        )
    edges = edges.persist()
    # PRUNED multi-set BFS (the paper's semantics): within a set, seeds
    # COMPETE — a vertex is claimed once, by its closest seed (ties: min
    # seed id), and only the claimant's wave continues through it. State
    # is O(V · num_sets), NOT O(V · total seeds): without the pruning the
    # largest set alone would visit every vertex once per seed. Loop
    # discipline is operators/bfs.py's: one action per level, lazy
    # flat checkpoints, frontier keyed by (set_id, vid).
    frontier = (
        sources.select(
            F.shiftright(F.col("root"), 44).cast("int").alias("set_id"),
            "vid",
            F.col("root").bitwiseAND(F.lit((1 << 44) - 1)).alias("seed_vid"),
            F.lit(0).cast("long").alias("dist"),
        )
        .localCheckpoint(eager=True)
    )
    levels = [frontier]
    claimed = frontier.select("set_id", "vid")
    dist = 0
    while True:
        dist += 1
        nxt = (
            edges.join(frontier.withColumnRenamed("vid", "src"), "src")
            .groupBy("set_id", F.col("dst").alias("vid"))
            .agg(F.min(F.struct("dist", "seed_vid")).alias("_m"))
            .join(claimed, ["set_id", "vid"], "left_anti")
            .select(
                "set_id",
                "vid",
                F.col("_m.seed_vid").alias("seed_vid"),
                F.lit(dist).cast("long").alias("dist"),
            )
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        levels.append(nxt)
        frontier = nxt
        claimed = claimed.unionAll(nxt.select("set_id", "vid"))
        if dist % 8 == 0:
            claimed = claimed.localCheckpoint(eager=False)
    edges.unpersist()
    from functools import reduce

    return reduce(DataFrame.unionAll, levels).select(
        "vid", "set_id", "seed_vid", "dist"
    )


def approx_distances(
    sketch: DataFrame, pairs: DataFrame, u_col: str = "u", v_col: str = "v"
) -> DataFrame:
    """(u, v, approx_dist) for every queried pair: min over common
    sketch seeds of d(u,w)+d(w,v); NULL when the two sketches share no
    seed (different components, or the sketch needs more sets). Upper
    bound by construction. Two vid equi-joins + one min aggregate."""
    su = sketch.select(
        F.col("vid").alias(u_col),
        "set_id",
        "seed_vid",
        F.col("dist").alias("_du"),
    )
    sv = sketch.select(
        F.col("vid").alias(v_col),
        "set_id",
        "seed_vid",
        F.col("dist").alias("_dv"),
    )
    return (
        pairs.select(u_col, v_col)
        .join(su, u_col)
        .join(sv, [v_col, "set_id", "seed_vid"])
        .groupBy(u_col, v_col)
        .agg(F.min(F.col("_du") + F.col("_dv")).alias("approx_dist"))
        .join(pairs.select(u_col, v_col), [u_col, v_col], "right")
    )
