"""Densest subgraph — greedy peeling (Charikar 2-approximation, in the
Bahmani–Kumar–Vazirani O(log n)-round parallel form).

The densest subgraph (the vertex set S maximizing |E(S)| / |S|) is the
canonical link-graph "dense cluster" question — link farms, spam rings,
and tightly-knit communities all surface as near-cliques whose density
dwarfs the crawl average. The reference's structure family stops at
trusses/cores (TrussMsg.chpl); this operator extends it with the published
scalable answer: repeatedly peel every vertex whose degree is at most
``2·(1+eps)·rho`` of the current subgraph (rho = |E|/|V|), and keep the
best-density prefix ever seen. Charikar's analysis gives a
2(1+eps)-approximation; the (1+eps) slack makes the round count
O(log_{1+eps} V) instead of O(V), which is what makes it runnable at
10^12 edges.

Spark shape (the k-core discipline, kcore.py): one round = one degree
aggregation — whose single ``agg(count, sum)`` action yields |V| and
2|E| together, so measuring density costs no extra job — plus two
anti-joins on the vertex id. Uniform keys, no wedge join, map-side
combine on the degree agg. Peeled vertices are emitted as per-round
DELTAS tagged with their peel round (each vertex appears exactly once,
O(V) rows total), so reconstructing the winning subgraph is a filter
over the delta union, not a stored snapshot per round. Checkpoints are
one round deep and explicitly unpersisted.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.local import local_frame
from .triangles import _undirected_simple_edges


@dataclass
class DensestSubgraphResult:
    """Best peel prefix: its density, size, and vertex set."""

    density: float
    n_vertices: int
    n_edges: int
    best_round: int
    rounds: int
    #: (vid) rows of the best subgraph
    vertices: DataFrame
    #: per-round (round, n_vertices, n_edges, density), round 0 = input
    history: list[tuple[int, int, int, float]]


def densest_subgraph(
    graph: Graph, epsilon: float = 0.1, max_rounds: int = 100_000
) -> DensestSubgraphResult:
    """Greedy-peel densest subgraph over the simple undirected view.

    ``epsilon >= 0`` trades approximation (2(1+eps)) for rounds
    (O(log_{1+eps} V) when positive; eps=0 is the exact greedy peel,
    O(V) rounds worst case — fine for diagnostics, not for a crawl).
    Every graph has a vertex of degree <= 2*rho (the average), so each
    round peels at least one vertex and the loop always terminates.
    """
    if epsilon < 0:
        raise ValueError(f"epsilon must be >= 0, got {epsilon}")
    cur = _undirected_simple_edges(graph).localCheckpoint(eager=True)
    # explicit alive set: a vertex whose NEIGHBORS are all peeled keeps no
    # edge and would silently vanish from an edge-derived degree table —
    # it must instead surface with degree 0 (always <= the threshold) so
    # every vertex lands in exactly one peel delta and the best-prefix
    # reconstruction below is complete.
    alive = (
        cur.select(F.col("u").alias("vid"))
        .unionAll(cur.select(F.col("v").alias("vid")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deltas: list[DataFrame] = []
    history: list[tuple[int, int, int, float]] = []
    best_density, best_round = -1.0, 0
    best_v, best_e = 0, 0
    rnd = 0
    while True:
        deg_e = (
            cur.select(F.col("u").alias("vid"))
            .unionAll(cur.select(F.col("v").alias("vid")))
            .groupBy("vid")
            .agg(F.count("*").alias("d"))
        )
        deg = (
            alive.join(deg_e, "vid", "left")
            .select("vid", F.coalesce(F.col("d"), F.lit(0)).alias("deg"))
            .localCheckpoint(eager=True)
        )
        # one agg action: |V| and sum(deg)=2|E| of the surviving subgraph
        stats = deg.agg(
            F.count("*").alias("nv"), F.sum("deg").alias("sdeg")
        ).first()
        n_v = stats["nv"]
        if n_v == 0:
            deg.unpersist()
            break
        n_e = int(stats["sdeg"]) // 2
        rho = n_e / n_v
        history.append((rnd, n_v, n_e, rho))
        if rho > best_density:
            best_density, best_round = rho, rnd
            best_v, best_e = n_v, n_e
        if rnd >= max_rounds:
            raise RuntimeError(
                f"densest_subgraph did not finish within {max_rounds} rounds"
            )
        bad = deg.filter(F.col("deg") <= 2.0 * (1.0 + epsilon) * rho)
        deltas.append(
            bad.select("vid", F.lit(rnd).alias("peel_round")).localCheckpoint(
                eager=True
            )
        )
        nxt_alive = alive.join(bad, "vid", "left_anti").localCheckpoint(
            eager=True
        )
        nxt = (
            cur.join(bad.select(F.col("vid").alias("u")), "u", "left_anti")
            .join(bad.select(F.col("vid").alias("v")), "v", "left_anti")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        deg.unpersist()
        alive.unpersist()
        cur.unpersist()
        alive, cur = nxt_alive, nxt
        rnd += 1
    alive.unpersist()
    cur.unpersist()
    # the best subgraph = everything still alive entering best_round =
    # exactly the vertices peeled at round >= best_round (the loop only
    # exits once every vertex has been peeled)
    spark = graph.edges.sparkSession
    if deltas:
        all_deltas = deltas[0]
        for d in deltas[1:]:
            all_deltas = all_deltas.unionAll(d)
        verts = (
            all_deltas.filter(F.col("peel_round") >= best_round)
            .select("vid")
            .localCheckpoint(eager=True)
        )
        for d in deltas:
            d.unpersist()
    else:  # edgeless input
        verts = local_frame(spark, [], "vid long")
    return DensestSubgraphResult(
        density=best_density if best_density >= 0 else 0.0,
        n_vertices=best_v,
        n_edges=best_e,
        best_round=best_round,
        rounds=rnd,
        vertices=verts,
        history=history,
    )
