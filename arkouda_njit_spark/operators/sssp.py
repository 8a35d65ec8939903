"""Single-source shortest paths over non-negative edge weights.

Absent from the reference (Arachne's traversals are unweighted BFS;
SURVEY.md §2.7 mandates the standard weighted companion). Frontier-based
label-correcting — the distributed Bellman–Ford refinement every BSP
graph system ships (Pregel's original example workload):

    improved_{t} = min over edges (u,v) with u in frontier_{t-1}
                   of dist(u) + w(u,v), kept only where it beats dist(v)

Only vertices whose distance just improved propagate next round, so a
round is ONE ``edges ⋈ frontier → groupBy(root, vid).min`` exchange plus
the improvement anti-filter — on a web graph with shortcuts the frontier
collapses quickly, and the loop costs O(hop-diameter) rounds like BFS,
not O(V) like textbook Bellman–Ford. Multi-root like
:func:`.bfs.multi_source_bfs`: the state is (root, vid)-keyed, so k
sources ride one loop. Exactly one action per round (the count on the
lazily-checkpointed improvement set, which materializes it in the same
job); the V-sized distance table is rewritten only through checkpoints
that drop inherited stats (plans/checkpoints.py).

Negative weights raise: label-correcting still terminates on negative
edges without negative cycles, but silently wrong results on cycles are
worse than an explicit contract (matching Dijkstra-family semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.local import local_frame


def shortest_paths(
    graph: Graph,
    source: int | list[int],
    source_is_label: bool = True,
    max_rounds: int = 10_000,
) -> DataFrame:
    """Weighted shortest-path distances from one or many sources.

    Returns (root, vid, dist) for every vertex reachable from each
    source (roots and vids are internal ids unless mapped back by the
    caller; ``source`` is an original label by default, matching
    ``bfs_layers``). Unreached (root, vid) pairs are absent — join with
    ``graph.vertices`` for an explicit infinity convention.
    """
    spark = graph.spark
    labels = [int(source)] if isinstance(source, int) else [int(s) for s in source]
    if source_is_label:
        rows = graph.vertices.filter(F.col("label").isin(labels)).collect()
        found = {r["label"] for r in rows}
        missing = [s for s in labels if s not in found]
        if missing:
            raise ValueError(f"source vertices not in graph: {missing}")
        vids = [r["vid"] for r in rows]
    else:
        vids = labels
    sources = local_frame(spark, [(v, v) for v in vids], "root long, vid long")
    return multi_source_shortest_paths(
        graph.edges.select("src", "dst", "weight"), sources, max_rounds=max_rounds
    )


def multi_source_shortest_paths(
    edges: DataFrame, sources: DataFrame, max_rounds: int = 10_000
) -> DataFrame:
    """Label-correcting loop over (root, vid, dist); see module docstring.

    ``edges`` is (src, dst, weight >= 0); ``sources`` is (root, vid).
    """
    neg = edges.filter(F.col("weight") < 0).limit(1).count()
    if neg:
        raise ValueError(
            "shortest_paths requires non-negative weights (negative-cycle "
            "results would be silently wrong)"
        )
    dist = (
        sources.select("root", "vid", F.lit(0.0).alias("dist"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    for _round in range(max_rounds):
        cand = (
            edges.join(
                frontier.select("root", F.col("vid").alias("src"), "dist"), "src"
            )
            .groupBy("root", F.col("dst").alias("vid"))
            .agg(F.min(F.col("dist") + F.col("weight")).alias("d"))
        )
        improved = (
            cand.join(
                dist.select("root", "vid", F.col("dist").alias("_old")),
                ["root", "vid"],
                "left",
            )
            .filter(F.col("_old").isNull() | (F.col("d") < F.col("_old")))
            .select("root", "vid", F.col("d").alias("dist"))
            .localCheckpoint(eager=False)
        )
        if improved.count() == 0:  # the round's ONE action
            break
        dist = (
            dist.join(improved.select("root", "vid"), ["root", "vid"], "left_anti")
            .unionAll(improved)
            .localCheckpoint(eager=False)
        )
        frontier = improved
    else:
        raise RuntimeError(f"shortest_paths did not settle in {max_rounds} rounds")
    return dist
