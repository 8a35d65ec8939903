"""Breadth-first search layers (level-synchronous frontier expansion).

Reference kernel: /root/reference/arachne/server/BreadthFirstSearch.chpl:27-138
(shared-memory frontier lists + aggregated distributed version); client API
``bfs_layers(graph, source) -> depth array`` (methods.py:146-171), depth -1
for unreachable vertices.

Spark formulation: the frontier is its own small DataFrame; one iteration is
``frontier ⋈ edges → distinct dst − visited``. The frontier is usually tiny
relative to the edge table, so Spark broadcasts it under AQE (the reference's
aggregation buffers correspond to the shuffle write path when it isn't).

One action per level: the new frontier is lazily localCheckpointed (flat
LogicalRDD plan, no job at creation) and counted — no isEmpty probe, no
per-level re-checkpoint of the whole visited set. The visited state is the
union of the checkpointed per-level frontiers, which partition the reached
set, so total stored volume is O(reached vertices).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.local import local_frame


def bfs_layers(graph: Graph, source: int, source_is_label: bool = True) -> DataFrame:
    """(vid, depth) for every vertex; depth -1 if unreachable.

    ``source`` is an original vertex label by default (reference API takes
    labels); pass ``source_is_label=False`` for an internal vid. Single
    source is the 1-root case of :func:`multi_source_bfs` (same kernel,
    same one-job-per-level loop).
    """
    spark = graph.spark
    if source_is_label:
        row = graph.vertices.filter(F.col("label") == int(source)).collect()
        if not row:
            raise ValueError(f"source vertex {source} not in graph")
        src_vid = row[0]["vid"]
    else:
        src_vid = int(source)

    sources = local_frame(spark, [(0, int(src_vid))], "root long, vid long")
    visited = multi_source_bfs(graph.edges.select("src", "dst"), sources)
    return graph.vertices.join(visited.select("vid", "depth"), "vid", "left").select(
        "vid", F.coalesce("depth", F.lit(-1)).alias("depth")
    )


def multi_source_bfs(edges: DataFrame, sources: DataFrame) -> DataFrame:
    """Level-synchronous BFS from many roots AT ONCE: one loop, all roots.

    ``sources`` is (root long, vid long); returns (root, vid, depth) for every
    vertex reached from its root. The frontier is keyed by (root, vid), so a
    single per-level join covers every root's frontier simultaneously — the
    loop runs max-eccentricity levels total instead of once per root
    (reference runs one BFS per component sequentially,
    Diameter.chpl:143-186; this is the scale shape that replaces it).
    Reachability is per-root: roots in different components never mix because
    expansion follows edges only.

    Exactly ONE action per level: the count on the new frontier. Each
    level is a LAZY localCheckpoint — the Dataset wraps a flat LogicalRDD
    at creation (no job), so per-level plans never nest the full history
    (a plain ``persist`` keeps prior levels' plans inside every
    InMemoryRelation and the analysis cost grows exponentially with
    depth), and the count materializes the checkpoint blocks inside the
    same job. The frontiers partition the reached set, so the union of
    the checkpointed levels IS the visited state — total stored volume is
    O(reached vertices), with no per-level O(visited) re-checkpoint and
    no isEmpty probe. The returned union's blocks live until the Python
    references are collected (checkpoint block cleanup is GC-driven);
    callers that loop should drop their references promptly.
    """
    from functools import reduce

    level0 = sources.select("root", "vid", F.lit(0).alias("depth")).localCheckpoint(
        eager=True
    )
    levels = [level0]
    # the visited-keys set grows INCREMENTALLY — one union per level, with a
    # lazy re-checkpoint every few levels so the anti-join's plan stays a
    # bounded-width union of LogicalRDDs instead of re-reducing the full
    # level list every iteration (O(depth^2) plan work on high-diameter
    # inputs, round-4 ADVICE #5). The re-checkpoint is lazy: it
    # materializes inside the next level's count, keeping one job/level.
    visited_keys = level0.select("root", "vid")
    frontier = visited_keys
    depth = 0
    while True:
        depth += 1
        nxt = (
            edges.join(frontier.withColumnRenamed("vid", "src"), "src")
            .select("root", F.col("dst").alias("vid"))
            .distinct()
            .join(visited_keys, ["root", "vid"], "left_anti")
            .withColumn("depth", F.lit(depth))
            .localCheckpoint(eager=False)
        )
        # the level's ONE action — materializes the checkpoint blocks
        if nxt.count() == 0:
            break
        levels.append(nxt)
        frontier = nxt.select("root", "vid")
        visited_keys = visited_keys.unionAll(frontier)
        if depth % 8 == 0:
            visited_keys = visited_keys.localCheckpoint(eager=False)
    return reduce(DataFrame.unionAll, levels)
