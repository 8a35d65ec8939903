"""Triadic census: counts of all 16 directed-triad isomorphism classes.

The reference runs its triad analysis as 13 separate subgraph-isomorphism
searches (``arachne/benchmarks/triads.py:18-77`` builds the 13 connected
triad patterns and matches each against the Hemibrain graph). Re-running a
backtracking matcher 13 times is the wrong shape for Spark; this module
uses the Batagelj–Mrvar closed form (the same classification table
NetworkX's ``triadic_census`` uses), which needs only:

  * the **dyad table** — one groupBy over the edge list giving each
    unordered pair a code (mutual / asymmetric / null by absence);
  * one **hub-safe triangle enumeration** over the underlying undirected
    pair set (degree-ordered orientation from operators/triangles.py — no
    unoriented wedge fan-out, per the round-1 verdict);
  * **per-vertex combinatorics** for the open (2-dyad) triads: the count
    of (dyad-type, dyad-type) pairs at each center is C(m,2), m*o, o*i,
    ... minus each closed triad's three corner contributions — so open
    triads are never materialized (a 10^6-degree hub contributes
    arithmetic, not 10^12 wedge rows);
  * scalar algebra for the disconnected classes (012/102/003) from the
    dyad totals and C(n,3).

Everything heavy is a distributed aggregation; only O(1)-row aggregates
are collected. Census values match ``networkx.triadic_census`` exactly
(tests/test_triads.py, randomized differential test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.local import local_frame
from .triangles import _triangle_rows_cached

# Batagelj–Mrvar tricode → triad-class lookup (public classification table,
# as used by networkx.algorithms.triads). Index = 6-bit edge code over the
# ordered pairs (a,b),(b,a),(a,c),(c,a),(b,c),(c,b) with bit weights
# 1,2,4,8,16,32; value = index into TRIAD_NAMES.
TRIAD_NAMES = (
    "003", "012", "102", "021D", "021U", "021C", "111D", "111U",
    "030T", "030C", "201", "120D", "120U", "120C", "210", "300",
)
_TRICODES = (
    1, 2, 2, 3, 2, 4, 6, 8, 2, 6, 5, 7, 3, 8, 7, 11,
    2, 6, 4, 8, 5, 9, 9, 13, 6, 10, 9, 14, 7, 14, 12, 15,
    2, 5, 6, 7, 6, 9, 10, 14, 4, 9, 9, 12, 8, 13, 14, 15,
    3, 7, 8, 11, 7, 12, 14, 15, 8, 14, 13, 15, 11, 15, 15, 16,
)


def _dyads(graph: Graph) -> DataFrame:
    """(u, v, fwd, bwd) per connected unordered pair, u < v: fwd = u→v
    edge exists, bwd = v→u. Self-loops are excluded (triads are defined on
    simple digraphs; NetworkX's census likewise rejects them)."""
    e = graph.edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    return (
        e.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            (F.col("src") < F.col("dst")).cast("int").alias("f"),
            (F.col("src") > F.col("dst")).cast("int").alias("b"),
        )
        .groupBy("u", "v")
        .agg(F.max("f").alias("fwd"), F.max("b").alias("bwd"))
    )


def triadic_census(graph: Graph) -> DataFrame:
    """DataFrame (triad_type string, count long), one row per class in
    ``TRIAD_NAMES`` order; values match ``networkx.triadic_census``."""
    if not graph.directed:
        raise ValueError("triadic_census is defined for directed graphs")
    spark = graph.edges.sparkSession
    n = graph.n_vertices

    dy = _dyads(graph).persist()

    # --- dyad totals and per-vertex dyad-type counts -----------------------
    tot = dy.agg(
        F.coalesce(F.sum((F.col("fwd") + F.col("bwd") == 2).cast("long")), F.lit(0)).alias("m"),
        F.coalesce(F.sum((F.col("fwd") + F.col("bwd") == 1).cast("long")), F.lit(0)).alias("a"),
    ).collect()[0]
    M, A = tot["m"], tot["a"]

    is_m = F.col("fwd") + F.col("bwd") == 2
    per_vertex = (
        dy.select(
            F.explode(
                F.array(
                    # from u's perspective: mutual / out (u→v) / in (v→u)
                    F.struct(
                        F.col("u").alias("x"),
                        F.when(is_m, "m").when(F.col("fwd") == 1, "o").otherwise("i").alias("t"),
                    ),
                    F.struct(
                        F.col("v").alias("x"),
                        F.when(is_m, "m").when(F.col("bwd") == 1, "o").otherwise("i").alias("t"),
                    ),
                )
            ).alias("s")
        )
        .select("s.x", "s.t")
        .groupBy("x")
        .pivot("t", ["m", "o", "i"])
        .count()
        .na.fill(0)
    )
    mm, oo, ii = [F.coalesce(F.col(c), F.lit(0)).cast("long") for c in ("m", "o", "i")]
    # C(k,2) via shiftright keeps the arithmetic in 64-bit integers —
    # `/ 2` would promote to double and lose exactness past 2^53, which
    # the hub-combinatorics regime this module advertises can reach
    raw = per_vertex.agg(
        F.sum(F.shiftright(mm * (mm - 1), 1)).alias("mm"),
        F.sum(mm * oo).alias("mo"),
        F.sum(mm * ii).alias("mi"),
        F.sum(F.shiftright(oo * (oo - 1), 1)).alias("oo"),
        F.sum(F.shiftright(ii * (ii - 1), 1)).alias("ii"),
        F.sum(oo * ii).alias("oi"),
    ).collect()[0]

    # --- closed triads: tricode over enumerated triangles (reusing the
    # dyad table as the pair set — no second symmetrize+distinct shuffle) --
    tri, caches = _triangle_rows_cached(graph, und=dy.select("u", "v"))
    # vid-sorted triple (x1 < x2 < x3) so the bit layout is well-defined
    srt = tri.select(
        F.array_sort(F.array("a", "b", "c")).alias("t")
    ).select(
        F.col("t")[0].alias("x1"), F.col("t")[1].alias("x2"), F.col("t")[2].alias("x3")
    )

    def dcode(xa, xb, alias):
        # joined dyad flags for the pair (xa < xb): fwd = xa→xb, bwd = xb→xa
        return (
            dy.select(
                F.col("u").alias(f"_{alias}u"),
                F.col("v").alias(f"_{alias}v"),
                F.col("fwd").alias(f"{alias}f"),
                F.col("bwd").alias(f"{alias}b"),
            ),
            (F.col(xa) == F.col(f"_{alias}u")) & (F.col(xb) == F.col(f"_{alias}v")),
        )

    d12, c12 = dcode("x1", "x2", "p")
    d13, c13 = dcode("x1", "x3", "q")
    d23, c23 = dcode("x2", "x3", "r")
    # dyad-table joins grow with E: past the threshold dispatch shuffle_hash
    # (driver-serialized broadcast build measured FLAT 2-to-8 on this kernel;
    # impossible at web scale anyway) — same rule as triangles/ktruss
    from .triangles import BIG_EDGE_THRESHOLD

    sh = (
        (lambda df: df.hint("shuffle_hash"))
        if graph.n_edges >= BIG_EDGE_THRESHOLD
        else (lambda df: df)
    )
    coded = (
        srt.join(sh(d12), c12).join(sh(d13), c13).join(sh(d23), c23)
        .select(
            "x1", "x2", "x3",
            (
                F.col("pf") * 1 + F.col("pb") * 2      # (x1,x2),(x2,x1)
                + F.col("qf") * 4 + F.col("qb") * 8    # (x1,x3),(x3,x1)
                + F.col("rf") * 16 + F.col("rb") * 32  # (x2,x3),(x3,x2)
            ).alias("code"),
            F.col("pf"), F.col("pb"), F.col("qf"), F.col("qb"), F.col("rf"), F.col("rb"),
        )
        .persist()
    )

    lut = F.array(*[F.lit(TRIAD_NAMES[t - 1]) for t in _TRICODES])
    closed_counts = {
        r["name"]: r["cnt"]
        for r in coded.select(F.element_at(lut, F.col("code") + 1).alias("name"))
        .groupBy("name")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }

    # --- corner contributions: the pair of dyads each triangle induces at
    # each of its three corners, keyed by unordered type pair ---------------
    def corner(fa, ba, fb, bb):
        # dyad codes relative to the corner: (f=out-edge flag, b=in-edge flag)
        ta = F.when(fa + ba == 2, "m").when(fa == 1, "o").otherwise("i")
        tb = F.when(fb + bb == 2, "m").when(fb == 1, "o").otherwise("i")
        return F.concat_ws("", F.least(ta, tb), F.greatest(ta, tb))

    corners = coded.select(
        F.explode(
            F.array(
                # corner x1: dyads (x1,x2) and (x1,x3); out = fwd flags
                corner(F.col("pf"), F.col("pb"), F.col("qf"), F.col("qb")),
                # corner x2: dyads (x1,x2) reversed and (x2,x3)
                corner(F.col("pb"), F.col("pf"), F.col("rf"), F.col("rb")),
                # corner x3: dyads (x1,x3) reversed and (x2,x3) reversed
                corner(F.col("qb"), F.col("qf"), F.col("rb"), F.col("rf")),
            )
        ).alias("pt")
    ).groupBy("pt").agg(F.count("*").alias("cnt"))
    corner_counts = {r["pt"]: r["cnt"] for r in corners.collect()}

    coded.unpersist()
    for h in caches:
        h.unpersist()
    dy.unpersist()

    def cc(name):
        return closed_counts.get(name, 0)

    def kc(key):
        return corner_counts.get(key, 0)

    census = dict.fromkeys(TRIAD_NAMES, 0)
    # open triads = per-vertex raw pair counts minus closed-triangle corners
    census["021D"] = int(raw["oo"]) - kc("oo")
    census["021U"] = int(raw["ii"]) - kc("ii")
    census["021C"] = int(raw["oi"]) - kc("io")
    census["111D"] = int(raw["mi"]) - kc("im")
    census["111U"] = int(raw["mo"]) - kc("mo")
    census["201"] = int(raw["mm"]) - kc("mm")
    for name in ("030T", "030C", "120D", "120U", "120C", "210", "300"):
        census[name] = cc(name)

    # single-dyad and empty classes from scalar algebra: each connected
    # class contains a known number of asymmetric / mutual dyads
    asym_in = {"021D": 2, "021U": 2, "021C": 2, "111D": 1, "111U": 1,
               "030T": 3, "030C": 3, "120D": 2, "120U": 2, "120C": 2, "210": 1}
    mut_in = {"111D": 1, "111U": 1, "201": 2, "120D": 1, "120U": 1,
              "120C": 1, "210": 2, "300": 3}
    census["012"] = A * (n - 2) - sum(census[t] * k for t, k in asym_in.items())
    census["102"] = M * (n - 2) - sum(census[t] * k for t, k in mut_in.items())
    total_triples = n * (n - 1) * (n - 2) // 6
    census["003"] = total_triples - sum(
        census[t] for t in TRIAD_NAMES if t != "003"
    )

    return local_frame(
        spark,
        [(t, int(census[t])) for t in TRIAD_NAMES], "triad_type string, count long"
    )
