"""Lineage truncation for iterative kernels, without stats compounding.

``DataFrame.localCheckpoint`` cuts the *plan* (the result is a flat
``LogicalRDD`` leaf) but since SPARK-39748 it also preserves the
PRE-checkpoint plan's estimated ``Statistics`` on that leaf
(``LogicalRDD.originStats``). Catalyst's size-only estimator multiplies
child sizes at every join (``SizeInBytesOnlyStatsPlanVisitor.visitJoin``),
so in a loop of the shape

    state_{i+1} = checkpoint( edges ⋈ state_i ⋈ state_i ... )

the carried ``sizeInBytes`` estimate COMPOUNDS multiplicatively per
iteration: the number of digits in the BigInt multiplies by the number of
join references per step, and within ~10-15 iterations the optimizer
spends minutes per query doing million-digit ``BigInteger`` arithmetic
inside stats estimation (driver CPU pinned in
``BigInteger.multiplyToomCook3`` under ``visitJoin`` — observed on Louvain
level-2 sweeps growing 2.7x per sweep, and latent in every deep loop:
BFS on high-diameter graphs doubles the digit count per level).

:func:`flat_checkpoint` is the engine-wide fix: checkpoint, then rebuild
the ``LogicalRDD`` leaf WITHOUT ``originStats``/``originConstraints`` so
every iteration restarts from the honest "unknown size" default
(``spark.sql.defaultSizeInBytes``) instead of the previous iteration's
inflated product. Join-strategy quality is unaffected for these kernels:
the state side's strategy is pinned explicitly by
:func:`..plans.joins.state_join_side`, not left to size estimates.

The rebuild touches JVM internals (`LogicalRDD`'s constructor via py4j),
pinned by tests to the installed pyspark; if the internals ever move, the
helper degrades to the plain checkpoint (correct, just exposed to the
compounding) and remembers the failure so the fallback is decided once
per process, not once per iteration.

:func:`flat_persist` applies the same leaf to the engine's long-lived
caches (a graph's edge and vertex tables, a kernel's shared intermediate
tables). A ``persist()``ed DataFrame keeps its whole build plan: every
later query over it re-analyzes that tree, and Spark renders it as plan
text when each SQL execution starts and again at every adaptive stage
update — 522 KB for an RMAT-11 graph's edge table, 6.1 MB for one
triangle-count query. The leaf scans the same cached blocks through a
one-node plan, so plan work stops growing with the build's history.
Unlike ``localCheckpoint``, the rows stay in the persisted cache whose
lineage recomputes lost blocks.

One pitfall: a plain ``persist()`` of a query over a leaf is missed by
the cache lookup of any later query that reads the same leaf twice (say
``vertices.join(cached_over_vertices)``). Spark gives the second
occurrence fresh attribute ids, and ``LogicalRDD`` canonicalization does
not normalize the ids inside the partitioning and ordering the leaf
carries, so the two plans no longer compare equal and the cached query is
recomputed. Cache such a frame with :func:`flat_persist` as well.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_STRIP_BROKEN = False
_LEAF_BROKEN = False
_INSTALLED = False


def flat_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` that also drops inherited stats estimates.

    Drop-in replacement for ``DataFrame.localCheckpoint`` inside iterative
    kernels. Same semantics (lineage cut at a materialized-on-first-use or
    eager ``LogicalRDD``); the leaf's statistics are reset to the default
    instead of carrying the pre-checkpoint plan's join-size product.
    """
    return _stripped(df.localCheckpoint(eager=eager))


def flat_persist(df: DataFrame) -> tuple[DataFrame, int]:
    """``persist()`` + materializing count, returned as a flat plan leaf.

    Returns ``(leaf, rows)``. The leaf's logical plan is one ``LogicalRDD``
    over the cached scan's rows, carrying that scan's output partitioning
    and ordering (a ``src``-partitioned table still joins and groups on
    ``src`` with no exchange) and the cache's measured ``Statistics``
    (join selection sees the same sizes as over the persisted frame).
    ``leaf.unpersist()`` releases the cache underneath. If Spark's
    internals move, the plain persisted frame is returned instead, decided
    once per process.
    """
    global _LEAF_BROKEN
    cached = df.persist()
    rows = cached.count()
    if _LEAF_BROKEN:
        return cached, rows
    try:
        return _leaf_over_cache(cached), rows
    except Exception:  # pragma: no cover - depends on Spark internals
        _LEAF_BROKEN = True
        return cached, rows


def _leaf_over_cache(cached: DataFrame) -> DataFrame:
    spark = cached.sparkSession
    jvm = spark._jvm  # type: ignore[attr-defined]
    jsession = spark._jsparkSession  # type: ignore[attr-defined]
    dataset_companion = getattr(
        getattr(jvm.org.apache.spark.sql.classic, "Dataset$"), "MODULE$"
    )
    # a fresh QueryExecution, so the cache lookup sees the new cache entry
    qe = dataset_companion.ofRows(
        jsession, cached._jdf.queryExecution().logical()  # type: ignore[attr-defined]
    ).queryExecution()
    relation = qe.optimizedPlan()
    scan = qe.sparkPlan()
    if (
        relation.getClass().getSimpleName() != "InMemoryRelation"
        or scan.getClass().getSimpleName() != "InMemoryTableScanExec"
    ):
        return cached
    rdd = qe.toRdd()
    partitioning = scan.outputPartitioning()
    if partitioning.numPartitions() not in (0, rdd.getNumPartitions()):
        return cached
    none = getattr(getattr(jvm.scala, "None$"), "MODULE$")
    leaf_plan = jvm.org.apache.spark.sql.execution.LogicalRDD(
        scan.output(),
        rdd,
        partitioning,
        scan.outputOrdering(),
        False,  # isStreaming
        none,  # stream
        jsession,
        jvm.scala.Some(relation.stats()),  # originStats: measured by the count
        none,  # originConstraints
    )
    leaf = DataFrame(dataset_companion.ofRows(jsession, leaf_plan), spark)

    # the cache is keyed by the persisted frame's plan, which the leaf no
    # longer carries: route the leaf's unpersist to it
    def unpersist(blocking: bool = False) -> DataFrame:
        cached.unpersist(blocking)
        leaf.is_cached = False
        return leaf

    leaf.unpersist = unpersist  # type: ignore[method-assign]
    leaf.is_cached = True
    return leaf


def install_flat_checkpoints() -> None:
    """Make every ``DataFrame.localCheckpoint`` in the process stats-safe.

    The engine's kernels checkpoint per iteration in ~70 places (fixpoint
    loops, frontier expansions, streaming micro-batch state); every one of
    them compounds the inherited size estimate the same way, and a missed
    site is a latent multi-minute optimizer stall that only shows up at
    high iteration counts. Wrapping the classic ``DataFrame.localCheckpoint``
    once (called from the package ``__init__``) applies the strip uniformly
    — semantics are unchanged, only the leaf's *estimated* Statistics are
    reset, and AQE still re-plans from real runtime sizes at shuffle
    boundaries. Connect-mode DataFrames are untouched (no local JVM plan).
    Idempotent; falls back to the unwrapped behavior if Spark's internals
    move (same guard as :func:`flat_checkpoint`).
    """
    global _INSTALLED
    if _INSTALLED:
        return
    try:
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
    except ImportError:  # pragma: no cover - connect-only installs
        _INSTALLED = True
        return
    original = ClassicDataFrame.localCheckpoint

    def localCheckpoint(self, eager: bool = True):  # noqa: N802 - pyspark name
        return _stripped(original(self, eager=eager))

    localCheckpoint.__doc__ = (original.__doc__ or "") + (
        "\n\n.. note:: wrapped by arkouda_njit_spark.plans.checkpoints to"
        " drop inherited originStats (see that module's docstring)."
    )
    ClassicDataFrame.localCheckpoint = localCheckpoint
    _INSTALLED = True


def _stripped(ck: DataFrame) -> DataFrame:
    global _STRIP_BROKEN
    if _STRIP_BROKEN:
        return ck
    try:
        return _strip_origin_stats(ck)
    except Exception:  # pragma: no cover - depends on Spark internals
        _STRIP_BROKEN = True
        return ck


def _strip_origin_stats(ck: DataFrame) -> DataFrame:
    spark = ck.sparkSession
    jvm = spark._jvm  # type: ignore[attr-defined]
    plan = ck._jdf.queryExecution().logical()  # type: ignore[attr-defined]
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return ck
    none = getattr(getattr(jvm.scala, "None$"), "MODULE$")
    bare = jvm.org.apache.spark.sql.execution.LogicalRDD(
        plan.output(),
        plan.rdd(),
        plan.outputPartitioning(),
        plan.outputOrdering(),
        plan.isStreaming(),
        plan.stream(),
        spark._jsparkSession,  # type: ignore[attr-defined]
        none,  # originStats
        none,  # originConstraints
    )
    dataset_companion = getattr(
        getattr(jvm.org.apache.spark.sql.classic, "Dataset$"), "MODULE$"
    )
    jdf = dataset_companion.ofRows(spark._jsparkSession, bare)  # type: ignore[attr-defined]
    return DataFrame(jdf, spark)
