"""flat_checkpoint: stats must not compound across iterative checkpoints.

Plain ``localCheckpoint`` preserves the pre-checkpoint plan's estimated
Statistics (SPARK-39748); join-size estimation multiplies child sizes, so
an iterative join loop compounds the estimate multiplicatively until the
optimizer spends its time on million-digit BigInteger arithmetic
(plans/checkpoints.py docstring). These tests pin the fix.
"""

from pyspark.sql import functions as F

import arkouda_njit_spark.plans.checkpoints as C
from arkouda_njit_spark.plans.checkpoints import flat_checkpoint


def _size_in_bytes(df) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def test_strips_inherited_stats(spark):
    a = spark.range(1000).select(
        F.col("id").alias("src"), (F.col("id") * 7 % 100).alias("dst")
    )
    b = spark.range(500).select(
        (F.col("id") % 100).alias("dst"), F.col("id").alias("v")
    )
    joined = a.join(b, "dst")
    plain = joined.localCheckpoint()  # also wrapped once the package imports
    flat = flat_checkpoint(joined)
    assert not C._STRIP_BROKEN, "LogicalRDD internals moved; fix _strip_origin_stats"
    # the pre-checkpoint plan carries a join-product estimate; both
    # checkpoint paths must reset it to the default leaf size
    default_size = int(spark.conf.get("spark.sql.defaultSizeInBytes", str(2**63 - 1)))
    assert _size_in_bytes(joined) != default_size
    assert _size_in_bytes(flat) == default_size
    assert _size_in_bytes(plain) == default_size
    # same rows, same schema — only the estimate changed
    assert flat.schema == plain.schema == joined.schema
    assert sorted(map(tuple, flat.collect())) == sorted(map(tuple, plain.collect()))


def test_no_compounding_across_iterations(spark):
    """15 join iterations: the size estimate must stay flat, not multiply.

    With plain localCheckpoint the digit count of sizeInBytes multiplies
    per iteration (3 references per step => ~3x digits/step); by step 15
    the optimizer would be doing 10^7-digit BigInteger products. With
    flat_checkpoint every step restarts from the default leaf estimate.
    """
    edges = spark.range(2000).select(
        F.col("id").alias("src"), ((F.col("id") * 13 + 7) % 500).alias("dst")
    )
    state = flat_checkpoint(
        edges.select(F.col("src").alias("vid"), F.col("src").alias("lbl"))
    )
    sizes = []
    for _ in range(15):
        nxt = (
            edges.join(state.withColumnRenamed("vid", "src"), "src")
            .join(
                state.select(F.col("vid").alias("dst"), F.col("lbl").alias("l2")),
                "dst",
            )
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.min(F.least("lbl", "l2")).alias("lbl"))
        )
        state = flat_checkpoint(nxt)
        sizes.append(_size_in_bytes(state))
    # every iteration's leaf estimate is identical — zero compounding
    assert len(set(sizes)) == 1, sizes


def test_install_covers_plain_method(spark):
    """importing the package wraps DataFrame.localCheckpoint itself, so all
    ~70 kernel call sites (and future ones) are stats-safe without edits."""
    a = spark.range(1000).select(
        F.col("id").alias("src"), (F.col("id") * 3 % 50).alias("dst")
    )
    b = spark.range(300).select((F.col("id") % 50).alias("dst"))
    default_size = int(spark.conf.get("spark.sql.defaultSizeInBytes", str(2**63 - 1)))
    ck = a.join(b, "dst").localCheckpoint()  # plain method, post-install
    assert _size_in_bytes(ck) == default_size
    assert not C._STRIP_BROKEN


def test_lazy_flat_checkpoint(spark):
    df = spark.range(100).select(F.col("id").alias("v"))
    lz = flat_checkpoint(df, eager=False)
    assert lz.count() == 100
    assert sorted(r["v"] for r in lz.collect()) == list(range(100))


def test_flat_persist_is_a_leaf_over_the_cache(spark):
    """flat_persist: same rows, a one-node plan, the cache's partitioning
    and measured size, and an unpersist that releases the cache."""
    from arkouda_njit_spark.plans.checkpoints import flat_persist

    src = spark.range(2000).select(
        (F.col("id") % 97).alias("src"), (F.col("id") * 7 % 101).alias("dst")
    )
    built = src.join(
        src.groupBy("src").count().withColumnRenamed("count", "deg"), "src"
    ).repartition(4, "src")
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    leaf, rows = flat_persist(built)
    try:
        assert not C._LEAF_BROKEN, "Spark internals moved; fix _leaf_over_cache"
        assert rows == 2000
        plan = leaf._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LogicalRDD"
        assert "Join" not in plan.toString()
        # measured stats from the materialized cache, not an estimate
        stats = plan.stats()
        assert stats.rowCount().isDefined() and int(stats.rowCount().get()) == 2000
        default_size = int(spark.conf.get("spark.sql.defaultSizeInBytes", str(2**63 - 1)))
        assert _size_in_bytes(leaf) < default_size
        # hash(src) partitioning survives: no exchange for a src-keyed agg
        buf = leaf.groupBy("src").count()._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in buf, buf
        assert leaf.schema == built.schema
        assert sorted(map(tuple, leaf.collect())) == sorted(map(tuple, built.collect()))
        assert jsc.getPersistentRDDs().size() == before + 1
    finally:
        leaf.unpersist()
    assert jsc.getPersistentRDDs().size() == before
    # still readable after release: the rows recompute from the lineage
    assert leaf.count() == 2000
