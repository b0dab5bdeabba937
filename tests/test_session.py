"""The session's partition-sizing rule: ``spread`` and ``right_size``."""

from __future__ import annotations

from orange3_spark.session import right_size, spread


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_right_size(spark):
    """Small fit frames coalesce to one partition (no
    iterations×parallelism empty-task scheduling); the partition count
    never exceeds the session's default parallelism, and nothing is
    persisted."""
    small = spark.range(1000).repartition(16)
    sized = right_size(small, 1000)
    assert sized.rdd.getNumPartitions() == 1
    assert sized.count() == 1000
    assert not sized.is_cached

    mid = spark.range(100_000).repartition(16)
    sized = right_size(mid, 100_000, rows_per_task=10_000)
    got = sized.rdd.getNumPartitions()
    assert 1 < got <= spark.sparkContext.defaultParallelism


def test_spread_widens_single_partition(spark):
    """A one-split input comes back with default-parallelism partitions
    and the same rows."""
    par = spark.sparkContext.defaultParallelism
    out = spread(spark.range(1000).coalesce(1))
    assert out.rdd.getNumPartitions() == par
    assert sorted(r.id for r in out.collect()) == list(range(1000))


def test_spread_adds_no_exchange_to_wide_frame(spark):
    """A frame that already has ≥ default-parallelism partitions is
    returned as is: no Exchange in its plan (the control shows a spread
    one-split frame does get one)."""
    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, 1, numPartitions=par + 2)
    out = spread(wide)
    assert out.rdd.getNumPartitions() == par + 2
    assert "Exchange" not in _plan(out)
    assert "Exchange" in _plan(spread(spark.range(1000).coalesce(1)))
