"""One fan-out rule for crawl steps, recrawl, the connected-components
rounds and both robots gates: ``ceil(sum of the inputs' size estimates /
spark.sql.adaptive.advisoryPartitionSizeInBytes)``, clamped to ``[1,
spark.sql.shuffle.partitions]``. Outputs depend only on keys, never on
partitioning (north_rule). Imports nothing from the package.

The rule decides a fan-out, never whether work leaves the cluster:
connected_components resolves a graph on the driver only from its
observed edge count against spark.sql.autoBroadcastJoinThreshold, since
an estimate read here can be stale on a cached input."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

__all__ = ["sized_fan_out", "sized_shuffle_scope"]

_SHUFFLE_KEY = "spark.sql.shuffle.partitions"


def sized_fan_out(spark: SparkSession, *inputs: DataFrame) -> tuple[int, int]:
    """``(sized, full)``: the fan-out the inputs need, and the session's.

    The estimate is the planner's own (``optimizedPlan().stats()``); an
    input it cannot size (an RDD scan) gets spark.sql.defaultSizeInBytes,
    which keeps the full fan-out."""
    full = int(spark.conf.get(_SHUFFLE_KEY))
    advisory = spark._jsparkSession.sessionState().conf().getConf(
        spark._jvm.org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES()
    )
    size = sum(
        int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        for df in inputs
    )
    return max(1, min(full, -(-size // advisory))), full


@contextmanager
def sized_shuffle_scope(spark: SparkSession, *inputs: DataFrame):
    """Set ``spark.sql.shuffle.partitions`` to the inputs' sized fan-out
    for the block, and restore the session's value on exit (also on an
    exception). The conf is read when a plan is physically planned, so
    the scope must wrap plan build AND every action over it, caches
    included."""
    prev = spark.conf.get(_SHUFFLE_KEY)
    spark.conf.set(_SHUFFLE_KEY, str(sized_fan_out(spark, *inputs)[0]))
    try:
        yield
    finally:
        spark.conf.set(_SHUFFLE_KEY, prev)
