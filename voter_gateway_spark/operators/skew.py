"""Skew-handling utilities for heavy-key joins and aggregations.

AQE's skew-join splitting (enabled in build_spark) covers sort-merge
joins at runtime; these helpers cover the cases AQE can't: skewed
broadcast-ineligible aggregations and explicit salt-and-replicate
joins where the skew is known ahead of time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from voter_gateway_spark.session import Py4JError


def num_partitions(df: DataFrame) -> int:
    """The frame's partition count, read from its physical plan WITHOUT
    running it.

    ``df.rdd.getNumPartitions()`` is not free under AQE: building the
    RDD of a plan with exchanges executes their stages, and the
    consuming action then runs them again. Here the count comes from
    the plan AQE starts from: an exchange reports its planned
    partition count (the runtime coalesce may lower it), a union sums
    its children, a broadcast side contributes nothing, and only a
    leaf scan builds its RDD — which runs no job. Falls back to the
    RDD when the JVM plan cannot be read (e.g. Spark Connect)."""
    try:
        plan = df._jdf.queryExecution().executedPlan()
        if plan.getClass().getSimpleName() != "AdaptiveSparkPlanExec":
            # no AQE, so building the RDD executes nothing
            return df.rdd.getNumPartitions()
        return _plan_partitions(plan.inputPlan())
    except (AttributeError, Py4JError):  # pragma: no cover
        return df.rdd.getNumPartitions()


def _plan_partitions(plan) -> int:
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _plan_partitions(plan.inputPlan())
    if name == "InMemoryTableScanExec":
        # scanning the cache would build it; its plan knows the count
        return _plan_partitions(plan.relation().cachedPlan())
    n = plan.outputPartitioning().numPartitions()
    if n > 0:
        return n
    kids = plan.children()
    kids = [kids.apply(i) for i in range(kids.size())]
    kids = [k for k in kids if k.getClass().getSimpleName() != "BroadcastExchangeExec"]
    if not kids:
        rdd = plan.executeColumnar() if plan.supportsColumnar() else plan.execute()
        return rdd.getNumPartitions()
    counts = [_plan_partitions(k) for k in kids]
    return sum(counts) if name == "UnionExec" else max(counts)


def widen(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Raise a narrow input to at least the session's default
    parallelism before an expression-heavy stage.

    Small files scan as one or two partitions (parquet splits at the
    row-group, not the row), which serializes per-row-expensive stages
    (shingling, md5 signatures, trigram sets, vector math) onto a
    couple of cores no matter how wide the cluster is. A round-robin
    repartition up-front costs one cheap shuffle of the raw rows and
    buys full-width compute. No-op — no shuffle — when the input is
    already at least that wide, so cluster-scale inputs with thousands
    of scan partitions pass through untouched. The width is read from
    the plan (:func:`num_partitions`), so deciding runs no Spark job.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if num_partitions(df) < target:
        return df.repartition(target)
    return df


def salted(df: DataFrame, salt_buckets: int, salt_col: str = "_salt") -> DataFrame:
    """Append a deterministic salt derived from a hash of the whole row
    (stable across retries, unlike rand())."""
    return df.withColumn(
        salt_col, F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(salt_buckets))
    )


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[Column, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed keys: partial agg on
    (key, salt) spreads a hot key over `salt_buckets` reducers, final
    agg recombines. Only algebraic aggregates decompose this way.

    aggs: output_name -> (partial aggregate Column, combiner) where
    combiner ∈ {"sum", "min", "max"} — counts combine with "sum".

    The partial MUST be algebraic as given: pass F.sum("x"), never
    F.round(F.sum("x")) — combining rounded partials is not the same as
    rounding the combined total. Apply presentation functions to the
    returned frame.
    """
    combiners = {"sum": F.sum, "min": F.min, "max": F.max}
    partial = (
        salted(df, salt_buckets)
        .groupBy(*keys, "_salt")
        .agg(*[c.alias(f"_p_{name}") for name, (c, _) in aggs.items()])
    )
    finals = [
        combiners[comb](f"_p_{name}").alias(name) for name, (_, comb) in aggs.items()
    ]
    return partial.groupBy(*keys).agg(*finals)


def replicate_broadcast_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Salt-and-replicate equi-join for a skewed big side joining a
    non-broadcastable-but-smallish side: the big side gets a random-ish
    deterministic salt, the small side is replicated across all salt
    values, and the join key becomes (key, salt) — hot keys spread over
    `salt_buckets` tasks.

    Only inner/left shapes are sound: under right/full outer joins an
    unmatched SMALL-side row survives once per replica — salt_buckets
    duplicates — so those modes are rejected rather than silently
    multiplying rows.
    """
    if how not in ("inner", "left", "leftouter", "left_outer", "leftsemi",
                   "left_semi", "leftanti", "left_anti", "cross"):
        raise ValueError(
            f"replicate_broadcast_join cannot run how={how!r}: the small "
            "side is replicated per salt, so right/full outer would emit "
            "salt_buckets copies of every unmatched small-side row"
        )
    # salt from the row-content hash (like salted()), NOT from
    # monotonically_increasing_id: mid depends on task/partition layout,
    # so a task retry could re-salt rows differently mid-job; the row
    # hash is stable across retries while still spreading hot keys
    # (identical rows co-locating is fine — they'd collide anyway).
    b = salted(big, salt_buckets)
    s = small.crossJoin(
        F.broadcast(
            big.sparkSession.range(salt_buckets).select(F.col("id").cast("int").alias("_salt"))
        )
    )
    out = b.join(s, [key, "_salt"], how)
    return out.drop("_salt")
