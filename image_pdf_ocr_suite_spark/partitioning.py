"""Scale-adaptive fan-out for CPU-bound kernel stages.

The engine's Python kernels (mapInPandas / pandas_udf) and heavy
Catalyst explodes inherit the SCAN's task graph.  A production corpus
scan has thousands of file splits, but a small table written as one
parquet row group yields exactly ONE non-empty scan task — Spark packs
byte-range splits, and every split that does not contain a row-group
start reads nothing — so the whole kernel stage runs on one core no
matter how many executors exist (measured round 6: the 50k-doc bench
table is one 5.9 MB row group, and every docs-shaped kernel leg scaled
~linearly with input size, i.e. serially).

``fan_out_small`` is the guide-§2 "derive partitioning from the input,
not a constant" device: when the plan's current partitioning is
materially below the cluster's parallelism it round-robin repartitions
to ``factor × defaultParallelism``; otherwise it is a NO-OP, so a real
many-split corpus scan never pays an extra exchange.  The repartition
is deterministic (Spark sorts before round-robin redistribution —
SPARK-23207) and every caller is partitioning-independent (map-only
kernels, exact-integer aggregations, bounded partial sketches), so
results are bit-identical either way — pinned by the oracle-parity
suite.

The decision runs at plan-build time, so it must not run the plan.
``df.rdd.getNumPartitions()`` is free for a scan or ``localCheckpoint``
input, but under AQE it executes every upstream exchange stage (and
the broadcast of a broadcast join) just to learn the final partition
count.  Exchange-fed frames therefore get a predicted count instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# spark.sql.adaptive.coalescePartitions.minPartitionSize default: with
# parallelismFirst (also the default) AQE coalesces an exchange to about
# one partition per this many bytes, and to no fewer than
# defaultParallelism partitions once each would get at least this much.
_AQE_MIN_PARTITION_BYTES = 1 << 20


def fan_out_small(df: DataFrame, factor: int = 2,
                  bytes_per_partition: int = 32 << 10) -> DataFrame:
    """Repartition ``df`` for a CPU-bound per-row stage when its current
    plan is under-parallel; otherwise return ``df`` unchanged.

    The target is SIZE-ADAPTIVE (guide §2 — derived from the input, not
    a constant): ``clamp(optimizer sizeInBytes / bytes_per_partition,
    1, factor × defaultParallelism)``.  A tiny input (a correctness run
    at sf0.01, a unit-test frame) therefore skips the exchange
    entirely, a mid-size input fans to a handful of tasks, and a
    bench/production-shaped input saturates the cluster — measured
    round 6: the flat 2×parallelism target cost ~0.2-0.4 s of exchange
    + near-empty-task scheduling per leg at the 5k-doc scale while
    buying nothing.  The optimizer estimate is column-pruned and
    compressed-leaning, so 32 KiB of estimate per task corresponds to
    a few hundred KB of in-memory text — small enough that per-row-
    expensive kernels keep full parallelism at bench scale.

    When the plan holds an exchange, its partition count is settled only
    when AQE runs the upstream stages, so it is predicted from the same
    size estimate as AQE's parallelism-first coalescing would size it:
    ``clamp(sizeInBytes / 1 MiB, 1, defaultParallelism)``.  No Spark job
    runs while the plan is built."""
    try:
        sc = df.sparkSession.sparkContext
        par = max(sc.defaultParallelism, 1)
        qe = df._jdf.queryExecution()
        if "Exchange" in qe.executedPlan().toString():
            est = int(qe.optimizedPlan().stats().sizeInBytes())
            n = min(par, max(1, est // _AQE_MIN_PARTITION_BYTES))
        else:
            n = df.rdd.getNumPartitions()
            if n >= par:
                return df
            est = int(qe.optimizedPlan().stats().sizeInBytes())
    except Exception:
        return df
    target = max(1, min(factor * par, est // bytes_per_partition))
    if target <= n:
        return df
    return df.repartition(target)
