"""Materialization barrier for iterative DataFrame loops.

Spark 4's Dataset.checkpoint/localCheckpoint wraps the materialized RDD in
a LogicalRDD that PRESERVES the origin plan's statistics (sizeInBytes).
In an iterative loop whose state DF is rebuilt from the previous state via
joins, that preserved sizeInBytes multiplies through the join size
estimator every iteration, so its bit-length grows geometrically —
measured here: 1.2 MILLION decimal digits after 9 iterations of a
150-row PageRank state loop — and Catalyst ends up spending all its
planning time inside BigInteger.multiply (jstack: 60 s of
multiplyToomCook3).  Per-iteration wall time then explodes ~5× per
iteration even though the truncated plans and the data stay tiny.

materialize() runs the localCheckpoint (real data barrier), then re-wraps
the checkpointed RDD[InternalRow] via SparkSession.internalCreateDataFrame,
which builds a fresh LogicalRDD with the flat default size estimate — no
origin-stat inheritance, constant planning cost per iteration (measured:
0.4 s/iter flat over 30 iterations vs 113 s at iter 13 without).

The re-wrap touches two `private[sql]` JVM members (reachable from py4j —
Scala package-private is public bytecode); if a future Spark hides them,
the fallback is the plain checkpointed Dataset: still correct, just back
to inherited stats.
"""

from __future__ import annotations

from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# Per-vertex state frames (a score/label/register row per vertex) are
# broadcast into their gather joins while |V| stays under this bound,
# mirroring the reference's device-resident rank vector
# (pagerankCuda.hxx:676-692: edges stream, ranks sit in device memory).
# Without the hint a materialized state frame is a LogicalRDD whose
# default size estimate disables auto-broadcast, so iterative loops
# shuffle the FULL edge table every superstep once the edges outgrow
# the auto threshold.  Past the bound (state no longer executor-resident
# at reasonable memory) loops fall back to the shuffle join, which a
# cluster deployment pairs with a pre-partitioned edge table.
STATE_BROADCAST_MAX_ROWS = 8_000_000


# Target state rows per shuffle partition inside iterative loops.  The
# per-superstep exchanges of a state loop carry O(state) rows, so sizing
# the reduce side by state rows (never above the session's configured
# parallelism — a cluster deployment keeps its own setting once the
# state outgrows parallelism * this target) removes the dominant fixed
# cost of small-graph loops: launching `spark.sql.shuffle.partitions`
# near-empty reduce tasks per superstep.  Measured
# (tools/profile_loop.py at local[32], shuffle.partitions=32): a
# gather+materialize superstep on a 100-vertex/5k-edge graph costs
# 670 ms with 32-task shuffles and ~155 ms sized; a 36k-vertex/1.2M-edge
# graph drops 813 -> ~370 ms.
LOOP_PARTITION_ROWS = 8192


@contextmanager
def loop_partitions(spark, n_rows: int):
    """Scope `spark.sql.shuffle.partitions` to a state-proportional count
    for the duration of an iterative loop: ceil(n_rows / LOOP_PARTITION_
    ROWS) clamped to [1, current setting].  The cap means any state large
    enough for the configured parallelism is unaffected — this only
    shrinks near-empty shuffles, it never grows them.  Restores the
    previous value on exit; every frame the loop returns must be
    materialized inside the scope (all loop operators do — `materialize`
    makes the plan concrete, so later actions on the result do not
    re-plan shuffles under the restored setting)."""
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    k = max(1, min(cur, -(-int(n_rows) // LOOP_PARTITION_ROWS)))
    if k >= cur:
        yield cur
        return
    spark.conf.set("spark.sql.shuffle.partitions", str(k))
    try:
        yield k
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(cur))


def broadcast_state(state: DataFrame, n_rows: int) -> DataFrame:
    """Broadcast-hint a per-vertex state frame when its row count is
    executor-resident; identity (shuffle join) otherwise."""
    return F.broadcast(state) if n_rows <= STATE_BROADCAST_MAX_ROWS else state


def materialize(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint with plan statistics stripped — the barrier
    every iterative joinagg loop in this engine uses between supersteps."""
    spark = df.sparkSession
    jdf = df._jdf.localCheckpoint(True)
    try:
        jrdd = jdf.queryExecution().toRdd()
        njdf = spark._jsparkSession.internalCreateDataFrame(
            jrdd, jdf.schema(), False
        )
        return DataFrame(njdf, spark)
    except Exception:  # private-API fallback: correct, but stats inherit
        return DataFrame(jdf, spark)
