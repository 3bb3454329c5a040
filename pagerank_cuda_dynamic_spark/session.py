"""SparkSession factory with scale-oriented defaults.

Single place to configure shuffle partitioning, AQE, and Arrow so every
operator inherits the same physical-execution posture.  On a real cluster
the same settings apply via spark-submit --conf; locally we default the
parallelism from $SPARK_GRAFT_CPUS (driver contract).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "pagerank-cuda-dynamic-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Defaults chosen for the iterative link-graph workload:
      - AQE on (runtime coalesce + skew-join splitting for the join/agg path);
      - shuffle partitions ≈ cores (supersteps are many small jobs — a large
        static 200-partition shuffle would dominate wall time; AQE coalesces
        anyway when partitions are tiny);
      - spark.default.parallelism left to Spark, which sets it to the task
        slot count: the barrier loops size their stages by it, and a
        barrier stage wider than the slots can never be scheduled;
      - Arrow enabled for every pandas/Arrow kernel;
      - broadcast threshold generous: degree/dictionary dims are small
        relative to the edge table and must broadcast, never shuffle.
    """
    cpus = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Cached plans keep AQE's coalesced output partitioning: a persisted
        # `.distinct()` edge table otherwise materializes with the static
        # shuffle partition count (tiny partitions, one scan task each), and
        # every iterative gather that probes it pays ~#partitions of fixed
        # task overhead per superstep.  Measured (tools/profile_loop.py):
        # probe side drops 32 -> 1..16 AQE-sized partitions, 670 -> ~300 ms
        # per materialize-barrier iteration on a 5k-edge graph.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(1 << 20))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
