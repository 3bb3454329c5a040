"""SparkSession factory with scale-oriented defaults.

Single place to configure shuffle partitioning, AQE, and Arrow so every
operator inherits the same physical-execution posture.  On a real cluster
the same settings apply via spark-submit --conf; locally we default the
parallelism from $SPARK_GRAFT_CPUS (driver contract).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _with_worker_daemon(
    master: str, extra_conf: dict[str, str] | None
) -> dict[str, str]:
    """``extra_conf`` plus the ``_worker_daemon`` settings where they apply."""
    conf = dict(extra_conf or {})
    if master.startswith("local") and sys.version_info < (3, 13):
        conf.setdefault(
            "spark.python.daemon.module", "pagerank_cuda_dynamic_spark._worker_daemon"
        )
        caller_path = conf.get("spark.executorEnv.PYTHONPATH")
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            [_PACKAGE_PARENT] + ([caller_path] if caller_path else [])
        )
    return conf


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
        relative to the edge table and must broadcast, never shuffle;
      - on a ``local*`` master under CPython < 3.13, the Python workers are
        forked by ``_worker_daemon`` instead of ``pyspark.daemon``.  Every
        task calls ``importlib.invalidate_caches()``, which before 3.13
        (gh-103200 made it lazy) re-reads the whole directory of each zip
        archive on the worker path (pyspark.zip, py4j, the Spark core jar):
        0.15-0.2 s of each task's fixed cost.  The daemon re-reads an
        archive only when its mtime or size changed.  So that the workers
        can import it, the package's parent directory is put in front of
        ``spark.executorEnv.PYTHONPATH``, merged with the caller's value
        from ``extra_conf``.  Any other ``extra_conf`` key, the daemon
        module included, overrides these defaults.
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
    for k, v in _with_worker_daemon(master, extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
