"""Checkpoint/resume + temporal micro-batch driver tests."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pagerank_cuda_dynamic_spark.operators.pagerank import PagerankOptions
from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import pagerank_static_bsp
from pagerank_cuda_dynamic_spark.plans.graph_snapshot import GraphSnapshot
from pagerank_cuda_dynamic_spark.streaming.checkpoint import CheckpointManager
from pagerank_cuda_dynamic_spark.streaming.driver import (
    pagerank_checkpointed,
    run_temporal_batches,
)

from .conftest import edges_df


@pytest.fixture(scope="module")
def medium_graph(spark):
    rng = np.random.default_rng(31)
    n, m = 400, 2500
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    g = GraphSnapshot.build(edges_df(spark, src, dst), n=n)
    yield g, pagerank_static_bsp(g).ranks
    g.unpersist()


def test_checkpointed_matches_uninterrupted(spark, medium_graph, tmp_path):
    g, want = medium_graph
    ckpt = CheckpointManager(spark, str(tmp_path / "ck1"))
    res = pagerank_checkpointed(g, ckpt, PagerankOptions(), segment=7)
    assert np.allclose(res.ranks, want, atol=1e-9)
    assert ckpt.latest() is not None


def test_kill_and_resume(spark, medium_graph, tmp_path):
    """Simulate a killed job: run only a few segments (capped iterations),
    then resume from the checkpoint and confirm identical convergence."""
    g, want = medium_graph
    root = str(tmp_path / "ck2")
    ckpt = CheckpointManager(spark, root)
    partial = pagerank_checkpointed(
        g, ckpt, PagerankOptions(max_iterations=10), segment=5
    )
    assert partial.iterations == 10
    saved = ckpt.latest()
    assert saved == 10
    # "restart": fresh manager on same root resumes from iteration 10
    ckpt2 = CheckpointManager(spark, root)
    res = pagerank_checkpointed(g, ckpt2, PagerankOptions(), segment=50)
    assert np.allclose(res.ranks, want, atol=1e-9)
    # metrics survive with lineage info
    l, ranks, vaff, movers, meta = ckpt2.load()
    assert meta["n_vertices"] == g.n
    assert meta["n_partitions"] >= 1


def test_temporal_batches_match_static(spark):
    """Every technique over temporal slices ends within tolerance of a full
    static recompute on the final graph (main.cu invariant)."""
    rng = np.random.default_rng(37)
    n, m = 200, 2000
    pdf = pd.DataFrame(
        {
            "src": rng.integers(0, n, m).astype(np.int64),
            "dst": rng.integers(0, n, m).astype(np.int64),
            "seq": np.arange(m, dtype=np.int64),
        }
    )
    edges_seq = spark.createDataFrame(pdf)
    finals = {}
    for tech in ["static", "nd", "dt", "df", "dfp"]:
        ranks, metrics = run_temporal_batches(
            spark, edges_seq, n_batches=3, technique=tech
        )
        finals[tech] = ranks
        assert len(metrics) == 3
        assert all(mm.seconds > 0 for mm in metrics)
    for tech in ["nd", "dt", "df", "dfp"]:
        assert np.allclose(finals[tech], finals["static"], atol=1e-6), tech


def _iceberg_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def test_detect_iceberg_catalog_absent(spark):
    """Sandbox has no Iceberg catalog conf — detection must say so and the
    manager must fall back to Parquet snapshot dirs."""
    from pagerank_cuda_dynamic_spark.streaming.checkpoint import (
        CheckpointManager,
        detect_iceberg_catalog,
    )

    assert detect_iceberg_catalog(spark) is None
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        cm = CheckpointManager(spark, d)
        assert cm.catalog is None


def test_kill_and_resume_iceberg_mode(spark):
    """Same kill/resume contract through a real Iceberg catalog — runs only
    when the Iceberg jars are on the classpath (skipped in this sandbox)."""
    import pytest as _pytest

    if not _iceberg_available(spark):
        _pytest.skip("Iceberg jars not on classpath")
    import numpy as np

    from pagerank_cuda_dynamic_spark.streaming.checkpoint import CheckpointManager

    cm = CheckpointManager(spark, "/tmp/pr_iceberg_ckpt", catalog="iceberg_cat")
    r = np.linspace(0.0, 1.0, 50)
    vaff = np.zeros(50, dtype=bool)
    vaff[[3, 7]] = True
    cm.save(0, r, vaff, 0.5, 0.01)
    got = cm.load()
    assert got is not None
    l, ranks, vaff2, movers, meta = got
    assert l == 0 and np.allclose(ranks, r) and vaff2[3] and vaff2[7]


def test_checkpoint_save_runs_no_spark_job_and_reads_back(spark, tmp_path):
    """The Parquet backend writes with pyarrow on the driver (0 Spark
    jobs, same ranks/frontier/movers/metrics.json layout) and reads both
    its own directories and ones the earlier Spark writer left, bit for
    bit — a resume works across the upgrade."""
    import json
    import os
    import uuid

    rng = np.random.default_rng(5)
    n = 1000
    ranks = rng.random(n)
    vaff = rng.random(n) < 0.1
    movers = rng.random(n) < 0.05
    bounds = np.array([0, 300, 700, n], dtype=np.int64)
    cm = CheckpointManager(spark, str(tmp_path / "ck"), catalog=None)
    sc = spark.sparkContext
    group = f"ckpt-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        cm.save(4, ranks, vaff, 1e-3, 0.5, bounds=bounds, movers=movers)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert sorted(os.listdir(cm._iter_dir(4))) == [
        "frontier", "metrics.json", "movers", "ranks",
    ]

    # the same state as the Spark writer laid it out
    d = cm._iter_dir(7)
    tmp = d + ".tmp"
    part = (np.searchsorted(bounds, np.arange(n), side="right") - 1).astype(np.int32)
    pdf = pd.DataFrame({"v": np.arange(n, dtype=np.int64), "rank": ranks, "part": part})
    spark.createDataFrame(pdf).repartition(1, "part").write.parquet(
        os.path.join(tmp, "ranks")
    )
    for name, bits in (("frontier", vaff), ("movers", movers)):
        ids = pd.DataFrame({"v": np.flatnonzero(bits).astype(np.int64)})
        spark.createDataFrame(ids).write.parquet(os.path.join(tmp, name))
    with open(os.path.join(tmp, "metrics.json"), "w") as fh:
        json.dump({"n_vertices": n, "iteration": 7}, fh)
    os.rename(tmp, d)

    for l in (4, 7):
        got_l, got_r, got_v, got_m, meta = cm.load(l)
        assert got_l == l and meta["n_vertices"] == n
        assert np.array_equal(got_r, ranks)  # bit-exact
        assert np.array_equal(got_v, vaff) and np.array_equal(got_m, movers)
    assert cm.latest() == 7
