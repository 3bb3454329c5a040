"""Barrier-loop CC / LPA (operators/components_bsp.py) against the NumPy
oracles (tests/oracle.py) on edge cases, plus its Spark job budget and input
validation."""

from __future__ import annotations

import glob
import os
import tempfile
import time

import numpy as np
import pandas as pd
import pytest

from pagerank_cuda_dynamic_spark.operators.components_bsp import (
    connected_components_bsp,
    label_propagation_bsp,
)

from .conftest import edges_df
from .oracle import components_numpy, label_propagation_numpy

# name -> (n, src, dst)
GRAPHS = {
    "components": (12, [0, 1, 2, 5, 6, 9], [1, 2, 0, 6, 7, 10]),
    "leading_isolated": (20, [15, 16, 17, 18], [16, 17, 18, 19]),
    "self_loops": (6, [0, 1, 1, 3, 4, 4], [0, 2, 1, 3, 5, 4]),
    "duplicates": (7, [0, 0, 1, 2, 3, 3, 4, 5, 5], [1, 1, 0, 3, 2, 4, 3, 6, 6]),
    "fewer_rows_than_partitions": (5, [3], [4]),
    "empty": (4, [], []),
}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_bsp_labels_match_np(spark, name):
    n, src, dst = GRAPHS[name]
    # an explicit schema: an empty frame gives nothing to infer types from
    pdf = pd.DataFrame({"src": np.asarray(src, np.int64), "dst": np.asarray(dst, np.int64)})
    e = spark.createDataFrame(pdf, "src long, dst long")
    assert connected_components_bsp(e, n).tolist() == components_numpy(n, src, dst).tolist()
    for rounds in (0, 1, 10):
        got = label_propagation_bsp(e, n, max_rounds=rounds)
        want = label_propagation_numpy(n, src, dst, max_rounds=rounds)
        assert got.tolist() == want.tolist(), rounds


def _jobs_and_stages(spark, fn):
    """(fn(), Spark jobs fn ran, stages those jobs ran or skipped)."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    stages = sum(len(sc.statusTracker().getJobInfo(j).stageIds) for j in jobs)
    return out, len(jobs), stages


def test_bsp_labels_run_two_jobs(spark):
    """On a persisted frame a call is one Spark job of one stage: the
    barrier stage reads the cached rows and exchanges them itself (the name
    is older than that)."""
    rng = np.random.default_rng(59)
    src, dst = rng.integers(0, 200, 300), rng.integers(0, 200, 300)
    e = edges_df(spark, src, dst).persist()
    e.count()
    try:
        cc, *cc_cost = _jobs_and_stages(spark, lambda: connected_components_bsp(e, 200))
        lpa, *lpa_cost = _jobs_and_stages(spark, lambda: label_propagation_bsp(e, 200))
    finally:
        e.unpersist()
    assert cc_cost == [1, 1] and lpa_cost == [1, 1]
    assert cc.tolist() == components_numpy(200, src, dst).tolist()
    assert lpa.tolist() == label_propagation_numpy(200, src, dst).tolist()


def test_bsp_labels_input_wider_than_slots(spark):
    """An input with more partitions than task slots (a barrier stage
    cannot be wider, nor coalesce into) is repartitioned to the slots:
    a plain scan, an exchange and a persisted frame."""
    parts = 2 * spark.sparkContext.defaultParallelism + 1
    rng = np.random.default_rng(73)
    n = 120
    src, dst = rng.integers(0, n, 150), rng.integers(0, n, 150)
    rows = list(zip(src.tolist(), dst.tolist()))
    scan = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), "src long, dst long")
    cached = edges_df(spark, src, dst).repartition(parts).persist()
    cached.count()
    frames = {"scan": scan, "exchange": scan.repartition(parts), "cached": cached}
    try:
        for kind, e in frames.items():
            assert e.rdd.getNumPartitions() == parts, kind
            got = connected_components_bsp(e, n)
            assert got.tolist() == components_numpy(n, src, dst).tolist(), kind
            got = label_propagation_bsp(e, n, max_rounds=5)
            want = label_propagation_numpy(n, src, dst, max_rounds=5)
            assert got.tolist() == want.tolist(), kind
    finally:
        cached.unpersist()


def test_bsp_labels_shuffled_input(spark):
    """A groupBy output (an exchange adaptive execution may coalesce): the
    shuffle-map job and the barrier job, with no job to size the stage."""
    rng = np.random.default_rng(79)
    n = 90
    src, dst = rng.integers(0, n, 200), rng.integers(0, n, 200)
    g = edges_df(spark, src, dst).groupBy("src", "dst").count()
    got, jobs, _ = _jobs_and_stages(spark, lambda: connected_components_bsp(g, n))
    assert jobs == 2
    assert got.tolist() == components_numpy(n, src, dst).tolist()
    got = label_propagation_bsp(g, n)
    assert got.tolist() == label_propagation_numpy(n, src, dst).tolist()


def test_bsp_labels_zero_partitions(spark):
    """A frame with no partitions runs no barrier stage, and no job.  An
    empty groupBy output, which adaptive execution leaves with no partition
    only once its shuffle has run, runs a barrier stage of no task."""
    e = spark.createDataFrame(spark.sparkContext.emptyRDD(), "src long, dst long")
    for fn in (connected_components_bsp, label_propagation_bsp):
        got, jobs, _ = _jobs_and_stages(spark, lambda: fn(e, 6))
        assert jobs == 0
        assert got.tolist() == list(range(6))
    g = spark.createDataFrame([], "src long, dst long").groupBy("src", "dst").count()
    assert connected_components_bsp(g, 6).tolist() == list(range(6))
    assert label_propagation_bsp(g, 6).tolist() == list(range(6))


def _scratch_dirs() -> set:
    return {
        p
        for base in ("/dev/shm", tempfile.gettempdir())
        for p in glob.glob(os.path.join(base, "pr_bsp_*"))
    }


@pytest.mark.parametrize("fn", [connected_components_bsp, label_propagation_bsp])
def test_bsp_labels_reject_out_of_range_ids(spark, fn):
    before = _scratch_dirs()
    e = edges_df(spark, [0, 2, -1], [1, 5, 3])  # two edges outside [0, 5)
    t0 = time.time()
    with pytest.raises(ValueError, match=r"2 edge\(s\) have an id outside \[0, 5\)"):
        fn(e, 5)
    assert time.time() - t0 < 60  # every task leaves the loop, no deadline wait
    assert _scratch_dirs() - before == set()


def test_default_session_barrier_fits_slots(spark):
    """get_spark() with default arguments on 2 task slots: the barrier
    label loop is sized by spark.default.parallelism, which must not
    exceed the slots (a wider barrier stage waits ~10 min in Spark's slot
    check and then fails).  A fresh driver runs CC and matches the
    NumPy oracle's labels well inside two minutes."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    n, src, dst = GRAPHS["components"]
    probe = (
        "import sys, json; sys.path.insert(0, %r)\n"
        "import pandas as pd\n"
        "from pagerank_cuda_dynamic_spark.session import get_spark\n"
        "from pagerank_cuda_dynamic_spark.operators.components_bsp import connected_components_bsp\n"
        "s = get_spark()\n"
        "s.sparkContext.setLogLevel('ERROR')\n"
        "e = s.createDataFrame(pd.DataFrame({'src': %r, 'dst': %r}), 'src long, dst long')\n"
        "print(json.dumps([s.sparkContext.defaultParallelism, "
        "connected_components_bsp(e, %d).tolist()]))\n"
        "s.stop()\n" % (str(Path(__file__).resolve().parent.parent), src, dst, n)
    )
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS")
    }
    env["SPARK_GRAFT_CPUS"] = "2"
    out = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True, text=True, check=True, timeout=120, env=env,
    )
    par, labels = json.loads(out.stdout.strip().splitlines()[-1])
    assert par == 2
    assert labels == components_numpy(n, src, dst).tolist()
