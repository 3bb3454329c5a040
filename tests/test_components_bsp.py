"""Barrier-loop CC / LPA (operators/components_bsp.py) against the NumPy-path
oracles on edge cases, plus its Spark job budget and input validation."""

from __future__ import annotations

import glob
import os
import tempfile
import time

import numpy as np
import pandas as pd
import pytest

from pagerank_cuda_dynamic_spark.operators.components import (
    connected_components_np,
    label_propagation_np,
)
from pagerank_cuda_dynamic_spark.operators.components_bsp import (
    connected_components_bsp,
    label_propagation_bsp,
)

from .conftest import edges_df
from .test_pagerank_bsp_dynamic import _count_jobs

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
    assert connected_components_bsp(e, n).tolist() == connected_components_np(e, n).tolist()
    for rounds in (0, 1, 10):
        got = label_propagation_bsp(e, n, max_rounds=rounds)
        want = label_propagation_np(e, n, max_rounds=rounds)
        assert got.tolist() == want.tolist(), rounds


def test_bsp_labels_run_two_jobs(spark):
    """One query per call: the shuffle-map stage and the barrier stage."""
    rng = np.random.default_rng(59)
    e = edges_df(spark, rng.integers(0, 200, 300), rng.integers(0, 200, 300)).persist()
    e.count()
    try:
        cc, cc_jobs = _count_jobs(spark, lambda: connected_components_bsp(e, 200))
        lpa, lpa_jobs = _count_jobs(spark, lambda: label_propagation_bsp(e, 200))
    finally:
        e.unpersist()
    assert cc_jobs <= 2 and lpa_jobs <= 2
    assert cc.tolist() == connected_components_np(e, 200).tolist()
    assert lpa.tolist() == label_propagation_np(e, 200).tolist()


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
    NumPy-path labels well inside two minutes."""
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
    e = edges_df(spark, src, dst)
    assert labels == connected_components_np(e, n).tolist()
