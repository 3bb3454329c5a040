"""BSP-mode PageRank parity with the per-superstep csr path + NumPy oracle."""

from __future__ import annotations

import numpy as np
import pytest

from pagerank_cuda_dynamic_spark.operators.pagerank import (
    PagerankOptions,
    pagerank_static,
)
from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import pagerank_static_bsp
from pagerank_cuda_dynamic_spark.plans.graph_snapshot import GraphSnapshot

from .conftest import MICRO_GRAPHS, edges_df
from .oracle import add_self_loops_np, pagerank_numpy


@pytest.mark.parametrize("name", ["line5", "star_hub", "two_islands", "diamond"])
def test_bsp_matches_oracle(spark, name):
    n, src, dst = MICRO_GRAPHS[name]
    g = GraphSnapshot.build(edges_df(spark, src, dst), n=n)
    res = pagerank_static_bsp(g, PagerankOptions())
    s, d = add_self_loops_np(n, np.array(src), np.array(dst))
    want, _ = pagerank_numpy(n, s, d)
    assert np.allclose(res.ranks, want, atol=1e-6), name
    assert abs(res.ranks.sum() - 1.0) < 1e-8
    g.unpersist()


def test_bsp_matches_csr_medium(spark):
    rng = np.random.default_rng(17)
    n, m = 3000, 20000
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    g = GraphSnapshot.build(edges_df(spark, src, dst), n=n)
    a = pagerank_static_bsp(g, PagerankOptions())
    b = pagerank_static(g, PagerankOptions(mode="csr"))
    assert np.allclose(a.ranks, b.ranks, atol=1e-10)
    assert a.iterations == b.iterations
    g.unpersist()


def test_bsp_warm_start(spark):
    rng = np.random.default_rng(23)
    n, m = 500, 3000
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    g = GraphSnapshot.build(edges_df(spark, src, dst), n=n)
    base = pagerank_static_bsp(g)
    warm = pagerank_static_bsp(g, q=base.ranks)
    assert warm.iterations <= 2  # already converged
    assert np.allclose(warm.ranks, base.ranks, atol=1e-9)
    g.unpersist()


def test_bsp_salted_hubs_parity(spark):
    """Force hub salting (low hub_factor) on a star-heavy graph; ranks must
    match the unsalted csr path exactly, static and dynamic."""
    import pandas as pd
    from pagerank_cuda_dynamic_spark.operators.graph import tidy_batch
    from pagerank_cuda_dynamic_spark.operators.pagerank import (
        pagerank_dynamic_frontier_prune,
    )
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
        bsp_pack,
        pagerank_dynamic_frontier_prune_bsp,
    )

    rng = np.random.default_rng(41)
    n = 300
    # two hubs: vertex 0 and 1 receive many in-edges; plus random edges
    src = np.concatenate([rng.integers(2, n, 150), rng.integers(2, n, 120),
                          rng.integers(0, n, 400)])
    dst = np.concatenate([np.zeros(150, np.int64), np.ones(120, np.int64),
                          rng.integers(0, n, 400)])
    g = GraphSnapshot.build(edges_df(spark, src, dst), n=n)
    g._bsp_packed = bsp_pack(g, hub_factor=0.05)  # force salting
    assert g._bsp_packed[3].size >= 2, "hubs must be detected"
    res = pagerank_static_bsp(g, PagerankOptions())
    want = pagerank_static(g, PagerankOptions(mode="csr"))
    assert np.allclose(res.ranks, want.ranks, atol=1e-10)
    assert res.iterations == want.iterations

    # dynamic DF-P with salted hubs
    ins_pdf = pd.DataFrame({"src": rng.integers(2, n, 20), "dst": rng.integers(0, n, 20)})
    empty = spark.createDataFrame(
        pd.DataFrame({"src": [], "dst": []}).astype("int64"), schema="src long, dst long"
    )
    dels, ins = tidy_batch(g.edges, empty, spark.createDataFrame(ins_pdf))
    g2 = g.with_batch(dels, ins)
    g2._bsp_packed = bsp_pack(g2, hub_factor=0.05)
    bsp = pagerank_dynamic_frontier_prune_bsp(g, g2, dels, ins, res.ranks)
    csr = pagerank_dynamic_frontier_prune(g, g2, dels, ins, res.ranks)
    assert np.allclose(bsp.ranks, csr.ranks, atol=1e-9)
    g.unpersist()
    g2.unpersist()


def test_bsp_pack_distributed_derivation_parity(spark):
    """bsp_pack must derive hubs/bounds without any O(|V|) driver collect:
    hub set identical to the exact driver-side histogram, bounds a strict
    partition of [0, n), one packed row per stripe, and ranks at 1e-10 vs
    the csr twin on a hub-heavy graph."""
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
        _indegrees,
        bsp_pack,
    )

    rng = np.random.default_rng(71)
    n = 2000
    # two strong hubs + uniform background
    src = np.concatenate(
        [rng.integers(2, n, 900), rng.integers(2, n, 700), rng.integers(0, n, 3000)]
    )
    dst = np.concatenate(
        [np.zeros(900, np.int64), np.ones(700, np.int64), rng.integers(0, n, 3000)]
    )
    g = GraphSnapshot.build(edges_df(spark, src, dst), n=n)
    try:
        p = 8
        hub_factor = 0.05  # low cut so the fixture's 900/700-indegree stars salt
        packed, bounds, n_stripes, hubs = bsp_pack(g, p=p, hub_factor=hub_factor)
        # exact cross-check of the distributed HAVING-filter hub detection
        indeg = _indegrees(g)
        total = int(indeg.sum())
        cut = max(hub_factor * total / p, 64)
        assert list(hubs) == list(np.flatnonzero(indeg > cut))
        assert {0, 1} <= set(hubs.tolist())
        # bounds: strict partition of the vertex space
        assert bounds[0] == 0 and bounds[-1] == n
        assert (np.diff(bounds) > 0).all()
        assert n_stripes == len(bounds) - 1
        assert packed.count() == n_stripes
        # approxQuantile balance: non-hub in-edges per stripe near-uniform
        bal = indeg.copy()
        bal[hubs] = 0
        per_stripe = np.add.reduceat(bal, bounds[:-1])
        assert per_stripe.max() <= 3.0 * max(per_stripe.mean(), 1.0)
        packed.unpersist()
        a = pagerank_static_bsp(g)
        b = pagerank_static(g, PagerankOptions(mode="csr"))
        assert np.allclose(a.ranks, b.ranks, atol=1e-10)
    finally:
        g.unpersist()


def test_bsp_fine_stripes_parity(spark):
    """Stripes finer than tasks (edge-budget striping): a pack with k~16
    stripes per task must run the memmap AND TCP loops with identical
    results to the csr path — tasks own several stripes, flags/movers/
    slices are per-stripe."""
    from pagerank_cuda_dynamic_spark.operators import pagerank_tcp as PT
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import bsp_pack
    from pagerank_cuda_dynamic_spark.operators.pagerank_tcp import pagerank_static_tcp

    rng = np.random.default_rng(41)
    n, m = 3000, 20000
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    g = GraphSnapshot.build(edges_df(spark, src, dst), n=n)
    packed, bounds, n_stripes, hubs = bsp_pack(g, p=4, stripe_edges=50)
    assert n_stripes > 8, "fixture must produce stripes finer than tasks"
    assert packed.rdd.getNumPartitions() == 4

    class Forced:
        def __init__(self, gr):
            self._g = gr
            self.edges, self.n = gr.edges, gr.n

        def outdeg_array(self):
            return self._g.outdeg_array()

        def bsp_packed(self, *a, **k):
            return packed, bounds, n_stripes, hubs

    f = Forced(g)
    a = pagerank_static_bsp(f, PagerankOptions())
    orig = PT.bsp_pack
    PT.bsp_pack = lambda gr: (packed, bounds, n_stripes, hubs)
    try:
        t = pagerank_static_tcp(f)
    finally:
        PT.bsp_pack = orig
    b = pagerank_static(g, PagerankOptions(mode="csr"))
    assert np.allclose(a.ranks, b.ranks, atol=1e-10)
    assert np.allclose(t.ranks, b.ranks, atol=1e-10)
    assert a.iterations == b.iterations == t.iterations
    g.unpersist()


def test_scratch_dirs_reaped_at_interpreter_exit(tmp_path):
    """Scratch + spill dirs from snapshots that are never unpersist()ed
    (oracle gates, driver queries(), crashed runs) must not outlive the
    driver process: _scratch_dir registers an atexit reaper for both the
    exchange dir and the derived "_spill" dir.  Sparkless subprocess drive."""
    import subprocess
    import sys as _sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    probe = (
        "import sys; sys.path.insert(0, %r)\n"
        "import os\n"
        "from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import _scratch_dir\n"
        "d = _scratch_dir()\n"
        "os.makedirs(d); os.makedirs(d + '_spill')\n"
        "open(os.path.join(d + '_spill', 's0.pkl'), 'wb').write(b'x')\n"
        "print(d)\n" % str(repo)
    )
    out = subprocess.run(
        [_sys.executable, "-c", probe], capture_output=True, text=True, check=True
    )
    d = out.stdout.strip().splitlines()[-1]
    import os

    assert not os.path.exists(d), "exchange dir survived interpreter exit"
    assert not os.path.exists(d + "_spill"), "spill dir survived interpreter exit"


def test_trailing_empty_rows_keep_every_edge(spark):
    """A stripe ending in rows without in-edges (no self-loops here) must
    still sum every edge of its last non-empty row: BSP and TCP with
    dangling="redistribute" equal the NumPy oracle."""
    from pagerank_cuda_dynamic_spark.operators.pagerank_tcp import pagerank_static_tcp

    n, src, dst = 5, [0, 1, 2, 0, 3, 4], [1, 2, 0, 2, 0, 0]
    g = GraphSnapshot.build(edges_df(spark, src, dst), n=n, self_loops=False)
    opts = PagerankOptions(dangling="redistribute")
    want, _ = pagerank_numpy(n, np.array(src), np.array(dst), dangling="redistribute")
    try:
        for run in (pagerank_static_bsp, pagerank_static_tcp):
            got = run(g, opts)
            assert np.abs(got.ranks - want).max() <= 1e-10, run.__name__
    finally:
        g.unpersist()


def test_wrong_length_q_raises_and_leaks_no_scratch(spark):
    """A warm start of the wrong length is a ValueError naming both lengths,
    raised before any exchange memmap exists, so no pr_bsp_* dir is left."""
    import glob
    import os
    import tempfile

    def scratch_dirs() -> set:
        base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
        return {
            d for d in glob.glob(os.path.join(base, "pr_bsp_*"))
            if not d.endswith("_spill")
        }

    n, src, dst = MICRO_GRAPHS["diamond"]
    g = GraphSnapshot.build(edges_df(spark, src, dst), n=n)
    before = scratch_dirs()
    try:
        with pytest.raises(ValueError, match=rf"\b{n + 1}\b.*\b{n}\b"):
            pagerank_static_bsp(g, q=np.ones(n + 1) / (n + 1))
        assert scratch_dirs() - before == set()
    finally:
        g.unpersist()


def test_weighted_bsp_rejects_selfloop_dangling(spark):
    """Weighted BSP redistributes dangling mass: dangling="selfloop" is a
    ValueError naming the option, also under python -O (an assert would
    vanish there, and the loop would return ranks that do not sum to 1)."""
    import pandas as pd

    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
        pagerank_weighted_bsp,
    )

    edges_w = spark.createDataFrame(
        pd.DataFrame({"src": [0, 1, 2], "dst": [1, 2, 0], "w": [0.5, 1.5, 2.0]})
    )
    with pytest.raises(ValueError, match="dangling='selfloop'"):
        pagerank_weighted_bsp(edges_w, 3, PagerankOptions())
