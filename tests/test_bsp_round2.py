"""Round-2 BSP hardening: empty-stripe stubs, redistribute dangling,
weighted BSP, and mover-frontier survival across kill+resume."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pagerank_cuda_dynamic_spark.operators.graph import tidy_batch
from pagerank_cuda_dynamic_spark.operators.pagerank import (
    PagerankOptions,
    _frontier_marks,
)
from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
    pagerank_dynamic_frontier_prune_bsp,
    pagerank_static_bsp,
    pagerank_weighted_bsp,
)
from pagerank_cuda_dynamic_spark.plans.graph_snapshot import GraphSnapshot
from pagerank_cuda_dynamic_spark.streaming.checkpoint import CheckpointManager
from pagerank_cuda_dynamic_spark.streaming.driver import pagerank_checkpointed

from .conftest import edges_df, snapshot_oracle
from .oracle import components_numpy, pagerank_numpy


def test_bsp_empty_stripe_no_deadlock(spark):
    """A leading vertex range with zero in-edges (no self-loops) leaves a
    stripe with no packed row; the barrier loop used to spin on its flag
    forever.  The stub-row guarantee must keep it converging."""
    rng = np.random.default_rng(7)
    n = 400
    # all in-edges land on [200, 400); vertices [0, 200) have none
    src = rng.integers(0, n, 3000)
    dst = rng.integers(200, n, 3000)
    g = GraphSnapshot.build(edges_df(spark, src, dst), n=n, self_loops=False)
    opts = PagerankOptions(dangling="redistribute")
    res = pagerank_static_bsp(g, opts)
    want, _ = snapshot_oracle(g, dangling="redistribute")
    assert np.allclose(res.ranks, want, atol=1e-10)
    assert abs(res.ranks.sum() - 1.0) < 1e-8
    g.unpersist()


def test_bsp_redistribute_matches_csr(spark):
    """dangling='redistribute' on the BSP path (previously silently wrong)
    must match the NumPy oracle on a graph with dangling vertices."""
    rng = np.random.default_rng(11)
    n = 300
    src = rng.integers(0, 250, 2000)  # vertices 250..299 never emit
    dst = rng.integers(0, n, 2000)
    g = GraphSnapshot.build(edges_df(spark, src, dst), n=n, self_loops=False)
    opts = PagerankOptions(dangling="redistribute")
    a = pagerank_static_bsp(g, opts)
    want, want_it = snapshot_oracle(g, dangling="redistribute")
    assert np.allclose(a.ranks, want, atol=1e-10)
    assert a.iterations == want_it
    g.unpersist()


def _weighted_oracle(pdf, n, **kw):
    return pagerank_numpy(
        n, pdf["src"].to_numpy(), pdf["dst"].to_numpy(),
        w=pdf["w"].to_numpy(), dangling="redistribute", **kw,
    )


def test_weighted_bsp_matches_joinagg(spark):
    rng = np.random.default_rng(13)
    n, m = 250, 1500
    pdf = pd.DataFrame(
        {
            "src": rng.integers(0, n, m).astype(np.int64),
            "dst": rng.integers(0, n, m).astype(np.int64),
            "w": rng.uniform(0.1, 5.0, m),
        }
    )
    df = spark.createDataFrame(pdf)
    opts = PagerankOptions(dangling="redistribute", max_iterations=200)
    a = pagerank_weighted_bsp(df, n, opts)
    want, _ = _weighted_oracle(pdf, n, max_iterations=200)
    assert np.allclose(a.ranks, want, atol=1e-8)


def test_weighted_bsp_fractional_wdeg(spark):
    """Vertices with total out-weight in (0, 1) must divide by the exact
    weighted degree, not a 1.0-clamped one (regression: np.maximum clamp
    silently rescaled contributions of every vertex with 0 < wdeg < 1)."""
    rng = np.random.default_rng(29)
    n, m = 200, 800
    pdf = pd.DataFrame(
        {
            "src": rng.integers(0, n, m).astype(np.int64),
            "dst": rng.integers(0, n, m).astype(np.int64),
            # small weights: most vertices end up with fractional wdeg
            "w": rng.uniform(0.01, 0.3, m),
        }
    )
    df = spark.createDataFrame(pdf)
    a = pagerank_weighted_bsp(df, n, PagerankOptions(dangling="redistribute", max_iterations=200))
    want, _ = _weighted_oracle(pdf, n, max_iterations=200)
    assert np.allclose(a.ranks, want, atol=1e-8)


def test_dfp_kill_resume_keeps_movers(spark, tmp_path):
    """Killed-job resume of DF-P must persist the mover frontier: pending
    out-neighbor expansion survives the restart and the resumed run matches
    the uninterrupted one exactly."""
    rng = np.random.default_rng(19)
    n = 200
    src = rng.integers(0, n, 900)
    dst = rng.integers(0, n, 900)
    keep = src != dst
    g0 = GraphSnapshot.build(edges_df(spark, src[keep], dst[keep]), n=n)
    base = pagerank_static_bsp(g0)
    ins_pdf = pd.DataFrame(
        {"src": rng.integers(0, n, 30), "dst": rng.integers(0, n, 30)}
    )
    empty = spark.createDataFrame(
        pd.DataFrame({"src": [], "dst": []}).astype("int64"),
        schema="src long, dst long",
    )
    dels, ins = tidy_batch(g0.edges, empty, spark.createDataFrame(ins_pdf))
    g1 = g0.with_batch(dels, ins)
    uninterrupted = pagerank_dynamic_frontier_prune_bsp(g0, g1, dels, ins, base.ranks)

    vaff0 = _frontier_marks(g0, g1, dels, ins)
    root = str(tmp_path / "ckdfp")
    ckpt = CheckpointManager(spark, root)
    # "kill" after 2 iterations (mid-expansion: movers pending)
    partial = pagerank_checkpointed(
        g1, ckpt, PagerankOptions(max_iterations=2),
        q=base.ranks, vaff0=vaff0, expand=True, prune=True, corrected=True,
        segment=2,
    )
    assert partial.iterations == 2
    # resume with a fresh manager (state only from disk)
    ckpt2 = CheckpointManager(spark, root)
    resumed = pagerank_checkpointed(
        g1, ckpt2, PagerankOptions(),
        q=None, vaff0=None, expand=True, prune=True, corrected=True,
        segment=50,
    )
    assert np.allclose(resumed.ranks, uninterrupted.ranks, atol=1e-12)
    g0.unpersist()
    g1.unpersist()


def test_cc_bsp_empty_stripe(spark):
    """Isolated leading vertex range → empty stripes in the symmetrized
    label pack; the stub-row guarantee must keep the label loop converging
    (previously: flag-spin deadlock)."""
    import numpy as np
    from pagerank_cuda_dynamic_spark.operators.components_bsp import (
        connected_components_bsp,
    )

    src = np.arange(300, 350)
    dst = np.arange(301, 351)
    e = edges_df(spark, src, dst)
    got = connected_components_bsp(e, 400)
    want = components_numpy(400, src, dst)
    assert np.array_equal(got, want)
    assert got[0] == 0 and got[299] == 299  # isolated vertices keep own id
    assert (got[300:351] == 300).all()
