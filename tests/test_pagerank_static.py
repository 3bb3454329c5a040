"""Static PageRank vs NumPy oracle on golden micro-graphs (SURVEY §5)."""

from __future__ import annotations

import numpy as np
import pytest

from pagerank_cuda_dynamic_spark.operators.pagerank import PagerankOptions
from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import pagerank_static_bsp
from pagerank_cuda_dynamic_spark.plans.graph_snapshot import GraphSnapshot

from .conftest import MICRO_GRAPHS, edges_df
from .oracle import add_self_loops_np, pagerank_numpy


@pytest.mark.parametrize("name", sorted(MICRO_GRAPHS))
def test_static_matches_oracle(spark, name):
    n, src, dst = MICRO_GRAPHS[name]
    g = GraphSnapshot.build(edges_df(spark, src, dst), n=n, self_loops=True)
    res = pagerank_static_bsp(g, PagerankOptions())
    s, d = add_self_loops_np(n, np.array(src), np.array(dst))
    want, want_it = pagerank_numpy(n, s, d)
    assert np.allclose(res.ranks, want, atol=1e-6), name
    # ranks sum to 1 — no dangling mass leak after universal self-loops
    assert abs(res.ranks.sum() - 1.0) < 1e-8
    assert res.iterations <= 500
    g.unpersist()


def test_static_redistribute_matches_oracle(spark):
    """Dangling-mass broadcast correction mode (no self-loops)."""
    n, src, dst = MICRO_GRAPHS["dangling3"]
    g = GraphSnapshot.build(edges_df(spark, src, dst), n=n, self_loops=False)
    opts = PagerankOptions(dangling="redistribute")
    res = pagerank_static_bsp(g, opts)
    want, _ = pagerank_numpy(n, np.array(src), np.array(dst), dangling="redistribute")
    assert np.allclose(res.ranks, want, atol=1e-6)
    assert abs(res.ranks.sum() - 1.0) < 1e-8
    g.unpersist()

