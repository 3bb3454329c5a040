"""Metamorphic properties (SURVEY §5): permutation invariance of vertex
labels; weighted PageRank vs a weighted NumPy oracle; weight-1 equivalence."""

from __future__ import annotations

import numpy as np
import pandas as pd

from pagerank_cuda_dynamic_spark.operators.pagerank import PagerankOptions
from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
    pagerank_static_bsp,
    pagerank_weighted_bsp,
)
from pagerank_cuda_dynamic_spark.plans.graph_snapshot import GraphSnapshot

from .conftest import edges_df
from .oracle import pagerank_numpy


def test_permutation_invariance(spark):
    """Relabeling vertices by a permutation π must permute ranks: π applied
    to the input graph ⇒ rank'[π(v)] == rank[v]."""
    rng = np.random.default_rng(67)
    n, m = 150, 900
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    perm = rng.permutation(n)
    g1 = GraphSnapshot.build(edges_df(spark, src, dst), n=n)
    g2 = GraphSnapshot.build(edges_df(spark, perm[src], perm[dst]), n=n)
    r1 = pagerank_static_bsp(g1).ranks
    r2 = pagerank_static_bsp(g2).ranks
    assert np.allclose(r2[perm], r1, atol=1e-10)
    g1.unpersist()
    g2.unpersist()


def test_weighted_pagerank_matches_oracle(spark):
    rng = np.random.default_rng(71)
    n, m = 80, 400
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    w = rng.uniform(0.1, 5.0, m).round(3)
    pdf = pd.DataFrame({"src": src.astype(np.int64), "dst": dst.astype(np.int64), "w": w})
    # collapse duplicate (src,dst) by summing weights (dedup analog)
    pdf = pdf.groupby(["src", "dst"], as_index=False)["w"].sum()
    df = spark.createDataFrame(pdf)
    res = pagerank_weighted_bsp(
        df, n, PagerankOptions(dangling="redistribute", max_iterations=120)
    )
    want, _ = pagerank_numpy(
        n, pdf["src"].to_numpy(), pdf["dst"].to_numpy(), max_iterations=120,
        dangling="redistribute", w=pdf["w"].to_numpy(),
    )
    assert np.allclose(res.ranks, want, atol=1e-8)
    assert abs(res.ranks.sum() - 1.0) < 1e-8


def test_weight_one_equals_unweighted(spark):
    """w=1 everywhere ⇒ identical to the unweighted redistribute mode."""
    rng = np.random.default_rng(73)
    n, m = 60, 250
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    pdf = pd.DataFrame({"src": src, "dst": dst}).drop_duplicates()
    wdf = spark.createDataFrame(pdf.assign(w=1.0))
    opts = PagerankOptions(dangling="redistribute", max_iterations=80)
    res_w = pagerank_weighted_bsp(wdf, n, opts)
    g = GraphSnapshot.build(edges_df(spark, pdf["src"].to_numpy(), pdf["dst"].to_numpy()),
                            n=n, self_loops=False)
    res_u = pagerank_static_bsp(g, opts)
    assert np.allclose(res_w.ranks, res_u.ranks, atol=1e-9)
    g.unpersist()
