"""Dynamic-equivalence tests — mirrors the reference experiment harness
(main.cu:79–147): apply batches of insertions+deletions; assert ND/DT/DF/DF-P
each match a full static recompute on the updated graph within tolerance
(the L1-err-vs-oracle check at main.cu:55, here as allclose), and that
DT/DF/DF-P follow the NumPy superstep oracle over a fixed superstep count."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pagerank_cuda_dynamic_spark.operators.graph import tidy_batch
from pagerank_cuda_dynamic_spark.operators.pagerank import PagerankOptions
from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
    pagerank_dynamic_frontier_bsp,
    pagerank_dynamic_frontier_prune_bsp,
    pagerank_dynamic_traversal_bsp,
    pagerank_static_bsp,
)
from pagerank_cuda_dynamic_spark.plans.graph_snapshot import GraphSnapshot

from .conftest import edges_df
from .oracle import (
    add_self_loops_np,
    frontier_marks_numpy,
    pagerank_frontier_numpy,
    pagerank_numpy,
    traversal_marks_numpy,
)


def _random_graph(rng: np.random.Generator, n: int, m: int):
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    keep = src != dst
    return src[keep], dst[keep]


def test_batch_apply_changes_graph(dynamic_batch):
    g0, g1, dels, ins, _, _ = dynamic_batch
    assert ins.count() > 0 and dels.count() > 0
    assert g1.edges.count() == g0.edges.count() + ins.count() - dels.count()


def test_naive_dynamic_matches_static(dynamic_batch):
    _, g1, _, _, q, want = dynamic_batch
    res = pagerank_static_bsp(g1, q=q)
    assert np.allclose(res.ranks, want, atol=1e-6)


def test_dynamic_traversal_matches_static(dynamic_batch):
    g0, g1, dels, ins, q, want = dynamic_batch
    res = pagerank_dynamic_traversal_bsp(g0, g1, dels, ins, q)
    assert res.affected_initial > 0
    assert np.allclose(res.ranks, want, atol=1e-6)


def test_dynamic_frontier_matches_static(dynamic_batch):
    g0, g1, dels, ins, q, want = dynamic_batch
    res = pagerank_dynamic_frontier_bsp(g0, g1, dels, ins, q)
    assert res.affected_initial > 0
    assert np.allclose(res.ranks, want, atol=1e-6)


def test_dynamic_frontier_prune_matches_static(dynamic_batch):
    g0, g1, dels, ins, q, want = dynamic_batch
    res = pagerank_dynamic_frontier_prune_bsp(g0, g1, dels, ins, q)
    assert np.allclose(res.ranks, want, atol=1e-6)


def test_empty_batch_converges_immediately(spark):
    """DF with an empty batch: nothing affected → 1 superstep, ranks kept."""
    rng = np.random.default_rng(3)
    src, dst = _random_graph(rng, 40, 150)
    g = GraphSnapshot.build(edges_df(spark, src, dst), n=40)
    q = pagerank_static_bsp(g).ranks
    empty = spark.createDataFrame(
        pd.DataFrame({"src": [], "dst": []}).astype("int64"),
        schema="src long, dst long",
    )
    res = pagerank_dynamic_frontier_bsp(g, g, empty, empty, q)
    assert res.iterations == 1
    assert np.allclose(res.ranks, q, atol=1e-12)
    g.unpersist()


@pytest.fixture(scope="module")
def fixed_iters_setup(spark):
    """A batch with deletions, insertions and a (v,v) deletion, plus the
    old and new self-looped edge sets rebuilt in NumPy from the inputs.

    Vertices [45, 60) only feed [0, 45), and the batch stays inside
    [0, 45), so no frontier ever reaches them; q is a 3-superstep static
    rank, far from a fixed point, so updating a vertex outside the
    frontier (ND's rule) moves it visibly."""
    rng = np.random.default_rng(53)
    n, k = 60, 45
    src, dst = _random_graph(rng, k, 200)
    up_src, up_dst = _random_graph(rng, n - k, 40)
    src = np.r_[src, up_src + k, rng.integers(k, n, 15)]
    dst = np.r_[dst, up_dst + k, rng.integers(0, k, 15)]
    g0 = GraphSnapshot.build(edges_df(spark, src, dst), n=n)
    q = pagerank_static_bsp(g0, PagerankOptions(tolerance=0.0, max_iterations=3)).ranks
    old_s, old_d = add_self_loops_np(n, src, dst)
    pick = rng.choice(np.flatnonzero((old_s != old_d) & (old_d < k)), 8, replace=False)
    loop_v = int(old_s[pick[0]])
    dels_pdf = pd.DataFrame(
        {"src": np.r_[old_s[pick], loop_v], "dst": np.r_[old_d[pick], loop_v]}
    )
    ins_pdf = pd.DataFrame({"src": rng.integers(0, k, 10), "dst": rng.integers(0, k, 10)})
    dels, ins = tidy_batch(
        g0.edges, spark.createDataFrame(dels_pdf), spark.createDataFrame(ins_pdf)
    )
    dels, ins = dels.persist(), ins.persist()
    d_np, i_np = dels.toPandas(), ins.toPandas()
    assert ((d_np.src == loop_v) & (d_np.dst == loop_v)).any()
    assert len(i_np) > 0
    g1 = g0.with_batch(dels, ins)
    # (v,v) deletions are no-ops: the new graph keeps every self-loop
    gone = np.isin(old_s * n + old_d, d_np.src.to_numpy() * n + d_np.dst.to_numpy())
    new_s, new_d = add_self_loops_np(
        n, np.r_[old_s[~gone], i_np.src], np.r_[old_d[~gone], i_np.dst]
    )
    marks = (n, old_s, old_d, new_s, new_d, d_np.src.to_numpy(), i_np.src.to_numpy())
    yield g0, g1, dels, ins, q, marks
    g0.unpersist()
    g1.unpersist()


@pytest.mark.parametrize("variant", ["dt", "df", "dfp"])
def test_frontier_variants_match_oracle_fixed_iters(fixed_iters_setup, variant):
    """BSP DT/DF/DF-P equal the NumPy superstep oracle after exactly 5
    supersteps.  Convergence to a static recompute would also pass a
    frontier rule that marks every vertex (ND); a fixed iteration count
    does not."""
    g0, g1, dels, ins, q, marks = fixed_iters_setup
    n, _, _, new_s, new_d = marks[:5]
    run, marker, flags = {
        "dt": (pagerank_dynamic_traversal_bsp, traversal_marks_numpy, {}),
        "df": (pagerank_dynamic_frontier_bsp, frontier_marks_numpy, {"expand": True}),
        "dfp": (
            pagerank_dynamic_frontier_prune_bsp,
            frontier_marks_numpy,
            {"expand": True, "prune": True, "corrected": True},
        ),
    }[variant]
    opts = PagerankOptions(tolerance=0.0, max_iterations=5)
    res = run(g0, g1, dels, ins, q, opts)
    want, want_it = pagerank_frontier_numpy(
        n, new_s, new_d, q, marker(*marks), tolerance=0.0, max_iterations=5, **flags
    )
    assert res.iterations == want_it == 5
    assert np.abs(res.ranks - want).max() <= 1e-12, variant


def test_naive_dynamic_short_q_matches_oracle(fixed_iters_setup):
    """ND from a q shorter than the graph (as if the last vertices were
    new): absent vertices start at 0 (pagerank.hxx:290)."""
    _, g1, _, _, q, marks = fixed_iters_setup
    n, _, _, new_s, new_d = marks[:5]
    q_short = q[: n - 10]
    opts = PagerankOptions(tolerance=0.0, max_iterations=5)
    res = pagerank_static_bsp(g1, opts, q=q_short)
    want, _ = pagerank_numpy(
        n, new_s, new_d, tolerance=0.0, max_iterations=5, q=np.r_[q_short, np.zeros(10)]
    )
    assert res.iterations == 5
    assert np.abs(res.ranks - want).max() <= 1e-12


@pytest.mark.parametrize(
    "entry",
    [
        pagerank_dynamic_traversal_bsp,
        pagerank_dynamic_frontier_bsp,
        pagerank_dynamic_frontier_prune_bsp,
    ],
    ids=["dt", "df", "dfp"],
)
def test_dynamic_entries_check_warm_start_length(fixed_iters_setup, entry):
    """A q longer than the graph is a ValueError, as for ND (it used to be
    truncated silently); a shorter q is padded with zeros."""
    g0, g1, dels, ins, q, _ = fixed_iters_setup
    n = g1.n
    with pytest.raises(ValueError, match=f"q has {n + 3} entries"):
        entry(g0, g1, dels, ins, np.r_[q, np.zeros(3)])
    opts = PagerankOptions(tolerance=0.0, max_iterations=5)
    short = entry(g0, g1, dels, ins, q[: n - 10], opts)
    padded = entry(g0, g1, dels, ins, np.r_[q[: n - 10], np.zeros(10)], opts)
    assert short.iterations == padded.iterations == 5
    assert np.array_equal(short.ranks, padded.ranks)


def test_tcp_dynamic_entries_reject_long_q(fixed_iters_setup):
    from pagerank_cuda_dynamic_spark.operators import pagerank_tcp as PT

    g0, g1, dels, ins, q, _ = fixed_iters_setup
    for entry in (
        PT.pagerank_dynamic_traversal_tcp,
        PT.pagerank_dynamic_frontier_tcp,
        PT.pagerank_dynamic_frontier_prune_tcp,
    ):
        with pytest.raises(ValueError, match=f"q has {g1.n + 3} entries"):
            entry(g0, g1, dels, ins, np.r_[q, np.zeros(3)])


def test_seeded_batch_generators(spark):
    """Hash-based sampling is deterministic and tidy-compatible (G8/G9)."""
    from pagerank_cuda_dynamic_spark.sources.batches import (
        sample_deletions,
        sample_insertions,
    )
    from pagerank_cuda_dynamic_spark.plans.graph_snapshot import GraphSnapshot

    rng = np.random.default_rng(61)
    n = 100
    src = rng.integers(0, n, 800)
    dst = rng.integers(0, n, 800)
    g = GraphSnapshot.build(edges_df(spark, src, dst), n=n)
    dels1 = sample_deletions(g.edges, 0.05, seed=9).toPandas()
    dels2 = sample_deletions(g.edges, 0.05, seed=9).toPandas()
    assert sorted(map(tuple, dels1.values.tolist())) == sorted(map(tuple, dels2.values.tolist()))
    assert 0 < len(dels1) < 200
    assert not any(s == d for s, d in dels1.values.tolist())
    ins = sample_insertions(spark, n, 50, seed=9)
    dels_t, ins_t = tidy_batch(g.edges, spark.createDataFrame(dels1), ins)
    assert dels_t.count() == len(dels1)  # all sampled deletions exist
    g2 = g.with_batch(dels_t, ins_t)
    assert g2.edges.count() == g.edges.count() - dels_t.count() + ins_t.count()
    g.unpersist(); g2.unpersist()
