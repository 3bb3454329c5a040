"""TCP ring-exchange BSP parity — the cross-node execution path (no shared
filesystem; rendezvous + peer sockets only)."""

from __future__ import annotations

import numpy as np
import pytest

from pagerank_cuda_dynamic_spark.operators.pagerank import PagerankOptions
from pagerank_cuda_dynamic_spark.operators.pagerank_tcp import pagerank_static_tcp
from pagerank_cuda_dynamic_spark.plans.graph_snapshot import GraphSnapshot

from .conftest import MICRO_GRAPHS, edges_df, snapshot_oracle


def test_tcp_matches_csr(spark):
    rng = np.random.default_rng(53)
    n, m = 2000, 14000
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    g = GraphSnapshot.build(edges_df(spark, src, dst), n=n)
    a = pagerank_static_tcp(g)
    want, want_it = snapshot_oracle(g)
    assert np.allclose(a.ranks, want, atol=1e-10)
    assert a.iterations == want_it
    assert a.state.get("exchange") == "tcp-ring"
    g.unpersist()


def test_tcp_packs_a_fresh_snapshot_without_a_spill(spark):
    """The ring has no shared scratch: on a freshly built snapshot (raw
    plan, duplicates and all) the row pack dedups and self-loops in its
    tasks, the ranks match the NumPy oracle, and no pr_bsp_*_spill dir is
    ever created."""
    import glob
    import os

    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import _scratch_dir

    from .oracle import add_self_loops_np, pagerank_numpy

    rng = np.random.default_rng(79)
    n, m = 500, 3000
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    src, dst = np.concatenate([src, src[:400]]), np.concatenate([dst, dst[:400]])
    base = os.path.dirname(_scratch_dir())
    before = set(glob.glob(os.path.join(base, "pr_bsp_*_spill")))
    g = GraphSnapshot.build(edges_df(spark, src, dst), n=n)
    try:
        a = pagerank_static_tcp(g)
        assert set(glob.glob(os.path.join(base, "pr_bsp_*_spill"))) == before
        assert g._bsp_spill is None and g._edges is None
        want, want_it = pagerank_numpy(n, *add_self_loops_np(n, src, dst))
        assert np.allclose(a.ranks, want, atol=1e-10)
        assert a.iterations == want_it
    finally:
        g.unpersist()


@pytest.mark.parametrize("repartition", [True, False])
def test_tcp_dynamic_on_fresh_snapshots_without_a_spill(spark, repartition):
    """DF-P over the ring on freshly built snapshots: the frontier marks
    read old.edges and new.edges (the child both from with_batch's lazy
    plan and from a declined fast-path delta), the ring packs in rows, the
    ranks match the NumPy oracle, and no pr_bsp_*_spill dir is created."""
    import glob
    import os

    import pandas as pd

    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import _scratch_dir
    from pagerank_cuda_dynamic_spark.operators.pagerank_tcp import (
        pagerank_dynamic_frontier_prune_tcp,
    )

    from .oracle import (
        add_self_loops_np,
        frontier_marks_numpy,
        pagerank_frontier_numpy,
        pagerank_numpy,
    )

    rng = np.random.default_rng(83)
    n, m = 400, 2400
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    src, dst = np.concatenate([src, src[:300]]), np.concatenate([dst, dst[:300]])
    old_s, old_d = add_self_loops_np(n, src, dst)
    old_k = old_s * n + old_d
    # a tidied batch: deletions of existing non-loop edges, new insertions
    cand = np.flatnonzero(old_s != old_d)
    del_k = old_k[rng.choice(cand, 20, replace=False)]
    ins_k = rng.integers(0, n, 60) * n + rng.integers(0, n, 60)
    ins_k = np.setdiff1d(ins_k[ins_k // n != ins_k % n], old_k)[:30]
    new_k = np.union1d(np.setdiff1d(old_k, del_k), ins_k)
    new_s, new_d = new_k // n, new_k % n

    def frame(k):
        return spark.createDataFrame(
            pd.DataFrame({"src": k // n, "dst": k % n}).astype("int64"),
            schema="src long, dst long",
        )

    base = os.path.dirname(_scratch_dir())
    before = set(glob.glob(os.path.join(base, "pr_bsp_*_spill")))
    g0 = GraphSnapshot.build(edges_df(spark, src, dst), n=n)
    g1 = None
    try:
        r0 = pagerank_static_tcp(g0)
        want0, _ = pagerank_numpy(n, old_s, old_d)
        assert np.allclose(r0.ranks, want0, atol=1e-10)
        dels, ins = frame(del_k), frame(ins_k)
        g1 = g0.with_batch(dels, ins, repartition=repartition)
        a = pagerank_dynamic_frontier_prune_tcp(g0, g1, dels, ins, r0.ranks)
        assert set(glob.glob(os.path.join(base, "pr_bsp_*_spill"))) == before
        assert g0._bsp_spill is None and g1._bsp_spill is None
        got = g1.edges.toPandas()
        assert np.array_equal(np.sort(got["src"] * n + got["dst"]), new_k)
        vaff0 = frontier_marks_numpy(
            n, old_s, old_d, new_s, new_d, del_k // n, ins_k // n
        )
        want, _ = pagerank_frontier_numpy(
            n, new_s, new_d, r0.ranks, vaff0, expand=True, prune=True, corrected=True,
        )
        assert np.allclose(a.ranks, want, atol=1e-9)
    finally:
        g0.unpersist()
        if g1 is not None:
            g1.unpersist()


def test_tcp_salted_hubs_parity(spark):
    """Force hub salting on a star-heavy graph; the TCP ring's two-phase
    (partial-allreduce + rank-allgather) must match the NumPy oracle."""
    from pagerank_cuda_dynamic_spark.operators import pagerank_tcp as PT
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import bsp_pack

    rng = np.random.default_rng(59)
    n = 300
    src = np.concatenate([rng.integers(2, n, 150), rng.integers(2, n, 120),
                          rng.integers(0, n, 400)])
    dst = np.concatenate([np.zeros(150, np.int64), np.ones(120, np.int64),
                          rng.integers(0, n, 400)])
    g = GraphSnapshot.build(edges_df(spark, src, dst), n=n)
    orig = PT.bsp_pack
    PT.bsp_pack = lambda gr: bsp_pack(gr, hub_factor=0.05)  # force salting
    try:
        a = pagerank_static_tcp(g)
    finally:
        PT.bsp_pack = orig
    want, want_it = snapshot_oracle(g)
    assert np.allclose(a.ranks, want, atol=1e-10)
    assert a.iterations == want_it
    g.unpersist()


@pytest.fixture(scope="module")
def tcp_batch_setup(spark):
    import pandas as pd

    from pagerank_cuda_dynamic_spark.operators.graph import tidy_batch
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import pagerank_static_bsp

    rng = np.random.default_rng(31)
    n = 150
    src = rng.integers(0, n, 700)
    dst = rng.integers(0, n, 700)
    keep = src != dst
    g0 = GraphSnapshot.build(edges_df(spark, src[keep], dst[keep]), n=n)
    base = pagerank_static_bsp(g0)
    ins_pdf = pd.DataFrame(
        {"src": rng.integers(0, n, 40), "dst": rng.integers(0, n, 40)}
    )
    ins_pdf = ins_pdf[ins_pdf.src != ins_pdf.dst]
    pool = np.stack([src[keep], dst[keep]], axis=1)
    pick = rng.choice(len(pool), 25, replace=False)
    del_pdf = pd.DataFrame({"src": pool[pick, 0], "dst": pool[pick, 1]})
    dels, ins = tidy_batch(
        g0.edges, spark.createDataFrame(del_pdf), spark.createDataFrame(ins_pdf)
    )
    dels, ins = dels.persist(), ins.persist()
    g1 = g0.with_batch(dels, ins)
    return g0, g1, dels, ins, base.ranks


def test_tcp_df_matches_bsp(tcp_batch_setup):
    """DF over the TCP ring (mover-id + update segments) matches the memmap
    BSP twin exactly — same iterations, 1e-10 ranks."""
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
        pagerank_dynamic_frontier_bsp,
    )
    from pagerank_cuda_dynamic_spark.operators.pagerank_tcp import (
        pagerank_dynamic_frontier_tcp,
    )

    g0, g1, dels, ins, q = tcp_batch_setup
    a = pagerank_dynamic_frontier_tcp(g0, g1, dels, ins, q)
    b = pagerank_dynamic_frontier_bsp(g0, g1, dels, ins, q)
    assert np.allclose(a.ranks, b.ranks, atol=1e-10)
    assert a.iterations == b.iterations
    assert a.state.get("exchange") == "tcp-ring"


def test_tcp_dfp_matches_bsp(tcp_batch_setup):
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
        pagerank_dynamic_frontier_prune_bsp,
    )
    from pagerank_cuda_dynamic_spark.operators.pagerank_tcp import (
        pagerank_dynamic_frontier_prune_tcp,
    )

    g0, g1, dels, ins, q = tcp_batch_setup
    a = pagerank_dynamic_frontier_prune_tcp(g0, g1, dels, ins, q)
    b = pagerank_dynamic_frontier_prune_bsp(g0, g1, dels, ins, q)
    assert np.allclose(a.ranks, b.ranks, atol=1e-10)
    assert a.iterations == b.iterations


def test_tcp_dt_matches_bsp(tcp_batch_setup):
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
        pagerank_dynamic_traversal_bsp,
    )
    from pagerank_cuda_dynamic_spark.operators.pagerank_tcp import (
        pagerank_dynamic_traversal_tcp,
    )

    g0, g1, dels, ins, q = tcp_batch_setup
    a = pagerank_dynamic_traversal_tcp(g0, g1, dels, ins, q)
    b = pagerank_dynamic_traversal_bsp(g0, g1, dels, ins, q)
    assert a.affected_initial == b.affected_initial > 0
    assert np.allclose(a.ranks, b.ranks, atol=1e-10)
    assert a.iterations == b.iterations


def test_tcp_dfp_salted_hubs_matches_bsp(spark):
    """Force hub salting on a star-heavy dynamic workload: the ring's
    A0 hub-mark OR-allreduce + gated partials must match the memmap twin."""
    import pandas as pd

    from pagerank_cuda_dynamic_spark.operators import pagerank_tcp as PT
    from pagerank_cuda_dynamic_spark.operators.graph import tidy_batch
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
        bsp_pack,
        pagerank_dynamic_frontier_prune_bsp,
        pagerank_static_bsp,
    )
    from pagerank_cuda_dynamic_spark.operators.pagerank_tcp import (
        pagerank_dynamic_frontier_prune_tcp,
    )

    rng = np.random.default_rng(61)
    n = 300
    src = np.concatenate([rng.integers(2, n, 150), rng.integers(2, n, 120),
                          rng.integers(0, n, 400)])
    dst = np.concatenate([np.zeros(150, np.int64), np.ones(120, np.int64),
                          rng.integers(0, n, 400)])
    keep = src != dst

    class Forced:
        """GraphSnapshot whose bsp_packed forces salting (hub_factor tiny)."""

        def __init__(self, g):
            self._g = g
            self.edges, self.n = g.edges, g.n
            self._pack = None

        def outdeg_array(self):
            return self._g.outdeg_array()

        def pack_input(self):
            return self._g.pack_input()

        def bsp_packed(self, *a, **k):
            if self._pack is None:
                self._pack = bsp_pack(self._g, hub_factor=0.05)
            return self._pack

    g0 = GraphSnapshot.build(edges_df(spark, src[keep], dst[keep]), n=n)
    base = pagerank_static_bsp(g0)
    ins_pdf = pd.DataFrame(
        {"src": rng.integers(0, n, 30), "dst": rng.integers(0, n, 30)}
    )
    ins_pdf = ins_pdf[ins_pdf.src != ins_pdf.dst]
    empty = spark.createDataFrame(
        pd.DataFrame({"src": [], "dst": []}).astype("int64"), schema="src long, dst long"
    )
    dels, ins = tidy_batch(g0.edges, empty, spark.createDataFrame(ins_pdf))
    g1 = g0.with_batch(dels, ins)
    f0, f1 = Forced(g0), Forced(g1)
    orig = PT.bsp_pack
    PT.bsp_pack = lambda gr: gr.bsp_packed()
    try:
        a = pagerank_dynamic_frontier_prune_tcp(f0, f1, dels, ins, base.ranks)
    finally:
        PT.bsp_pack = orig
    b = pagerank_dynamic_frontier_prune_bsp(f0, f1, dels, ins, base.ranks)
    assert np.allclose(a.ranks, b.ranks, atol=1e-10)
    assert a.iterations == b.iterations
    g0.unpersist()
    g1.unpersist()


def test_tcp_warm_start(spark):
    n, src, dst = MICRO_GRAPHS["diamond"]
    g = GraphSnapshot.build(edges_df(spark, src, dst), n=n)
    base = pagerank_static_tcp(g)
    warm = pagerank_static_tcp(g, q=base.ranks)
    assert warm.iterations <= 2
    assert np.allclose(warm.ranks, base.ranks, atol=1e-9)
    g.unpersist()


def test_tcp_rejects_weighted_graphs(spark):
    """The UNWEIGHTED ring entry points must refuse a weighted snapshot
    loudly (they would ignore the w_bin blobs and silently compute
    unweighted ranks) — weighted graphs go through pagerank_weighted_tcp."""
    import pandas as pd

    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import WeightedSnapshot

    edges_w = spark.createDataFrame(
        pd.DataFrame({"src": [0, 1, 2], "dst": [1, 2, 0], "w": [0.5, 1.5, 2.0]})
    )
    g = WeightedSnapshot(edges_w, n=3)
    try:
        with pytest.raises(ValueError, match="unweighted"):
            pagerank_static_tcp(g)
    finally:
        g.unpersist()


def test_tcp_weighted_matches_bsp(spark):
    """Weighted ring PageRank (w_bin blobs + per-superstep dangling
    redistribution computed locally from the allgathered r) matches the
    memmap weighted BSP twin to 1e-10.  Fractional weighted out-degrees
    and dangling vertices are both present (src range excludes [n-40,n))."""
    import pandas as pd

    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
        pagerank_weighted_bsp,
    )
    from pagerank_cuda_dynamic_spark.operators.pagerank_tcp import (
        pagerank_weighted_tcp,
    )

    rng = np.random.default_rng(67)
    n, m = 250, 1500
    pdf = pd.DataFrame(
        {
            "src": rng.integers(0, n - 40, m).astype(np.int64),  # 40 dangling
            "dst": rng.integers(0, n, m).astype(np.int64),
            "w": rng.uniform(0.01, 0.4, m),  # mostly fractional wdeg
        }
    )
    df = spark.createDataFrame(pdf)
    opts = PagerankOptions(dangling="redistribute", max_iterations=200)
    a = pagerank_weighted_tcp(df, n, opts)
    b = pagerank_weighted_bsp(df, n, opts)
    assert np.allclose(a.ranks, b.ranks, atol=1e-10)
    assert a.iterations == b.iterations
    assert a.state.get("exchange") == "tcp-ring"


def test_tcp_weighted_salted_hubs_matches_bsp(spark):
    """Forced hub salting on a weighted star-heavy graph: the ring's A1
    partial-allreduce must multiply by the hub weight blob (hub_w_bin)."""
    import pandas as pd

    from pagerank_cuda_dynamic_spark.operators import pagerank_tcp as PT
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
        WeightedSnapshot,
        _bsp_loop,
        bsp_pack,
    )

    rng = np.random.default_rng(71)
    n = 300
    src = np.concatenate([rng.integers(2, n, 150), rng.integers(2, n, 120),
                          rng.integers(0, n - 30, 400)])
    dst = np.concatenate([np.zeros(150, np.int64), np.ones(120, np.int64),
                          rng.integers(0, n, 400)])
    pdf = pd.DataFrame(
        {"src": src, "dst": dst, "w": rng.uniform(0.05, 3.0, src.size)}
    )
    df = spark.createDataFrame(pdf)
    opts = PagerankOptions(dangling="redistribute", max_iterations=200)

    gb = WeightedSnapshot(df, n)
    packed = gb.bsp_packed(hub_factor=0.05)  # prime cache with forced salting
    assert packed[3].size > 0, "fixture must actually salt hubs"
    b = _bsp_loop(gb, opts, weighted=True)
    gb.unpersist()

    gt = WeightedSnapshot(df, n)
    orig = PT.bsp_pack
    PT.bsp_pack = lambda gr: bsp_pack(gr, hub_factor=0.05)
    try:
        a = PT._tcp_loop(gt, opts, weighted=True)
    finally:
        PT.bsp_pack = orig
        gt.unpersist()
    assert np.allclose(a.ranks, b.ranks, atol=1e-10)
    assert a.iterations == b.iterations
