"""BSP PageRank (and the TCP ring where noted) against the NumPy oracle."""

from __future__ import annotations

import numpy as np
import pytest

from pagerank_cuda_dynamic_spark.operators.pagerank import PagerankOptions
from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import pagerank_static_bsp
from pagerank_cuda_dynamic_spark.plans.graph_snapshot import GraphSnapshot

from .conftest import MICRO_GRAPHS, edges_df, snapshot_oracle
from .oracle import (
    add_self_loops_np,
    frontier_marks_numpy,
    pagerank_frontier_numpy,
    pagerank_numpy,
)


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
    want, want_it = snapshot_oracle(g)
    assert np.allclose(a.ranks, want, atol=1e-10)
    assert a.iterations == want_it
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
    match the NumPy oracle, static and dynamic."""
    import pandas as pd
    from pagerank_cuda_dynamic_spark.operators.graph import tidy_batch
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
    want, want_it = snapshot_oracle(g)
    assert np.allclose(res.ranks, want, atol=1e-10)
    assert res.iterations == want_it

    # dynamic DF-P with salted hubs
    ins_pdf = pd.DataFrame({"src": rng.integers(2, n, 20), "dst": rng.integers(0, n, 20)})
    empty = spark.createDataFrame(
        pd.DataFrame({"src": [], "dst": []}).astype("int64"), schema="src long, dst long"
    )
    dels, ins = tidy_batch(g.edges, empty, spark.createDataFrame(ins_pdf))
    g2 = g.with_batch(dels, ins)
    g2._bsp_packed = bsp_pack(g2, hub_factor=0.05)
    bsp = pagerank_dynamic_frontier_prune_bsp(g, g2, dels, ins, res.ranks)
    old, new, i_np = g.edges.toPandas(), g2.edges.toPandas(), ins.toPandas()
    vaff0 = frontier_marks_numpy(
        n, old["src"], old["dst"], new["src"], new["dst"], [], i_np["src"]
    )
    want, _ = pagerank_frontier_numpy(
        n, new["src"], new["dst"], res.ranks, vaff0,
        expand=True, prune=True, corrected=True,
    )
    assert np.allclose(bsp.ranks, want, atol=1e-9)
    g.unpersist()
    g2.unpersist()


def test_bsp_pack_distributed_derivation_parity(spark):
    """bsp_pack must derive hubs/bounds without any O(|V|) driver collect:
    hub set identical to the exact driver-side histogram, bounds a strict
    partition of [0, n), one packed row per stripe, and ranks at 1e-10 vs
    the NumPy oracle on a hub-heavy graph."""
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
        want, _ = snapshot_oracle(g)
        assert np.allclose(a.ranks, want, atol=1e-10)
    finally:
        g.unpersist()


def test_bsp_fine_stripes_parity(spark):
    """Stripes finer than tasks (edge-budget striping): a pack with k~16
    stripes per task must run the memmap AND TCP loops with the NumPy
    oracle's results — tasks own several stripes, flags/movers/slices are
    per-stripe."""
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

        def pack_input(self):
            return self._g.pack_input()

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
    want, want_it = snapshot_oracle(g)
    assert np.allclose(a.ranks, want, atol=1e-10)
    assert np.allclose(t.ranks, want, atol=1e-10)
    assert a.iterations == want_it == t.iterations
    g.unpersist()


def test_bsp_pack_rejects_out_of_range_dst_and_drops_its_cache(spark):
    """A dst outside [0, n) fails the pack's degree pass loudly, and the
    coalesced input the pack cached for that pass is released on the way
    out, not left in the session's cache."""
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import bsp_pack

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    g = GraphSnapshot.build(edges_df(spark, [0, 1, 2], [1, 2, 7]), n=5)
    with pytest.raises(ValueError, match="outside the vertex space"):
        bsp_pack(g)
    assert jsc.getPersistentRDDs().size() == before


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


def test_scratch_dirs_of_killed_driver_reaped_by_next():
    """A SIGKILLed driver runs no exit hook: its scratch and spill dirs stay
    until the first _scratch_dir call of a later process, which removes the
    dirs whose owner pid is gone.  Dirs of a live owner and names without an
    owner stay.  Sparkless subprocess drives."""
    import os
    import shutil
    import subprocess
    import sys as _sys
    import uuid
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    head = (
        "import sys; sys.path.insert(0, %r)\n"
        "import os, signal\n"
        "from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import _scratch_dir\n"
        % str(repo)
    )
    killed = subprocess.run(
        [_sys.executable, "-c", head + "d = _scratch_dir()\n"
         "os.makedirs(d); os.makedirs(d + '_spill')\n"
         "print(d, flush=True)\n"
         "os.kill(os.getpid(), signal.SIGKILL)\n"],
        capture_output=True, text=True,
    )
    assert killed.returncode == -9
    dead = killed.stdout.strip().splitlines()[-1]
    assert os.path.isdir(dead) and os.path.isdir(dead + "_spill")
    base = os.path.dirname(dead)
    live = os.path.join(base, f"pr_bsp_{os.getpid()}_{uuid.uuid4().hex[:12]}")
    legacy = os.path.join(base, f"pr_bsp_{uuid.uuid4().hex[:12]}")
    try:
        os.makedirs(live)
        os.makedirs(legacy)
        subprocess.run(
            [_sys.executable, "-c", head + "_scratch_dir()\n"], check=True
        )
        assert not os.path.exists(dead), "dead driver's scratch dir survived"
        assert not os.path.exists(dead + "_spill"), "dead driver's spill survived"
        assert os.path.isdir(live) and os.path.isdir(legacy)
    finally:
        for d in (dead, dead + "_spill", live, legacy):
            shutil.rmtree(d, ignore_errors=True)


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


def _messy_union_plan(spark, rng, n: int, m: int, branches: int):
    """(raw edge plan, its src, its dst): a union of `branches` two-partition
    frames, wider than the session's slots, holding duplicate, reversed
    and explicit self-loop edges."""
    from functools import reduce

    src = rng.integers(0, n, m)
    dst = (rng.zipf(1.5, m) % n).astype(np.int64)
    loops = rng.integers(0, n, 20)
    src = np.concatenate([src, src[:300], dst[:200], loops])  # dups, reversed
    dst = np.concatenate([dst, dst[:300], src[:200], loops])  # and (v, v)
    parts = np.array_split(rng.permutation(src.size), branches)
    frames = [edges_df(spark, src[i], dst[i]).coalesce(2) for i in parts]
    return reduce(lambda a, b: a.unionByName(b), frames), src, dst


@pytest.mark.parametrize("self_loops", [True, False])
def test_fused_pack_is_exact_on_a_messy_union_plan(spark, self_loops):
    """The pack dedups the raw plan and adds the universal self-loops in
    its own tasks: on a many-partition union with duplicate, reversed and
    explicit self-loop edges, g.edges is exactly that set, outdeg_array is
    exact, static ranks and one DF-P batch match the NumPy oracle."""
    import pandas as pd

    from pagerank_cuda_dynamic_spark.operators.graph import tidy_batch
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
        pagerank_dynamic_frontier_prune_bsp,
    )

    rng = np.random.default_rng(83)
    n = 700
    raw, src, dst = _messy_union_plan(spark, rng, n, 5000, 12)
    assert raw.rdd.getNumPartitions() > spark.sparkContext.defaultParallelism
    g = GraphSnapshot.build(raw, n=n, self_loops=self_loops)
    try:
        if self_loops:
            s_, d_ = add_self_loops_np(n, src, dst)
        else:
            pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
            s_, d_ = pairs[:, 0], pairs[:, 1]
        want_keys = s_ * n + d_
        _, _, _, hubs = g.bsp_packed(hub_factor=0.3)
        assert hubs.size > 0, "the fixture must exercise the salted-hub route"
        e = g.edges.toPandas()
        got_keys = np.sort(e["src"].to_numpy() * n + e["dst"].to_numpy())
        assert np.array_equal(got_keys, want_keys)
        assert np.array_equal(g.outdeg_array(), np.bincount(s_, minlength=n))
        opts = PagerankOptions(dangling="selfloop" if self_loops else "redistribute")
        base = pagerank_static_bsp(g, opts)
        want, _ = pagerank_numpy(n, s_, d_, dangling=opts.dangling)
        assert np.abs(base.ranks - want).max() <= 1e-6
        if not self_loops:
            return  # DF-P assumes the universal self-loops
        ins_pdf = pd.DataFrame({"src": rng.integers(0, n, 40), "dst": rng.integers(0, n, 40)})
        del_pdf = e[e.src != e.dst].head(25)
        dels, ins = tidy_batch(
            g.edges, spark.createDataFrame(del_pdf), spark.createDataFrame(ins_pdf)
        )
        dels, ins = dels.localCheckpoint(), ins.localCheckpoint()
        g1 = g.with_batch(dels, ins, repartition=False)
        try:
            res = pagerank_dynamic_frontier_prune_bsp(g, g1, dels, ins, base.ranks)
            d_np, i_np = dels.toPandas(), ins.toPandas()
            new = np.union1d(
                np.setdiff1d(want_keys, d_np["src"].to_numpy() * n + d_np["dst"].to_numpy()),
                i_np["src"].to_numpy() * n + i_np["dst"].to_numpy(),
            )
            want1, _ = pagerank_numpy(n, new // n, new % n)
            assert np.abs(res.ranks - want1).max() <= 1e-6
        finally:
            g1.unpersist()
    finally:
        g.unpersist()


def test_hash_partition_matches_spark_repartition(spark):
    """bsp_pack routes with keys chosen on the driver by _hash_partition:
    it must agree with Spark's own pmod(hash(key), n) — the hash
    repartition(n, key) uses — on negative, large and small keys."""
    import pyspark.sql.functions as F

    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import _hash_partition

    keys = np.concatenate(
        [np.arange(-50, 400), [2**31 - 1, 2**31, 2**40 + 7, -(2**62), 2**63 - 1]]
    ).astype(np.int64)
    df = spark.createDataFrame([(int(k),) for k in keys], "k long")
    for n_parts in (1, 2, 7, 64):
        got = df.select(F.pmod(F.hash("k"), F.lit(n_parts)).alias("b")).toPandas()
        assert np.array_equal(_hash_partition(keys, n_parts), got["b"].to_numpy()), n_parts
