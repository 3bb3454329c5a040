"""BSP dynamic variants (ND/DT/DF/DF-P) match static recompute (main.cu
invariant) and the NumPy superstep oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pagerank_cuda_dynamic_spark.operators.graph import tidy_batch
from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
    pagerank_dynamic_frontier_bsp,
    pagerank_dynamic_frontier_prune_bsp,
    pagerank_dynamic_traversal_bsp,
    pagerank_static_bsp,
)
from pagerank_cuda_dynamic_spark.plans.graph_snapshot import GraphSnapshot

from .conftest import edges_df
from .oracle import frontier_marks_numpy, pagerank_frontier_numpy


def _frontier_oracle(setup, **flags):
    """pagerank_frontier_numpy from the reference's DF marks of the batch."""
    g0, g1, dels, ins, q, _ = setup
    old, new = g0.edges.toPandas(), g1.edges.toPandas()
    vaff0 = frontier_marks_numpy(
        g1.n, old["src"], old["dst"], new["src"], new["dst"],
        dels.toPandas()["src"], ins.toPandas()["src"],
    )
    return pagerank_frontier_numpy(g1.n, new["src"], new["dst"], q, vaff0, **flags)


def test_bsp_dt_matches_static(dynamic_batch):
    g0, g1, dels, ins, q, want = dynamic_batch
    res = pagerank_dynamic_traversal_bsp(g0, g1, dels, ins, q)
    assert res.affected_initial > 0
    assert np.allclose(res.ranks, want, atol=1e-6)


def test_bsp_df_matches_static_and_csr(dynamic_batch):
    g0, g1, dels, ins, q, want = dynamic_batch
    res = pagerank_dynamic_frontier_bsp(g0, g1, dels, ins, q)
    assert np.allclose(res.ranks, want, atol=1e-6)
    ref, ref_it = _frontier_oracle(dynamic_batch, expand=True)
    assert np.allclose(res.ranks, ref, atol=1e-9)
    assert res.iterations == ref_it


def test_bsp_dfp_matches_static_and_csr(dynamic_batch):
    g0, g1, dels, ins, q, want = dynamic_batch
    res = pagerank_dynamic_frontier_prune_bsp(g0, g1, dels, ins, q)
    assert np.allclose(res.ranks, want, atol=1e-6)
    ref, ref_it = _frontier_oracle(
        dynamic_batch, expand=True, prune=True, corrected=True
    )
    assert np.allclose(res.ranks, ref, atol=1e-9)
    assert res.iterations == ref_it


def test_delta_pack_matches_full_pack(spark):
    """with_batch children of a packed parent take the incremental
    delta-pack path (packed DataFrame slot is None) and must produce
    IDENTICAL graph state to a from-scratch pack: same ranks, same
    out-degree array, same edge set on the fast (non-repartitioned)
    child.  Covers deletions + insertions, salted hubs (forced via a
    low hub_factor), and a chained second batch."""
    rng = np.random.default_rng(11)
    n = 600
    src = rng.integers(0, n, 6000)
    dst = (rng.zipf(1.3, 6000) % n).astype(np.int64)
    keep = src != dst
    g0 = GraphSnapshot.build(edges_df(spark, src[keep], dst[keep]), n=n)
    _, _, n_stripes, hubs = g0.bsp_packed(hub_factor=0.3)
    assert hubs.size > 0, "test graph must exercise the salted-hub route"
    base = pagerank_static_bsp(g0)
    ex = g0.edges.limit(120).toPandas()
    del_pdf = ex[ex.src != ex.dst].head(40)
    hub_dst = np.resize(hubs, 20)  # target hubs so hub inserts are covered
    ins_pdf = pd.DataFrame(
        {
            "src": rng.integers(0, n, 60),
            "dst": np.concatenate([hub_dst, rng.integers(0, n, 40)]),
        }
    )
    dels, ins = tidy_batch(
        g0.edges, spark.createDataFrame(del_pdf), spark.createDataFrame(ins_pdf)
    )
    dels, ins = dels.persist(), ins.persist()
    g1 = g0.with_batch(dels, ins, repartition=False)
    g1c = g0.with_batch(dels, ins)
    g1c._delta = None  # control: force the full from-scratch pack
    r1 = pagerank_static_bsp(g1)
    r1c = pagerank_static_bsp(g1c)
    assert g1._bsp_packed[0] is None, "delta path not taken"
    assert g1c._bsp_packed[0] is not None
    assert np.allclose(r1.ranks, r1c.ranks, atol=1e-12)
    assert np.array_equal(g1._outdeg_np, g1c.outdeg_array())
    a = g1.edges.toPandas().sort_values(["src", "dst"]).reset_index(drop=True)
    b = g1c.edges.toPandas().sort_values(["src", "dst"]).reset_index(drop=True)
    assert a.equals(b)
    # chained batch: the delta child is itself a valid delta parent
    ins2 = spark.createDataFrame(
        pd.DataFrame({"src": rng.integers(0, n, 15), "dst": rng.integers(0, n, 15)})
    )
    empty = spark.createDataFrame(
        pd.DataFrame({"src": [], "dst": []}).astype("int64"),
        schema="src long, dst long",
    )
    dels2, ins2 = tidy_batch(g1.edges, empty, ins2)
    dels2, ins2 = dels2.persist(), ins2.persist()
    g2 = g1.with_batch(dels2, ins2, repartition=False)
    g2c = g1c.with_batch(dels2, ins2)
    g2c._delta = None
    r2 = pagerank_static_bsp(g2)
    r2c = pagerank_static_bsp(g2c)
    assert g2._bsp_packed[0] is None
    assert np.allclose(r2.ranks, r2c.ranks, atol=1e-12)
    # DF-P on the delta child matches its own static recompute
    dfp = pagerank_dynamic_frontier_prune_bsp(g0, g1, dels, ins, base.ranks)
    assert np.allclose(dfp.ranks, r1.ranks, atol=1e-6)
    for x in (g0, g1, g1c, g2, g2c):
        x.unpersist()


def test_mover_bitmap_path_bit_equals_idlist_path(dynamic_batch, monkeypatch):
    """The two mover-exchange encodings (id-list walk vs bitmap gather —
    chosen per consumer stripe by size in auto mode) must be exact
    equivalents: same eidx sets in the same src-sorted order, so the
    frontier marks, iteration counts and every float op are identical.
    Pinned by forcing each path through the kernel's size-rule factor
    (0: never the bitmap; huge: always, as any walk has a mover) and
    asserting bit-equal ranks on DF and DF-P (the expand modes that
    exchange movers)."""
    from pagerank_cuda_dynamic_spark.operators import _stripe_pack

    g0, g1, dels, ins, q, _ = dynamic_batch
    runs = {}
    for force, factor in (("0", 0), ("1", 2**40)):
        monkeypatch.setattr(_stripe_pack, "MOVER_BITMAP_FACTOR", factor)
        runs[force] = (
            pagerank_dynamic_frontier_bsp(g0, g1, dels, ins, q),
            pagerank_dynamic_frontier_prune_bsp(g0, g1, dels, ins, q),
        )
    for i in range(2):
        a, b = runs["0"][i], runs["1"][i]
        assert a.iterations == b.iterations
        assert np.array_equal(a.ranks, b.ranks)  # bit-equal, not allclose


def _count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), read from the status tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _keys(pdf: pd.DataFrame, n: int) -> np.ndarray:
    return pdf["src"].to_numpy(np.int64) * n + pdf["dst"].to_numpy(np.int64)


def test_df_seeding_bit_equals_frontier_marks(spark):
    """DF and DF-P seed their marks from the tidied batch and let the
    loop's iteration-0 mover expansion finish them.  That must reproduce
    the reference marking (_frontier_marks' old/new-graph out-neighbour
    scans) exactly: same initial affected count, iterations, final
    frontier and bit-equal ranks.  The batch has salted-hub dsts, a (v,v)
    deletion, and a source with both a deletion and an insertion.  The
    fast-path with_batch runs no Spark job, and the child's edges, read
    back from its spill, are exactly the apply_batch edge set."""
    from pagerank_cuda_dynamic_spark.operators.pagerank import (
        PagerankOptions,
        _frontier_marks,
    )
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import _bsp_loop

    rng = np.random.default_rng(41)
    n = 600
    src = rng.integers(0, n, 6000)
    dst = (rng.zipf(1.3, 6000) % n).astype(np.int64)
    keep = src != dst
    src, dst = src[keep], dst[keep]
    g0 = GraphSnapshot.build(edges_df(spark, src, dst), n=n)
    _, _, _, hubs = g0.bsp_packed(hub_factor=0.3)
    assert hubs.size > 0, "test graph must exercise the salted-hub route"
    base = pagerank_static_bsp(g0).ranks
    existing = set(zip(src.tolist(), dst.tolist()))
    u = int(src[0])
    fresh = next(v for v in range(n) if v != u and (u, v) not in existing)
    del_pdf = pd.DataFrame(
        {
            "src": np.concatenate([[u, 7], src[1:30]]),
            "dst": np.concatenate([[dst[0], 7], dst[1:30]]),
        }
    )
    ins_pdf = pd.DataFrame(
        {
            "src": np.concatenate([[u], rng.integers(0, n, 40)]),
            "dst": np.concatenate([[fresh], np.resize(hubs, 20), rng.integers(0, n, 20)]),
        }
    )
    dels, ins = tidy_batch(
        g0.edges, spark.createDataFrame(del_pdf), spark.createDataFrame(ins_pdf)
    )
    dels, ins = dels.localCheckpoint(), ins.localCheckpoint()
    d_pdf, i_pdf = dels.toPandas(), ins.toPandas()
    assert ((d_pdf.src == 7) & (d_pdf.dst == 7)).any()
    assert (d_pdf.src == u).any() and (i_pdf.src == u).any()

    g1, jobs = _count_jobs(spark, lambda: g0.with_batch(dels, ins, repartition=False))
    assert jobs == 0
    g1.bsp_packed()
    vaff_ref = _frontier_marks(g0, g1, dels, ins)
    opts = PagerankOptions()
    modes = {
        "df": (pagerank_dynamic_frontier_bsp, {"expand": True}),
        "dfp": (
            pagerank_dynamic_frontier_prune_bsp,
            {"expand": True, "prune": True, "corrected": True},
        ),
    }
    for name, (entry, flags) in modes.items():
        got = entry(g0, g1, dels, ins, base, opts)
        want = _bsp_loop(g1, opts, q=base, vaff0=vaff_ref, **flags)
        assert got.affected_initial == want.affected_initial == int(vaff_ref.sum()), name
        assert got.iterations == want.iterations, name
        assert np.array_equal(got.state["vaff"], want.state["vaff"]), name
        assert np.array_equal(got.ranks, want.ranks), name

    full = g0.with_batch(dels, ins)  # apply_batch + universal self-loops
    a = g1.edges.toPandas().sort_values(["src", "dst"]).reset_index(drop=True)
    b = full.edges.toPandas().sort_values(["src", "dst"]).reset_index(drop=True)
    assert a.equals(b)
    for x in (g0, g1, full):
        x.unpersist()


def test_fast_path_rejects_bad_batches(spark):
    """The fast path rejects, with a ValueError, a grown id space and
    batch edges outside [0, n) (these used to be an assert and a silent
    misroute into the last stripe)."""
    n = 50
    rng = np.random.default_rng(3)
    g0 = GraphSnapshot.build(
        edges_df(spark, rng.integers(0, n, 200), rng.integers(0, n, 200)), n=n
    )
    g0.bsp_packed()
    empty = spark.createDataFrame(
        pd.DataFrame({"src": [], "dst": []}).astype("int64"),
        schema="src long, dst long",
    )
    with pytest.raises(ValueError, match="id space"):
        g0.with_batch(empty, empty, n=n + 5, repartition=False)
    bad = spark.createDataFrame(
        pd.DataFrame({"src": [1, 2, 3], "dst": [n, 4, n + 7]}),
        schema="src long, dst long",
    )
    g1 = g0.with_batch(empty, bad, repartition=False)
    with pytest.raises(ValueError, match=r"2 edge\(s\) with a vertex id outside \[0, 50\)"):
        g1.bsp_packed()
    g0.unpersist()


def test_carried_stream_flat_jobs_and_oracle(spark):
    """A long carried stream on the fast path: each batch is applied to
    the previous child, ranked by DF-P from the previous ranks, and the
    parent is released; the child's edges are then read back from its own
    spill.  On every batch the edge set equals the NumPy one exactly and
    the ranks match the NumPy oracle to 1e-6, and the Spark jobs per batch
    stay flat — nothing re-derives through released parents.  Batches are
    tidied in NumPy to keep the test short (tidy_batch on a carried
    snapshot is covered by test_streaming)."""
    from .oracle import add_self_loops_np, pagerank_numpy

    rng = np.random.default_rng(23)
    n, n_batches = 120, 30
    src = rng.integers(0, n, 600)
    dst = rng.integers(0, n, 600)
    keep = src != dst
    keys = np.unique(src[keep] * n + dst[keep])
    g = GraphSnapshot.build(edges_df(spark, keys // n, keys % n), n=n)
    ranks = pagerank_static_bsp(g).ranks
    jobs = []
    for _ in range(n_batches):
        del_keys = np.unique(keys[rng.integers(0, keys.size, 3)])
        ins_keys = np.unique(rng.integers(0, n, 8) * n + rng.integers(0, n, 8))
        ins_keys = ins_keys[(ins_keys // n != ins_keys % n) & ~np.isin(ins_keys, keys)]
        dels = edges_df(spark, del_keys // n, del_keys % n)
        ins = edges_df(spark, ins_keys // n, ins_keys % n)

        def batch():
            g2 = g.with_batch(dels, ins, repartition=False)
            res = pagerank_dynamic_frontier_prune_bsp(g, g2, dels, ins, ranks)
            g.unpersist()
            return g2, res, g2.edges.toPandas()

        (g, res, got), k = _count_jobs(spark, batch)
        jobs.append(k)
        ranks = res.ranks
        keys = np.union1d(np.setdiff1d(keys, del_keys), ins_keys)
        s_, d_ = add_self_loops_np(n, keys // n, keys % n)
        assert np.array_equal(np.sort(_keys(got, n)), s_ * n + d_)
        want, _ = pagerank_numpy(n, s_, d_)
        assert np.abs(ranks - want).max() <= 1e-6
    g.unpersist()
    assert np.mean(jobs[-5:]) <= np.mean(jobs[:5]), jobs



def _np_batch(rng, keys, n, n_del, n_ins):
    """A tidied batch against the edge keys src·n+dst (no self-loops in
    keys): deletions drawn from keys, insertions new non-loop pairs."""
    del_keys = np.unique(keys[rng.integers(0, keys.size, n_del)])
    ins_keys = np.unique(rng.integers(0, n, n_ins) * n + rng.integers(0, n, n_ins))
    ins_keys = ins_keys[(ins_keys // n != ins_keys % n) & ~np.isin(ins_keys, keys)]
    return del_keys, ins_keys


def test_delta_pack_decline_falls_back_to_full_pack(spark, monkeypatch):
    """A batch larger than DELTA_MAX_BATCH makes delta_pack decline.  The
    fast-path child then derives its edges by anti-join from the parent,
    exactly (E \\ D) ∪ I, packs them in full, and DF-P on it matches the
    NumPy oracle on the new graph."""
    from pagerank_cuda_dynamic_spark.operators import pagerank_bsp

    from .oracle import add_self_loops_np, pagerank_numpy

    rng = np.random.default_rng(31)
    n = 200
    src = rng.integers(0, n, 1200)
    dst = rng.integers(0, n, 1200)
    keep = src != dst
    keys = np.unique(src[keep] * n + dst[keep])
    g0 = GraphSnapshot.build(edges_df(spark, keys // n, keys % n), n=n)
    q = pagerank_static_bsp(g0).ranks
    del_keys, ins_keys = _np_batch(rng, keys, n, 30, 60)
    assert min(del_keys.size, ins_keys.size) > 10
    dels = edges_df(spark, del_keys // n, del_keys % n).persist()
    ins = edges_df(spark, ins_keys // n, ins_keys % n).persist()
    monkeypatch.setattr(pagerank_bsp, "DELTA_MAX_BATCH", 10)
    g1 = g0.with_batch(dels, ins, repartition=False)
    try:
        res = pagerank_dynamic_frontier_prune_bsp(g0, g1, dels, ins, q)
        assert g1._bsp_packed[0] is not None, "the full pack did not run"
        new = np.union1d(np.setdiff1d(keys, del_keys), ins_keys)
        s_, d_ = add_self_loops_np(n, new // n, new % n)
        want_keys = np.sort(s_ * n + d_)
        assert np.array_equal(np.sort(_keys(g1.edges.toPandas(), n)), want_keys)
        want, _ = pagerank_numpy(n, s_, d_)
        assert np.abs(res.ranks - want).max() <= 1e-6
    finally:
        for x in (g1, g0, dels, ins):
            x.unpersist()


def test_scratch_registry_and_exit_hooks_stay_flat(spark):
    """Scratch dirs are reaped by one exit hook over a registry of live
    dirs: fast-path DF-P batches (delta spill + loop scratch) whose children
    are unpersisted, and BSP connected components, add no exit hook and
    leave nothing registered."""
    import atexit

    from pagerank_cuda_dynamic_spark.operators import pagerank_bsp
    from pagerank_cuda_dynamic_spark.operators.components_bsp import (
        connected_components_bsp,
    )

    rng = np.random.default_rng(37)
    n = 120
    src = rng.integers(0, n, 500)
    dst = rng.integers(0, n, 500)
    keep = src != dst
    keys = np.unique(src[keep] * n + dst[keep])
    g0 = GraphSnapshot.build(edges_df(spark, keys // n, keys % n), n=n)
    q = pagerank_static_bsp(g0).ranks
    hooks, live = atexit._ncallbacks(), len(pagerank_bsp._LIVE_SCRATCH)
    try:
        for _ in range(5):
            del_keys, ins_keys = _np_batch(rng, keys, n, 3, 8)
            dels = edges_df(spark, del_keys // n, del_keys % n)
            ins = edges_df(spark, ins_keys // n, ins_keys % n)
            g1 = g0.with_batch(dels, ins, repartition=False)
            pagerank_dynamic_frontier_prune_bsp(g0, g1, dels, ins, q)
            assert g1._bsp_packed[0] is None, "delta path not taken"
            g1.unpersist()
            assert atexit._ncallbacks() == hooks
            assert len(pagerank_bsp._LIVE_SCRATCH) == live
        edges = edges_df(spark, keys // n, keys % n)
        for _ in range(5):
            connected_components_bsp(edges, n)
            assert atexit._ncallbacks() == hooks
            assert len(pagerank_bsp._LIVE_SCRATCH) == live
    finally:
        g0.unpersist()
    assert len(pagerank_bsp._LIVE_SCRATCH) == live - 1  # g0's spill


def test_dynamic_bsp_rejects_redistribute(dynamic_batch):
    """DF-P assumes self-looped graphs: dangling="redistribute" is a
    ValueError naming the option, also under python -O."""
    from pagerank_cuda_dynamic_spark.operators.pagerank import PagerankOptions

    g0, g1, dels, ins, q, _ = dynamic_batch
    with pytest.raises(ValueError, match="dangling='redistribute'"):
        pagerank_dynamic_frontier_prune_bsp(
            g0, g1, dels, ins, q, PagerankOptions(dangling="redistribute")
        )


def _pair_frame(spark, pairs):
    a = np.asarray(pairs, np.int64).reshape(-1, 2)
    return spark.createDataFrame(
        pd.DataFrame({"src": a[:, 0], "dst": a[:, 1]}), "src long, dst long"
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_tidy_batch_equals_numpy_sets(spark, data):
    """tidy_batch is exactly D ∩ E and I \\ E over the deduped batch pairs,
    both against the old edge set.  Drawn: duplicates (also in the edge
    table), reversed pairs, (v,v) pairs, an edge in D ∩ I ∩ E (deleted and
    not re-inserted), a pair in D ∩ I \\ E (inserted), and empty sides
    (limit(0), as the streaming driver passes)."""
    n = 6
    pair = st.tuples(st.integers(0, n - 1), st.integers(0, n - 1))
    e = data.draw(st.lists(pair, min_size=1, max_size=20), label="E")
    d = data.draw(st.lists(pair, max_size=12), label="D")
    i = data.draw(st.lists(pair, max_size=12), label="I")
    u, v = e[0]
    d += [(u, v), (v, u), (u, u)]
    i += [(u, v), (v, u), (v, v)]
    outside = [(a, b) for a in range(n) for b in range(n) if (a, b) not in e]
    if outside:
        d.append(outside[0])
        i.append(outside[0])
    empty_d = data.draw(st.booleans(), label="empty D")
    empty_i = data.draw(st.booleans(), label="empty I")
    d_df, i_df = _pair_frame(spark, d), _pair_frame(spark, i)
    if empty_d:
        d, d_df = [], d_df.limit(0)
    if empty_i:
        i, i_df = [], i_df.limit(0)

    def keys(pairs):
        a = np.asarray(pairs, np.int64).reshape(-1, 2)
        return np.unique(a[:, 0] * n + a[:, 1])

    E, D, I = keys(e), keys(d), keys(i)
    dels, ins = tidy_batch(_pair_frame(spark, e), d_df, i_df)
    assert dels.schema == ins.schema == d_df.schema
    got_d, got_i = _keys(dels.toPandas(), n), _keys(ins.toPandas(), n)
    assert np.array_equal(np.sort(got_d), D[np.isin(D, E)])
    assert np.array_equal(np.sort(got_i), I[~np.isin(I, E)])


def test_tidy_batch_rejects_null_edges(spark):
    """A batch edge with a null src or dst is a ValueError with the count
    (the anti-join used to keep a null insertion silently)."""
    edges = edges_df(spark, [0, 1], [1, 2])
    ok = spark.createDataFrame([(0, 1)], "src long, dst long")
    bad = spark.createDataFrame([(1, None), (None, 2), (3, 4)], "src long, dst long")
    for d, i in ((ok, bad), (bad, ok)):
        with pytest.raises(ValueError, match=r"2 edge\(s\) with a null src or dst"):
            tidy_batch(edges, d, i)


def _tidy_frames(spark, edges, d_df, i_df):
    """((dels, ins) as sorted pandas frames, Spark jobs tidy_batch ran)."""
    got, jobs = _count_jobs(spark, lambda: tidy_batch(edges, d_df, i_df))
    return tuple(
        f.toPandas().sort_values(["src", "dst"], ignore_index=True) for f in got
    ), jobs


def _check_spill_tidy(spark, g, E, rng, hubs):
    """tidy_batch on g.edges (E: its edge keys src·n+dst) takes the spill
    route in the raw-batch collect alone and returns exactly D ∩ E and
    I \\ E; g.edges.select(...) takes the Spark scan and returns the same
    frames.  The batch holds duplicate pairs, (v,v) pairs, an edge in
    D ∩ I ∩ E, pairs absent from E and pairs into the salted hubs."""
    n = g.n
    edges = g.edges  # derived (and cached) outside the counted calls
    into_hubs = E[np.isin(E % n, hubs)]
    d = np.concatenate([
        E[rng.integers(0, E.size, 30)], into_hubs[:10], into_hubs[:3],
        rng.integers(0, n, 15) * n + rng.integers(0, n, 15), [5 * n + 5],
    ])
    i = np.concatenate([
        rng.integers(0, n, 40) * n + rng.integers(0, n, 40),
        rng.integers(0, n, 10) * n + np.resize(hubs, 10),
        E[rng.integers(0, E.size, 5)], d[:1], d[:1], [7 * n + 7],
    ])
    d_df, i_df = edges_df(spark, d // n, d % n), edges_df(spark, i // n, i % n)
    (dels, ins), jobs = _tidy_frames(spark, edges, d_df, i_df)
    assert jobs == 1, jobs  # the raw-batch collect only
    D, I = np.unique(d), np.unique(i)
    assert np.array_equal(_keys(dels, n), D[np.isin(D, E)])
    assert np.array_equal(_keys(ins, n), I[~np.isin(I, E)])
    assert d[0] in E and not (ins["src"] * n + ins["dst"] == d[0]).any()
    spark_route, spark_jobs = _tidy_frames(spark, edges.select("src", "dst"), d_df, i_df)
    assert spark_jobs > jobs, spark_jobs
    for a, b in zip((dels, ins), spark_route):
        assert a.equals(b)


def test_tidy_batch_spill_route_equals_numpy_sets(spark, monkeypatch):
    """tidy_batch handed a packed snapshot's cached edges answers hasEdge
    from the stripe spill on the driver: exactly D ∩ E and I \\ E, in one
    Spark job, on a full pack with salted hubs, on a delta child's edges
    and on a child whose delta pack declined, with the same frames as the
    Spark scan of a derived frame."""
    from pagerank_cuda_dynamic_spark.operators import pagerank_bsp

    from .oracle import add_self_loops_np

    rng = np.random.default_rng(71)
    n = 600
    src = rng.integers(0, n, 6000)
    dst = (rng.zipf(1.3, 6000) % n).astype(np.int64)
    g0 = GraphSnapshot.build(edges_df(spark, src, dst), n=n)
    g1 = g2 = None
    try:
        _, _, _, hubs = g0.bsp_packed(hub_factor=0.3)
        assert hubs.size > 0, "the fixture must exercise the salted-hub route"
        s_, d_ = add_self_loops_np(n, src, dst)
        E0 = s_ * n + d_
        _check_spill_tidy(spark, g0, E0, rng, hubs)
        del_keys, ins_keys = _np_batch(rng, E0[E0 // n != E0 % n], n, 20, 40)
        dels = edges_df(spark, del_keys // n, del_keys % n).localCheckpoint()
        ins = edges_df(spark, ins_keys // n, ins_keys % n).localCheckpoint()
        g1 = g0.with_batch(dels, ins, repartition=False)
        g1.bsp_packed()
        assert g1._bsp_packed[0] is None, "delta path not taken"
        E1 = np.union1d(np.setdiff1d(E0, del_keys), ins_keys)
        _check_spill_tidy(spark, g1, E1, rng, hubs)
        monkeypatch.setattr(pagerank_bsp, "DELTA_MAX_BATCH", 1)
        g2 = g0.with_batch(dels, ins, repartition=False)
        g2.bsp_packed(hub_factor=0.3)
        assert g2._bsp_packed[0] is not None, "the delta pack did not decline"
        _check_spill_tidy(spark, g2, E1, rng, g2._bsp_packed[3])
    finally:
        for x in (g2, g1, g0):
            if x is not None:
                x.unpersist()


def test_tidy_batch_routes_agree_on_out_of_range_ids(spark):
    """A batch pair with an id outside [0, n) is not in E on both probe
    routes, though its src·n+dst key aliases an edge ((2, 1-n) is the key
    of the self-loop (1, 1), and routes to the same stripe): its deletion
    is dropped, its insertion kept, and the delta pack then rejects it."""
    n = 60
    rng = np.random.default_rng(5)
    g = GraphSnapshot.build(
        edges_df(spark, rng.integers(0, n, 300), rng.integers(0, n, 300)), n=n
    )
    try:
        e = g.edges.toPandas()  # cached before the pack, which then reads it
        g.bsp_packed()
        out = [(1, -1), (2, 1 - n), (1, n), (-1, 1), (n, n - 1)]
        bad = pd.DataFrame(out, columns=["src", "dst"])
        ok = e[e.src != e.dst].head(4)
        d_df = spark.createDataFrame(pd.concat([bad, ok]), "src long, dst long")
        i_df = spark.createDataFrame(pd.concat([bad, ok]), "src long, dst long")
        spill, _ = _tidy_frames(spark, g.edges, d_df, i_df)
        scan, _ = _tidy_frames(spark, g.edges.select("src", "dst"), d_df, i_df)
        for a, b in zip(spill, scan):
            assert a.equals(b)
        dels, ins = spill
        assert np.array_equal(_keys(dels, n), np.sort(_keys(ok, n)))
        assert set(zip(ins["src"], ins["dst"])) == set(out)
        dels, ins = tidy_batch(g.edges, d_df, i_df)
        g1 = g.with_batch(dels, ins, repartition=False)
        with pytest.raises(ValueError, match=r"5 edge\(s\) with a vertex id outside"):
            g1.bsp_packed()
    finally:
        g.unpersist()


def _ranked_base(spark, seed: int, n: int, m: int):
    """(edge keys src·n+dst without self-loops, packed snapshot, its ranks)."""
    rng = np.random.default_rng(seed)
    src, dst = rng.integers(0, n, m), rng.integers(0, n, m)
    keep = src != dst
    keys = np.unique(src[keep] * n + dst[keep])
    g = GraphSnapshot.build(edges_df(spark, keys // n, keys % n), n=n)
    g.bsp_packed()
    return rng, keys, g, pagerank_static_bsp(g).ranks


def test_fast_path_dfp_batch_job_budget(spark):
    """One raw batch as the stream-dfp benchmark runs it: tidy_batch and
    two localCheckpoints, with_batch(repartition=False), the delta pack and
    DF-P.  At most 5 Spark jobs in all, exactly 3 of them for the tidy and
    its checkpoints (the probe reads the parent's spill on the driver); the
    ranks match the NumPy oracle on the new graph."""
    from .oracle import add_self_loops_np, pagerank_numpy

    n = 300
    rng, keys, g0, q = _ranked_base(spark, 43, n, 2000)
    del_raw = keys[rng.integers(0, keys.size, 8)]
    ins_raw = rng.integers(0, n, 30) * n + rng.integers(0, n, 30)
    del_df = edges_df(spark, del_raw // n, del_raw % n)
    ins_df = edges_df(spark, ins_raw // n, ins_raw % n)

    def tidy():
        d, i = tidy_batch(g0.edges, del_df, ins_df)
        return d.localCheckpoint(), i.localCheckpoint()

    def apply_and_rank(d, i):
        g1 = g0.with_batch(d, i, repartition=False)
        g1.bsp_packed()
        return g1, pagerank_dynamic_frontier_prune_bsp(g0, g1, d, i, q)

    (dels, ins), tidy_jobs = _count_jobs(spark, tidy)
    (g1, res), rest_jobs = _count_jobs(spark, lambda: apply_and_rank(dels, ins))
    try:
        assert tidy_jobs == 3, tidy_jobs
        assert tidy_jobs + rest_jobs <= 5, (tidy_jobs, rest_jobs)
        s0, d0 = add_self_loops_np(n, keys // n, keys % n)
        old = s0 * n + d0
        dk, ik = np.unique(del_raw), np.unique(ins_raw)
        new = np.union1d(np.setdiff1d(old, dk[np.isin(dk, old)]), ik)
        want, _ = pagerank_numpy(n, new // n, new % n)
        assert np.abs(res.ranks - want).max() <= 1e-6
    finally:
        g1.unpersist()
        g0.unpersist()


def test_build_runs_no_job_and_pack_fits_budget(spark):
    """GraphSnapshot.build runs no Spark job; build + the full pack run at
    most 8 on an unpersisted many-partition raw plan; and the first batch
    tidy on the packed snapshot (tidy_batch and its two localCheckpoints,
    as the stream-dfp benchmark runs it) probes the pack's spill on the
    driver: 3 jobs, the raw-batch collect and the two checkpoints."""
    from functools import reduce

    rng = np.random.default_rng(53)
    n = 400
    frames = [
        edges_df(spark, rng.integers(0, n, 300), rng.integers(0, n, 300)).coalesce(2)
        for _ in range(8)
    ]
    raw = reduce(lambda a, b: a.unionByName(b), frames)
    g, build_jobs = _count_jobs(spark, lambda: GraphSnapshot.build(raw, n=n))
    _, pack_jobs = _count_jobs(spark, g.bsp_packed)
    keys = rng.integers(0, n, 30) * n + rng.integers(0, n, 30)

    def tidy():
        d, i = tidy_batch(
            g.edges,
            edges_df(spark, keys[:10] // n, keys[:10] % n),
            edges_df(spark, keys[10:] // n, keys[10:] % n),
        )
        return d.localCheckpoint(), i.localCheckpoint()

    try:
        assert build_jobs == 0
        assert build_jobs + pack_jobs <= 8, pack_jobs
        _, tidy_jobs = _count_jobs(spark, tidy)
        assert tidy_jobs == 3, tidy_jobs
    finally:
        g.unpersist()


def test_delta_pack_driver_and_job_routes_agree(spark, monkeypatch):
    """delta_pack merges on the driver when the touched stripes hold at
    most STRIPE_EDGES edges, and in one Spark job otherwise.  Both routes
    write byte-equal child stripe records, keep exact per-stripe edge
    counts, and give equal out-degrees and bit-equal DF-P ranks; the driver
    route runs only the batch collect inside bsp_packed()."""
    import pickle
    from pathlib import Path

    from pagerank_cuda_dynamic_spark.operators import pagerank_bsp

    n = 300
    rng, keys, g0, q = _ranked_base(spark, 61, n, 2000)
    del_keys, ins_keys = _np_batch(rng, keys, n, 10, 30)
    dels = edges_df(spark, del_keys // n, del_keys % n).localCheckpoint()
    ins = edges_df(spark, ins_keys // n, ins_keys % n).localCheckpoint()
    out = {}
    try:
        for route, budget in (("driver", pagerank_bsp.STRIPE_EDGES), ("job", 0)):
            monkeypatch.setattr(pagerank_bsp, "STRIPE_EDGES", budget)
            g1 = g0.with_batch(dels, ins, repartition=False)
            try:
                _, jobs = _count_jobs(spark, g1.bsp_packed)
                spill = Path(g1._bsp_spill)
                records = {p.name: p.read_bytes() for p in spill.glob("s*.pkl")}
                counts = pickle.loads((spill / "META.pkl").read_bytes())["edge_counts"]
                res = pagerank_dynamic_frontier_prune_bsp(g0, g1, dels, ins, q)
                out[route] = (jobs, records, counts, g1.outdeg_array(), res.ranks)
                e = g1.edges.toPandas()
            finally:
                g1.unpersist()
            assert counts.sum() == len(e)
        assert (out["driver"][0], out["job"][0]) == (1, 2)
        drv, job = out["driver"], out["job"]
        assert len(drv[1]) > 1 and drv[1] == job[1]
        for a, b in zip(drv[2:], job[2:]):
            assert np.array_equal(a, b)
    finally:
        g0.unpersist()


def test_df_seeds_from_child_arrays_bit_equal_collect(spark):
    """DF and DF-P seed from the batch arrays the child's delta pack kept
    when they get the same two frames (the loop's job only), and from one
    collect otherwise.  Both routes give bit-equal ranks, iterations,
    affected_initial, final vaff and movers; the batch has a (v,v)
    deletion, whose src is a seed."""
    n = 300
    rng, keys, g0, q = _ranked_base(spark, 47, n, 2000)
    del_keys = np.concatenate([[7 * n + 7], keys[rng.integers(0, keys.size, 10)]])
    ins_keys = rng.integers(0, n, 30) * n + rng.integers(0, n, 30)
    dels, ins = tidy_batch(
        g0.edges,
        edges_df(spark, del_keys // n, del_keys % n),
        edges_df(spark, ins_keys // n, ins_keys % n),
    )
    dels, ins = dels.localCheckpoint(), ins.localCheckpoint()
    g1 = g0.with_batch(dels, ins, repartition=False)
    g1.bsp_packed()
    try:
        assert g1._batch[0] is dels and g1._batch[1] is ins
        assert ((g1._batch[2] == 7) & (g1._batch[3] == 7) & g1._batch[4]).any()
        for entry in (pagerank_dynamic_frontier_bsp, pagerank_dynamic_frontier_prune_bsp):
            kept, kept_jobs = _count_jobs(spark, lambda: entry(g0, g1, dels, ins, q))
            # equal frames, other objects: the seeds are collected
            coll, coll_jobs = _count_jobs(
                spark,
                lambda: entry(g0, g1, dels.select("src", "dst"), ins.select("src", "dst"), q),
            )
            assert (kept_jobs, coll_jobs) == (1, 2), entry.__name__
            assert kept.iterations == coll.iterations
            assert kept.affected_initial == coll.affected_initial
            assert np.array_equal(kept.ranks, coll.ranks)
            for k in ("vaff", "movers"):
                assert np.array_equal(kept.state[k], coll.state[k]), k
    finally:
        g1.unpersist()
        g0.unpersist()
    assert g1._batch is None
