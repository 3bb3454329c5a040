"""HITS / personalized PageRank / k-core vs NumPy oracles on micro-graphs.

Each Spark operator (operators/centrality.py — pure joinagg supersteps)
is checked against a literal NumPy transcription of the same recurrence,
then against structural invariants (L2 norms, mass conservation,
fixpoint idempotence, early-stop-vs-cap equivalence).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from pagerank_cuda_dynamic_spark.operators.centrality import (
    hits,
    k_core,
    personalized_pagerank,
)


def _edges(spark, pairs):
    return spark.createDataFrame(
        pd.DataFrame(pairs, columns=["src", "dst"]).astype(str)
    )


def _np_hits(pairs, n_iter):
    verts = sorted({u for u, _ in pairs} | {v for _, v in pairs})
    idx = {v: i for i, v in enumerate(verts)}
    E = [(idx[u], idx[v]) for u, v in pairs if u != v]
    n = len(verts)
    h = np.full(n, 1.0 / math.sqrt(n))
    a = np.zeros(n)
    for _ in range(n_iter):
        a = np.zeros(n)
        for u, v in E:
            a[v] += h[u]
        norm = np.sqrt((a * a).sum())
        if norm:
            a = a / norm
        h = np.zeros(n)
        for u, v in E:
            h[u] += a[v]
        norm = np.sqrt((h * h).sum())
        if norm:
            h = h / norm
    return verts, a, h


def _np_ppr(pairs, seeds, damping, n_iter):
    verts = sorted({u for u, _ in pairs} | {v for _, v in pairs})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    E = sorted({(idx[u], idx[v]) for u, v in pairs} | {(i, i) for i in range(n)})
    outdeg = np.zeros(n)
    for u, _ in E:
        outdeg[u] += 1
    p = np.zeros(n)
    for s in seeds:
        p[idx[s]] = 1.0 / len(seeds)
    r = p.copy()
    for _ in range(n_iter):
        nxt = (1.0 - damping) * p
        for u, v in E:
            nxt[v] += damping * r[u] / outdeg[u]
        r = nxt
    return verts, r


def _np_kcore(pairs, k):
    und = {(u, v) for u, v in pairs if u != v}
    und |= {(v, u) for u, v in und}
    while True:
        deg = {}
        for u, _ in und:
            deg[u] = deg.get(u, 0) + 1
        keep = {v for v, d in deg.items() if d >= k}
        nxt = {(u, v) for u, v in und if u in keep and v in keep}
        if nxt == und:
            break
        und = nxt
    deg = {}
    for u, _ in und:
        deg[u] = deg.get(u, 0) + 1
    return deg


DIGRAPH = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"),
    ("d", "b"), ("e", "d"), ("c", "e"), ("e", "a"), ("b", "e"),
    ("f", "a"), ("a", "f"), ("g", "c"),  # g: pure hub; f: 2-cycle
]


def test_hits_matches_numpy(spark):
    res = hits(_edges(spark, DIGRAPH), iterations=12).toPandas()
    verts, a, h = _np_hits(DIGRAPH, 12)
    res = res.set_index("v").loc[verts]
    assert np.allclose(res["auth"].to_numpy(), a, atol=1e-12)
    assert np.allclose(res["hub"].to_numpy(), h, atol=1e-12)


def test_hits_l2_normalized(spark):
    res = hits(_edges(spark, DIGRAPH), iterations=5).toPandas()
    assert abs((res["auth"] ** 2).sum() - 1.0) < 1e-12
    assert abs((res["hub"] ** 2).sum() - 1.0) < 1e-12


def test_hits_self_loops_ignored(spark):
    with_loops = DIGRAPH + [("a", "a"), ("d", "d")]
    res1 = hits(_edges(spark, DIGRAPH), iterations=8).toPandas()
    res2 = hits(_edges(spark, with_loops), iterations=8).toPandas()
    m = res1.merge(res2, on="v", suffixes=("", "_l"))
    assert np.allclose(m["auth"], m["auth_l"], atol=1e-12)
    assert np.allclose(m["hub"], m["hub_l"], atol=1e-12)


def test_hits_pure_source_sink(spark):
    # star: s -> {t1,t2,t3}; s is the only hub, targets share authority
    pairs = [("s", "t1"), ("s", "t2"), ("s", "t3")]
    res = hits(_edges(spark, pairs), iterations=6).toPandas().set_index("v")
    assert res.loc["s", "auth"] == 0.0
    assert abs(res.loc["s", "hub"] - 1.0) < 1e-12
    for t in ("t1", "t2", "t3"):
        assert abs(res.loc[t, "auth"] - 1.0 / math.sqrt(3)) < 1e-12
        assert res.loc[t, "hub"] == 0.0


def test_ppr_matches_numpy(spark):
    seeds = ["a", "d"]
    res = personalized_pagerank(
        _edges(spark, DIGRAPH),
        spark.createDataFrame(pd.DataFrame({"v": seeds})),
        damping=0.85,
        iterations=25,
    ).toPandas()
    verts, r = _np_ppr(DIGRAPH, seeds, 0.85, 25)
    res = res.set_index("v").loc[verts]
    assert np.allclose(res["rank"].to_numpy(), r, atol=1e-12)


def test_ppr_mass_conserved(spark):
    res = personalized_pagerank(
        _edges(spark, DIGRAPH),
        spark.createDataFrame(pd.DataFrame({"v": ["b"]})),
        iterations=40,
    ).toPandas()
    # universal self-loops -> no dangling mass; Σ rank = 1 exactly
    assert abs(res["rank"].sum() - 1.0) < 1e-12


def test_ppr_localizes_on_seed_neighborhood(spark):
    # two disjoint triangles; seeding one leaves the other at rank 0
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z"), ("z", "x")]
    res = personalized_pagerank(
        _edges(spark, pairs),
        spark.createDataFrame(pd.DataFrame({"v": ["a"]})),
        iterations=20,
    ).toPandas().set_index("v")
    assert res.loc[["a", "b", "c"], "rank"].min() > 0
    assert res.loc[["x", "y", "z"], "rank"].max() == 0.0


def test_trustrank_spam_mass_matches_numpy(spark):
    from pagerank_cuda_dynamic_spark.operators.centrality import (
        trustrank_spam_mass,
    )

    trusted = ["a", "d"]
    res = (
        trustrank_spam_mass(
            _edges(spark, DIGRAPH),
            spark.createDataFrame(pd.DataFrame({"v": trusted})),
            damping=0.85,
            iterations=20,
        )
        .toPandas()
        .set_index("v")
    )
    verts, t = _np_ppr(DIGRAPH, trusted, 0.85, 20)
    _, r = _np_ppr(DIGRAPH, verts, 0.85, 20)
    res = res.loc[verts]
    assert np.allclose(res["rank"].to_numpy(), r, atol=1e-12)
    assert np.allclose(res["trust"].to_numpy(), t, atol=1e-12)
    assert np.allclose(res["spam_mass"].to_numpy(), (r - t) / r, atol=1e-12)


def test_trustrank_untrusted_component_is_all_spam(spark):
    from pagerank_cuda_dynamic_spark.operators.centrality import (
        trustrank_spam_mass,
    )

    # two disjoint triangles; trust seeded in one ⇒ the other gets
    # trust 0 and spam_mass exactly 1, and both columns each sum to 1
    pairs = [("a", "b"), ("b", "c"), ("c", "a"),
             ("x", "y"), ("y", "z"), ("z", "x")]
    res = (
        trustrank_spam_mass(
            _edges(spark, pairs),
            spark.createDataFrame(pd.DataFrame({"v": ["a"]})),
            iterations=20,
        )
        .toPandas()
        .set_index("v")
    )
    assert abs(res["rank"].sum() - 1.0) < 1e-12
    assert abs(res["trust"].sum() - 1.0) < 1e-12
    assert (res.loc[["x", "y", "z"], "trust"] == 0.0).all()
    assert (res.loc[["x", "y", "z"], "spam_mass"] == 1.0).all()
    assert (res.loc[["a", "b", "c"], "spam_mass"] < 1.0).all()


def _np_absorb(pairs, targets, rounds):
    verts = sorted({u for u, _ in pairs} | {v for _, v in pairs})
    out: dict[str, set[str]] = {}
    for u, v in pairs:
        if u != v:
            out.setdefault(u, set()).add(v)
    h = {v: 1.0 if v in targets else 0.0 for v in verts}
    for _ in range(rounds):
        h = {
            v: 1.0
            if v in targets
            else (sum(h[u] for u in out[v]) / len(out[v]) if v in out else 0.0)
            for v in verts
        }
    return verts, np.array([h[v] for v in verts])


def test_absorption_matches_numpy(spark):
    from pagerank_cuda_dynamic_spark.operators.centrality import (
        absorption_probability,
    )

    targets = ["c", "f"]
    res = (
        absorption_probability(
            _edges(spark, DIGRAPH),
            spark.createDataFrame(pd.DataFrame({"v": targets})),
            rounds=5,
        )
        .toPandas()
        .set_index("v")
    )
    verts, want = _np_absorb(DIGRAPH, set(targets), 5)
    assert np.allclose(res.loc[verts, "p_absorb"].to_numpy(), want, atol=1e-12)


def test_absorption_chain_and_branch(spark):
    from pagerank_cuda_dynamic_spark.operators.centrality import (
        absorption_probability,
    )

    # chain a→b→c→t: the wavefront reaches a only at round 3;
    # branch v→{t, dead}: one of two walks absorbs ⇒ exactly 0.5
    pairs = [("a", "b"), ("b", "c"), ("c", "t"), ("v", "t"), ("v", "dead")]
    t = spark.createDataFrame(pd.DataFrame({"v": ["t"]}))
    r2 = (
        absorption_probability(_edges(spark, pairs), t, rounds=2)
        .toPandas()
        .set_index("v")
    )
    assert r2.loc["a", "p_absorb"] == 0.0
    assert r2.loc["b", "p_absorb"] == 1.0
    r3 = (
        absorption_probability(_edges(spark, pairs), t, rounds=3)
        .toPandas()
        .set_index("v")
    )
    assert r3.loc["a", "p_absorb"] == 1.0
    assert r3.loc["v", "p_absorb"] == 0.5
    assert r3.loc["dead", "p_absorb"] == 0.0
    assert r3.loc["t", "p_absorb"] == 1.0


def test_absorption_rejects_bad_targets(spark):
    from pagerank_cuda_dynamic_spark.operators.centrality import (
        absorption_probability,
    )

    e = _edges(spark, DIGRAPH)
    with pytest.raises(ValueError):
        absorption_probability(e, spark.createDataFrame([], "v string"))
    with pytest.raises(ValueError):
        absorption_probability(
            e, spark.createDataFrame(pd.DataFrame({"v": ["nope"]}))
        )


def test_ppr_rejects_bad_seeds(spark):
    e = _edges(spark, DIGRAPH)
    with pytest.raises(ValueError):
        personalized_pagerank(
            e, spark.createDataFrame(pd.DataFrame({"v": ["nope"]}))
        )
    with pytest.raises(ValueError):
        personalized_pagerank(e, spark.createDataFrame([], "v string"))


# clique of 5 (each deg 4) + a pendant chain hanging off it
CLIQUE_CHAIN = [
    (a, b)
    for i, a in enumerate("kqrst")
    for b in "kqrst"[i + 1:]
] + [("k", "c1"), ("c1", "c2"), ("c2", "c3")]


def test_kcore_clique_vs_numpy(spark):
    for k in (2, 3, 4, 5):
        res = k_core(_edges(spark, CLIQUE_CHAIN), k=k).toPandas()
        want = _np_kcore(CLIQUE_CHAIN, k)
        got = dict(zip(res["v"], res["deg"]))
        assert got == want, (k, got, want)


def test_kcore_three_keeps_only_clique(spark):
    res = k_core(_edges(spark, CLIQUE_CHAIN), k=3).toPandas()
    assert sorted(res["v"]) == sorted("kqrst")
    assert (res["deg"] == 4).all()


def test_kcore_above_max_degree_empty(spark):
    assert k_core(_edges(spark, CLIQUE_CHAIN), k=6).count() == 0


def test_kcore_cap_equals_fixpoint(spark):
    # long chain: peel at k=2 erodes one vertex per round from each end;
    # a cap >= convergence rounds must equal the uncapped fixpoint
    chain = [(f"v{i}", f"v{i+1}") for i in range(12)]
    full = k_core(_edges(spark, chain), k=2, max_rounds=50).toPandas()
    capped = k_core(_edges(spark, chain), k=2, max_rounds=7).toPandas()
    assert len(full) == 0 and len(capped) == 0
    # and on a graph WITH a surviving core the results agree row-for-row
    full = k_core(_edges(spark, CLIQUE_CHAIN), k=3, max_rounds=50).toPandas()
    capped = k_core(_edges(spark, CLIQUE_CHAIN), k=3, max_rounds=3).toPandas()
    assert sorted(map(tuple, full.values.tolist())) == sorted(
        map(tuple, capped.values.tolist())
    )


def test_kcore_direction_erased(spark):
    # reversed edge list gives the identical core
    rev = [(b, a) for a, b in CLIQUE_CHAIN]
    r1 = k_core(_edges(spark, CLIQUE_CHAIN), k=3).toPandas()
    r2 = k_core(_edges(spark, rev), k=3).toPandas()
    assert sorted(map(tuple, r1.values.tolist())) == sorted(
        map(tuple, r2.values.tolist())
    )


def test_kcore_rejects_bad_k(spark):
    with pytest.raises(ValueError):
        k_core(_edges(spark, CLIQUE_CHAIN), k=0)


# ---------------------------------------------------------------------------
# salsa
# ---------------------------------------------------------------------------


def _np_salsa(pairs, n_iter):
    verts = sorted({u for u, _ in pairs} | {v for _, v in pairs})
    idx = {v: i for i, v in enumerate(verts)}
    E = sorted({(idx[u], idx[v]) for u, v in pairs if u != v})
    n = len(verts)
    ind = np.zeros(n)
    outd = np.zeros(n)
    for u, v in E:
        ind[v] += 1
        outd[u] += 1
    n_auth = int((ind > 0).sum())
    a = np.where(ind > 0, 1.0 / n_auth, 0.0)
    h = np.zeros(n)
    for _ in range(n_iter):
        h = np.zeros(n)
        for u, v in E:
            h[u] += a[v] / ind[v]
        a = np.zeros(n)
        for u, v in E:
            a[v] += h[u] / outd[u]
    return verts, a, h


SALSA_GRAPH = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
    ("d", "c"), ("d", "b"), ("e", "e"), ("e", "a"),
]


def test_salsa_matches_numpy(spark):
    from pagerank_cuda_dynamic_spark.operators.centrality import salsa

    got = salsa(_edges(spark, SALSA_GRAPH), iterations=7).toPandas()
    verts, a, h = _np_salsa(SALSA_GRAPH, 7)
    got = got.set_index("v").loc[verts]
    assert np.allclose(got["auth"].to_numpy(), a, atol=1e-12)
    assert np.allclose(got["hub"].to_numpy(), h, atol=1e-12)


def test_salsa_preserves_mass(spark):
    from pagerank_cuda_dynamic_spark.operators.centrality import salsa

    got = salsa(_edges(spark, SALSA_GRAPH), iterations=5).toPandas()
    assert abs(got["auth"].sum() - 1.0) < 1e-12
    assert abs(got["hub"].sum() - 1.0) < 1e-12


def test_salsa_connected_stationary_is_indegree(spark):
    # On a connected authority-side support, SALSA's stationary authority
    # weight is indeg(v)/|E| (Lempel-Moran Thm 2) — the iteration must
    # land there.
    from pagerank_cuda_dynamic_spark.operators.centrality import salsa

    pairs = [("a", "b"), ("c", "b"), ("c", "d"), ("a", "d"), ("b", "d")]
    got = (
        salsa(_edges(spark, pairs), iterations=60)
        .toPandas()
        .set_index("v")["auth"]
    )
    m = len(pairs)
    assert abs(got["b"] - 2 / m) < 1e-9
    assert abs(got["d"] - 3 / m) < 1e-9


def test_ppr_family_rejects_empty_graph(spark):
    """_ppr_multi guards n_verts == 0: both the seeded wrapper and the
    trustrank uniform path must raise a contextual ValueError instead of
    ZeroDivisionError on an edgeless input."""
    import pandas as pd
    from pagerank_cuda_dynamic_spark.operators.centrality import (
        personalized_pagerank,
        trustrank_spam_mass,
    )

    empty = spark.createDataFrame(
        pd.DataFrame({"src": [], "dst": []}), schema="src string, dst string"
    )
    seeds = spark.createDataFrame(pd.DataFrame({"v": ["a"]}))
    with pytest.raises(ValueError, match="no vertices"):
        personalized_pagerank(empty, seeds)
    with pytest.raises(ValueError, match="no vertices"):
        trustrank_spam_mass(empty, seeds)


def test_ppr_and_absorption_unpersist_on_any_failure(spark):
    """A seed / target frame that fails with something other than a
    ValueError (here a Python UDF raising inside count()) must still
    release the cached edge and vertex frames."""
    from pyspark.sql import functions as F

    from pagerank_cuda_dynamic_spark.operators.centrality import (
        absorption_probability,
    )

    @F.udf("string")
    def boom(x):
        raise RuntimeError("boom")

    bad = spark.range(1).select(boom("id").alias("v"))
    e = _edges(spark, DIGRAPH)
    jsc = spark.sparkContext._jsc
    for fn in (personalized_pagerank, absorption_probability):
        before = jsc.getPersistentRDDs().size()
        with pytest.raises(Exception) as info:
            fn(e, bad)
        assert not isinstance(info.value, ValueError)
        assert jsc.getPersistentRDDs().size() == before
