"""Dynamic graph maintenance: incremental/decremental connected components,
incremental triangle count, and coreness (h-index iteration) — each checked
against a from-scratch recompute, the NumPy oracle (tests/oracle.py) or a
pure-Python reference."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from pagerank_cuda_dynamic_spark.operators.components import (
    connected_components_decremental,
    connected_components_incremental,
    connected_components_joinagg,
    triangle_count,
    triangle_count_incremental,
)
from pagerank_cuda_dynamic_spark.operators.centrality import coreness

from .conftest import edges_df
from .oracle import components_numpy


def _rand_graph(seed, n, m):
    rng = np.random.default_rng(seed)
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    keep = src != dst
    return src[keep].tolist(), dst[keep].tolist()


def _labels(spark, src, dst, n):
    return connected_components_joinagg(edges_df(spark, src, dst), n)


def _as_dict(df):
    return {r.v: r.component for r in df.collect()}


def test_cc_incremental_matches_recompute(spark):
    n = 40
    src, dst = _rand_graph(3, n, 25)  # sparse → many components
    bsrc, bdst = _rand_graph(4, n, 12)
    base = _labels(spark, src, dst, n)
    got = _as_dict(
        connected_components_incremental(base, edges_df(spark, bsrc, bdst))
    )
    want = dict(enumerate(components_numpy(n, src + bsrc, dst + bdst).tolist()))
    assert got == want


def test_cc_incremental_new_vertices_and_chain_merge(spark):
    # base: two components {0,1} and {2,3}; batch chains them through a
    # brand-new vertex 9 and adds an isolated new pair (7,8)
    base = _labels(spark, [0, 2], [1, 3], 4)
    batch = edges_df(spark, [1, 9, 7], [9, 2, 8])
    got = _as_dict(connected_components_incremental(base, batch))
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 9: 0, 7: 7, 8: 7}


def test_cc_decremental_splits_component(spark):
    # line 0-1-2-3-4 plus separate pair (5,6); delete edge (2,3): the line
    # splits into {0,1,2} and {3,4}; the pair's component must pass through
    src = [0, 1, 2, 3, 5]
    dst = [1, 2, 3, 4, 6]
    e = edges_df(spark, src, dst)
    labels = _labels(spark, src, dst, 7)
    got = _as_dict(
        connected_components_decremental(e, labels, edges_df(spark, [2], [3]))
    )
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 5}


def test_cc_decremental_matches_recompute(spark):
    n = 30
    src, dst = _rand_graph(7, n, 60)
    e = edges_df(spark, src, dst)
    labels = _labels(spark, src, dst, n)
    # deterministic deletion of every 4th distinct edge
    pairs = sorted({(s, d) for s, d in zip(src, dst)})
    dels = pairs[::4]
    remaining = [p for p in pairs if p not in set(dels)]
    got = _as_dict(
        connected_components_decremental(
            e, labels, edges_df(spark, [s for s, _ in dels], [d for _, d in dels])
        )
    )
    want = components_numpy(n, [s for s, _ in remaining], [d for _, d in remaining])
    assert got == dict(enumerate(want.tolist()))


def test_triangle_incremental_matches_recount(spark):
    n = 25
    src, dst = _rand_graph(11, n, 80)
    bsrc, bdst = _rand_graph(12, n, 30)
    got = triangle_count_incremental(
        edges_df(spark, src, dst), edges_df(spark, bsrc, bdst)
    ).collect()[0]["n_triangles"]
    want = triangle_count(edges_df(spark, src + bsrc, dst + bdst)).collect()[0][
        "n_triangles"
    ]
    assert got == want


def test_triangle_incremental_batch_overlap_and_multi_new(spark):
    # old: path 0-1-2; batch: closes the triangle AND re-inserts an existing
    # edge (must be tidied away) AND adds two edges forming a second
    # triangle that uses TWO new edges (dedup on the sorted triple)
    old = edges_df(spark, [0, 1], [1, 2])
    batch = edges_df(spark, [2, 0, 1, 3], [0, 1, 3, 2])
    got = triangle_count_incremental(old, batch).collect()[0]["n_triangles"]
    # union graph: triangle {0,1,2} and {1,2,3}
    assert got == 2


def test_coreness_matches_peel(spark):
    # hand graph: a K4 on {0,1,2,3} (coreness 3) with a pendant vertex 4
    # (coreness 1), a separate triangle {5,6,7} (coreness 2), and a
    # pendant 8 hanging off the triangle (coreness 1)
    src = [0, 0, 0, 1, 1, 2, 3, 5, 5, 6, 7]
    dst = [1, 2, 3, 2, 3, 3, 4, 6, 7, 7, 8]
    got = {r.v: r.coreness for r in coreness(edges_df(spark, src, dst), 10).collect()}
    want = {0: 3, 1: 3, 2: 3, 3: 3, 4: 1, 5: 2, 6: 2, 7: 2, 8: 1}
    assert got == want


def test_coreness_random_matches_networkx_style_peel(spark):
    n = 30
    src, dst = _rand_graph(21, n, 120)
    got = {r.v: r.coreness for r in coreness(edges_df(spark, src, dst), 30).collect()}

    # exact peel: repeatedly remove min-degree vertex; coreness = max degree
    # seen at removal time (standard degeneracy-ordering algorithm)
    pairs = {(s, d) for s, d in zip(src, dst) if s != d}
    adj: dict[int, set[int]] = {}
    for s, d in pairs:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    live = {v: set(ns) for v, ns in adj.items()}
    want = {}
    k = 0
    while live:
        v = min(live, key=lambda u: (len(live[u]), u))
        k = max(k, len(live[v]))
        want[v] = k
        for u in live[v]:
            live[u].discard(v)
        del live[v]
    assert got == want


def _py_louvain(pairs, rounds):
    """Pure-Python replica of louvain_moves (identical integer scores,
    tie-breaks, and even-down/odd-up direction alternation)."""
    und = set()
    for s, d in pairs:
        if s != d:
            und.add((s, d))
            und.add((d, s))
    adj: dict[int, set[int]] = {}
    for s, d in und:
        adj.setdefault(s, set()).add(d)
    verts = set(adj)
    deg = {v: len(adj[v]) for v in verts}
    two_m = sum(deg.values())
    c = {v: v for v in verts}
    for t in range(rounds):
        stot: dict[int, int] = {}
        for v in verts:
            stot[c[v]] = stot.get(c[v], 0) + deg[v]
        newc = {}
        for v in verts:
            k: dict[int, int] = {}
            for u in adj[v]:
                k[c[u]] = k.get(c[u], 0) + 1
            k.setdefault(c[v], 0)
            allowed = {
                cc: kk
                for cc, kk in k.items()
                if cc == c[v] or (cc < c[v] if t % 2 == 0 else cc > c[v])
            }
            scores = {
                cc: two_m * kk - deg[v] * (stot[cc] - (deg[v] if cc == c[v] else 0))
                for cc, kk in allowed.items()
            }
            best_cc, best_sc = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[0]
            if best_sc > scores[c[v]]:
                newc[v] = best_cc
            else:
                newc[v] = c[v]
        c = newc
    return c


def test_louvain_matches_python_replica(spark):
    from pagerank_cuda_dynamic_spark.operators.components import louvain_moves

    n = 40
    src, dst = _rand_graph(31, n, 120)
    got = {
        r.v: r.community
        for r in louvain_moves(edges_df(spark, src, dst), rounds=3).collect()
    }
    want = _py_louvain(list(zip(src, dst)), 3)
    assert got == want


def test_louvain_finds_planted_communities(spark):
    from pagerank_cuda_dynamic_spark.operators.components import louvain_moves

    # two K5 cliques joined by a single bridge edge
    src, dst = [], []
    for base in (0, 10):
        for i in range(5):
            for j in range(i + 1, 5):
                src.append(base + i)
                dst.append(base + j)
    src.append(4)
    dst.append(10)
    got = {
        r.v: r.community
        for r in louvain_moves(edges_df(spark, src, dst), rounds=4).collect()
    }
    left = {got[v] for v in range(5)}
    right = {got[v] for v in range(10, 15)}
    assert len(left) == 1 and len(right) == 1 and left != right


def test_louvain_improves_modularity_over_singletons(spark):
    from pagerank_cuda_dynamic_spark.operators.components import (
        louvain_moves,
        modularity,
    )

    n = 30
    src, dst = _rand_graph(41, n, 70)
    e = edges_df(spark, src, dst)
    comm = louvain_moves(e, rounds=4)
    verts = e.selectExpr("src as v").union(e.selectExpr("dst as v")).distinct()
    singles = verts.selectExpr("v", "v as community")
    q_comm = modularity(e, comm).collect()[0][0]
    q_single = modularity(e, singles).collect()[0][0]
    assert q_comm > q_single


def test_mis_is_independent_and_maximal(spark):
    from pagerank_cuda_dynamic_spark.operators.graph import (
        maximal_independent_set,
    )

    n = 30
    src, dst = _rand_graph(51, n, 90)
    e = edges_df(spark, src, dst)
    rows = {r.v: r.mis for r in maximal_independent_set(e).collect()}
    pairs = {(s, d) for s, d in zip(src, dst) if s != d}
    und = pairs | {(d, s) for s, d in pairs}
    adj: dict[int, set[int]] = {}
    for s, d in und:
        adj.setdefault(s, set()).add(d)
    # independence: no two MIS vertices adjacent
    for s, d in und:
        assert not (rows[s] and rows[d]), (s, d)
    # maximality: every non-MIS vertex has an MIS neighbor
    for v, in_mis in rows.items():
        if not in_mis:
            assert any(rows[u] for u in adj[v]), v


def test_maximal_matching_properties(spark):
    from pagerank_cuda_dynamic_spark.operators.graph import maximal_matching

    n = 30
    src, dst = _rand_graph(71, n, 90)
    e = edges_df(spark, src, dst)
    rows = maximal_matching(e).collect()
    canon = {(min(s, d), max(s, d)) for s, d in zip(src, dst) if s != d}
    # output covers the canonical simple edge set exactly
    assert {(r.src, r.dst) for r in rows} == canon
    matched = [(r.src, r.dst) for r in rows if r.matched]
    # a matching: no vertex appears in two matched edges
    eps = [v for p in matched for v in p]
    assert len(eps) == len(set(eps))
    # maximal: every unmatched edge has a matched endpoint
    mv = set(eps)
    for r in rows:
        if not r.matched:
            assert r.src in mv or r.dst in mv, (r.src, r.dst)
    # deterministic under relayout
    rows2 = maximal_matching(e.repartition(7)).collect()
    key = lambda r: (r.src, r.dst, r.matched)  # noqa: E731
    assert sorted(map(key, rows2)) == sorted(map(key, rows))


def test_maximal_matching_edge_cases(spark):
    from pagerank_cuda_dynamic_spark.operators.graph import maximal_matching

    # self loop dropped; the single real edge is matched (both directions
    # collapse onto one canonical row)
    e = edges_df(spark, [1, 2, 3], [1, 3, 2])
    rows = maximal_matching(e).collect()
    assert [(r.src, r.dst, r.matched) for r in rows] == [(2, 3, True)]
    # triangle: exactly one edge matched, the other two blocked
    tri = edges_df(spark, [1, 2, 3], [2, 3, 1])
    rows = maximal_matching(tri).collect()
    assert sum(r.matched for r in rows) == 1
    assert len(rows) == 3


def test_weighted_matching_prefers_heavy_edges(spark):
    from pagerank_cuda_dynamic_spark.operators.graph import maximal_matching

    # path 1-2-3: (2,3) is heavier and must win regardless of hash order
    e = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 9)], "src long, dst long, w long"
    )
    rows = {(r.src, r.dst): r.matched for r in
            maximal_matching(e, weight_col="w").collect()}
    assert rows == {(1, 2): False, (2, 3): True}
    # duplicate canonical rows keep their MAX weight: (1,2) seen at w=7
    # (reversed row) and w=3 — 7 beats (2,3)'s 5, so (1,2) must match
    e2 = spark.createDataFrame(
        [(2, 1, 7), (1, 2, 3), (2, 3, 5)], "src long, dst long, w long"
    )
    rows = {(r.src, r.dst): r.matched for r in
            maximal_matching(e2, weight_col="w").collect()}
    assert rows == {(1, 2): True, (2, 3): False}


def test_weighted_matching_is_maximal_and_local_max(spark):
    from pagerank_cuda_dynamic_spark.operators.graph import maximal_matching

    n = 25
    src, dst = _rand_graph(81, n, 70)
    w = [(s * 7 + d * 13) % 20 + 1 for s, d in zip(src, dst)]
    e = spark.createDataFrame(
        list(zip(map(int, src), map(int, dst), w)), "src long, dst long, w long"
    )
    rows = maximal_matching(e, weight_col="w").collect()
    matched = [(r.src, r.dst) for r in rows if r.matched]
    eps = [v for p in matched for v in p]
    assert len(eps) == len(set(eps))  # a matching
    mv = set(eps)
    for r in rows:  # maximal
        if not r.matched:
            assert r.src in mv or r.dst in mv
    # deterministic under relayout
    rows2 = maximal_matching(e.repartition(5), weight_col="w").collect()
    key = lambda r: (r.src, r.dst, r.matched)  # noqa: E731
    assert sorted(map(key, rows2)) == sorted(map(key, rows))


def test_jp_coloring_proper_and_deterministic(spark):
    from pagerank_cuda_dynamic_spark.operators.graph import jp_coloring

    n = 25
    src, dst = _rand_graph(61, n, 80)
    e = edges_df(spark, src, dst)
    col = {r.v: r.color for r in jp_coloring(e).collect()}
    pairs = {(s, d) for s, d in zip(src, dst) if s != d}
    for s, d in pairs:
        assert col[s] != col[d], (s, d)
    # deterministic under relayout
    col2 = {r.v: r.color for r in jp_coloring(e.repartition(7)).collect()}
    assert col2 == col
    # colors are consecutive from 0
    assert min(col.values()) == 0
    assert set(col.values()) == set(range(max(col.values()) + 1))


def test_topological_levels_longest_path(spark):
    from pagerank_cuda_dynamic_spark.operators.graph import topological_levels

    # diamond + a longer arm: level = LONGEST path from a source
    e = edges_df(
        spark,
        [0, 0, 1, 2, 0, 5, 6],
        [1, 2, 3, 3, 5, 6, 3],
    )
    lv = {r.v: r.level for r in topological_levels(e).collect()}
    assert lv == {0: 0, 1: 1, 2: 1, 5: 1, 6: 2, 3: 3}
    # deterministic under relayout
    lv2 = {r.v: r.level for r in topological_levels(e.repartition(7)).collect()}
    assert lv2 == lv


def test_topological_levels_detects_cycles(spark):
    import pytest

    from pagerank_cuda_dynamic_spark.operators.graph import topological_levels

    cyc = edges_df(spark, [0, 1, 2, 3], [1, 2, 0, 0])
    with pytest.raises(ValueError, match="cycle"):
        topological_levels(cyc)
    # a too-low cap on a deep chain raises rather than truncating
    chain = edges_df(spark, [0, 1, 2, 3], [1, 2, 3, 4])
    with pytest.raises(RuntimeError, match="max_rounds"):
        topological_levels(chain, max_rounds=3)
    # self-loops are dropped, not treated as 1-cycles
    sl = edges_df(spark, [0, 1, 1], [1, 2, 1])
    lv = {r.v: r.level for r in topological_levels(sl).collect()}
    assert lv == {0: 0, 1: 1, 2: 2}


def test_temporal_reachability_respects_time(spark):
    import pandas as pd

    from pagerank_cuda_dynamic_spark.operators.graph import temporal_reachability

    # a→b at 5; b→c at 3 is NOT usable after arriving at 5; b→c at 7 is;
    # equal stamps are allowed (non-decreasing); d is unreachable
    e = spark.createDataFrame(
        [("a", "b", 5), ("b", "c", 3), ("b", "c", 7), ("c", "e", 7), ("x", "d", 1)],
        "src string, dst string, seq long",
    )
    seeds = spark.createDataFrame(pd.DataFrame({"v": ["a"]}))
    got = {r.v: r.arrival for r in temporal_reachability(e, seeds, max_hops=5).collect()}
    assert got == {"a": -1, "b": 5, "c": 7, "e": 7}


def test_temporal_reachability_hop_cap_and_min_arrival(spark):
    import pandas as pd

    from pagerank_cuda_dynamic_spark.operators.graph import temporal_reachability

    # chain a→b→c→d (increasing stamps) + a shortcut a→d with a LATER stamp:
    # min arrival at d must take the 3-hop early path when hops allow,
    # the 1-hop late path when capped
    e = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 2), ("c", "d", 3), ("a", "d", 9)],
        "src string, dst string, seq long",
    )
    seeds = spark.createDataFrame(pd.DataFrame({"v": ["a"]}))
    full = {r.v: r.arrival for r in temporal_reachability(e, seeds, max_hops=3).collect()}
    assert full["d"] == 3
    capped = {r.v: r.arrival for r in temporal_reachability(e, seeds, max_hops=1).collect()}
    assert capped["d"] == 9
    # layout invariance
    again = {r.v: r.arrival for r in temporal_reachability(e.repartition(5), seeds, max_hops=3).collect()}
    assert again == full
